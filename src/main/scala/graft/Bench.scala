package graft

/** Benchmark main: runs every catalog query against SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is materialized through the noop sink so
  * the full plan executes (a bare count() would let Catalyst prune the
  * projections being measured).
  *
  * Per-query regression tracking: if `bench_baseline.json` (override via
  * SPARK_GRAFT_BASELINE) exists and was recorded at the same sf dir, the
  * output carries a `regressions` map — queries ≥2× their baseline time
  * AND ≥0.5 s absolute. Thresholds are calibrated to this box's measured
  * run-to-run noise (identical code has shown 1.7× swings under transient
  * load); a flagged query is therefore worth believing. Set
  * SPARK_GRAFT_UPDATE_BASELINE=1 to (re)write the baseline from this run.
  */
object Bench {

  private[graft] def parseBaseline(path: String): Option[(String, Map[String, Double])] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) return None
    // a JSON parser: every valid spelling (compact or pretty, an escaped
    // sf path) must read back, or the gate silently stops comparing
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          System.err.println(s"[bench] unreadable baseline $path: ${e.getMessage}")
          return None
      }
    Option(root.get("sf")).filter(_.isTextual).map { sf =>
      import scala.jdk.CollectionConverters._
      sf.asText() -> Option(root.get("queries")).toSeq
        .flatMap(_.properties().asScala)
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    }
  }

  /** The regression-flag predicate, factored out so BenchSpec can pin the
    * formula itself: ≥2× the baseline AND ≥0.5 s absolute growth.
    */
  private[graft] def isRegression(t: Double, base: Double): Boolean =
    t >= base * 2.0 && t - base >= 0.5

  /** The compact LAST stdout line (driver contract repair, r18): the full
    * one-line JSON above is ~6 KB for 171 queries and the round driver
    * captures only a ~2 KB stdout TAIL, so its head — `"metric"`,
    * `"value"`, most of the queries map — was clipped and BENCH_r15/16/17
    * all recorded `parsed: null`. This roll-up stays well under 500 bytes
    * at any catalog size, so it always survives the capture window; the
    * per-query map still rides the full line and (canonically)
    * `bench_metrics.json`. Additions-only: the full line keeps printing
    * first, so nothing that parsed before stops parsing. */
  private[graft] def summaryLine(totalStr: String, n: Int, sfDir: String,
                                 cpus: String, matched: Option[Int],
                                 nFlags: Int, nFailed: Int): String =
    Json.obj(Seq("metric" -> Json.str("total"), "value" -> totalStr,
      "unit" -> Json.str("sec"), "n" -> n.toString, "sf" -> Json.str(sfDir),
      "cpus" -> cpus.trim.toIntOption.map(_.toString)
        .getOrElse(Json.str(cpus))) ++
      matched.map(m => "baseline_matched" -> m.toString) ++
      Seq("n_flags" -> nFlags.toString, "n_failed" -> nFailed.toString,
        "detail" -> Json.str("bench_metrics.json")))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_SHUFFLE (default = cores): post-shuffle partition count.
    // Partition count must scale with data volume, not core count — the
    // fit-in-memory band is ~100-200 MB per post-shuffle partition, and at
    // the 1000x stress decade (600M lineitem rows) cores-many partitions
    // are ~19M rows each, pushing every wide stage into disk spill. A real
    // cluster scales both memory and partition count with the data; stress
    // runs emulate that here (e.g. SPARK_GRAFT_SHUFFLE=256 at 1000x) while
    // the driver's sf0.1 gate keeps the cores default.
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE") match {
      case None => cpus
      case Some(v) => v.trim.toIntOption.filter(_ >= 1).map(_.toString)
        .getOrElse(sys.error(
          s"SPARK_GRAFT_SHUFFLE must be an integer >= 1, got '$v'"))
    }
    val spark = LocalSession(cpus, shuffle)
    // untimed warmup: JVM/codegen/parquet-footer costs land here, not on
    // whichever query happens to run first
    try SparkEntry.queries.get("q18_topk")
      .foreach(_(spark, sfDir).write.mode("overwrite").format("noop").save())
    catch { case _: Throwable => }
    // A failed query must NOT record a (near-zero) time: it would poison a
    // rewritten baseline and flip the regression gate's meaning. Failures
    // are reported separately and excluded from timings and baseline.
    val failed = Seq.newBuilder[String]
    // every attempt's time, not just the min: the discarded attempt is the
    // evidence that adjudicates future regression flags (it samples this
    // box's drift distribution on known-identical code). Disk-twin only —
    // see the capture-window note below.
    val allAttempts = Seq.newBuilder[(String, Seq[Double])]
    // SPARK_GRAFT_QUERIES=q19_…,q22_… times a named subset (stress runs on
    // scaled-up data); unset = the whole catalog, the driver's mode
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = subset match {
      case Some(names) =>
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown queries: $unknown")
        SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }
    // SPARK_GRAFT_PLANS=<dir>: dump each query's FINAL adaptive executed
    // plan to <dir>/<name>.txt after it runs — evidence files for scale
    // audits (AQE decisions only exist post-execution), kept off stdout
    val planDir = sys.env.get("SPARK_GRAFT_PLANS")
    planDir.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    // SPARK_GRAFT_RUNS (default 2): time each query N times, record the
    // MIN. This box's run-to-run drift under transient load has measured
    // 1.3-5x on identical code (NOTES_r07); a single-shot reading is mostly
    // a load sample. The min of two back-to-back runs discards one-off
    // spikes and the per-query first-run codegen cost while staying an
    // honest end-to-end execution (plan + shuffle + sink every time).
    // toIntOption so a malformed value fails with the friendly message,
    // not a bare NumberFormatException before the bound check
    val runs = sys.env.get("SPARK_GRAFT_RUNS") match {
      case None => 2
      case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"SPARK_GRAFT_RUNS must be an integer >= 1, got '$v'"))
    }
    val results = selected.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          // fn() runs INSIDE the timer each attempt: some queries do eager
          // work there by design (q65's bucketed table writes, q14's store
          // upsert — all idempotent), and that cost is part of the number.
          val attempts = (1 to runs).map { i =>
            // guide §1.5: label every job so the UI/event log maps stages
            // back to the query (and attempt) that launched them
            spark.sparkContext.setJobDescription(s"$name attempt $i")
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            df.write.mode("overwrite").format("noop").save()
            (df, (System.nanoTime() - t0) / 1e9)
          }
          val (df, dt) = attempts.minBy(_._2)
          allAttempts += name -> attempts.map(_._2)
          planDir.foreach { d =>
            // drive THIS QueryExecution so AQE finalizes (the noop write
            // above ran its own); the extra pass is untimed audit cost.
            // A dump failure must not reclassify the already-timed
            // success as a failed query — warn and keep the timing.
            try {
              df.queryExecution.toRdd.count()
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(d, s"$name.txt"),
                df.queryExecution.executedPlan.toString)
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name plan dump failed: ${e.getMessage}")
            }
          }
          // Shuffle files of finished queries are reclaimed by Spark's
          // ContextCleaner only when their RDD/shuffle objects are GC'd;
          // under a stress-sized heap (SPARK_DRIVER_MEM=64g at the 1000x
          // decade) there is no allocation pressure, the cleaner never
          // fires, and per-query shuffle residue accumulates across the
          // run until the disk fills (observed: 5 queries x 600M rows
          // left ~60 GB of dead shuffle files, ENOSPC on the 6th).
          // Deterministic reclaim between queries — untimed, millisecond
          // cost at the driver's sf0.1 gate scale.
          System.gc()
          Some(name -> dt)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed += name
            None
        }
    }
    // 4-decimal times (0.1 ms) — full Double.toString repr made the line
    // ~3.1 KB, overflowing the round driver's ~2.6 KB output-tail capture
    // window (BENCH_r05 parsed: null, q01–q05 clipped); at 4 decimals the
    // whole line fits. Locale.ROOT as in the regression map below.
    def fmt(pattern: String, v: Double) =
      String.format(java.util.Locale.ROOT, pattern, Double.box(v))
    val qs = Json.obj(results.map { case (k, v) => k -> fmt("%.4f", v) })
    val total = results.map(_._2).sum

    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      "bench_baseline.json")
    // (matched, flag strings) when a same-sf baseline parsed — kept as
    // data so both the full line and the compact summary line can ride it
    val gate: Option[(Int, Seq[(String, String)])] = parseBaseline(baselinePath) match {
      case Some((baseSf, base)) if baseSf == sfDir =>
        // liveness receipt: how many timed queries the gate actually
        // compared. 0 (or an absent field) means the gate did NOT run —
        // the r10–r13 failure mode was an unparseable baseline making
        // "no regressions" indistinguishable from "didn't look".
        val matched = results.count { case (name, _) => base.contains(name) }
        val slow = results.collect {
          case (name, t) if base.get(name).exists(isRegression(t, _)) =>
            // Locale.ROOT: a comma-decimal default locale would emit
            // "q22":1,53 and break the JSON line
            name -> fmt("%.2f", t / base(name))
        }
        Some((matched, slow))
      case _ => None
    }
    val gateFields = gate.toSeq.flatMap { case (matched, slow) =>
      // regressions map omitted when empty — every byte counts against
      // the capture window — but the matched count always rides
      ("baseline_matched" -> matched.toString) +:
        (if (slow.isEmpty) Nil else Seq("regressions" -> Json.obj(slow)))
    }
    val failedNames = failed.result()
    val totalStr = fmt("%.4f", total)
    val fields = Seq("metric" -> Json.str("total"), "value" -> totalStr,
      "unit" -> Json.str("sec"), "queries" -> qs, "sf" -> Json.str(sfDir)) ++
      gateFields ++
      (if (failedNames.isEmpty) Nil
       else Seq("failed" -> failedNames.map(Json.str).mkString("[", ",", "]")))
    println(Json.obj(fields))
    // capture-proof twin: the driver reads stdout through a bounded tail
    // window (~2 KB — BENCH_r07's capture already clips the line head at
    // 77 queries), so the canonical copy of every run's metrics lands on
    // disk where nothing can clip it. The per-attempt times ride ONLY
    // here: an attempts map on stdout would push the queries map out of
    // the capture window entirely (the BENCH_r05 failure mode).
    val att = Json.obj(allAttempts.result().map { case (k, ts) =>
      k -> ts.map(fmt("%.4f", _)).mkString("[", ",", "]")
    })
    // atomic publish: write-temp + ATOMIC_MOVE, so a reader (or a killed
    // run) can never observe a half-written metrics file
    val metricsTmp = java.nio.file.Paths.get(
      "bench_metrics.json.tmp-" + java.util.UUID.randomUUID())
    java.nio.file.Files.writeString(metricsTmp,
      Json.obj(fields :+ ("attempts" -> att)) + "\n")
    java.nio.file.Files.move(metricsTmp,
      java.nio.file.Paths.get("bench_metrics.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the compact roll-up prints LAST so it always lands inside the
    // driver's bounded stdout-tail capture (see summaryLine's scaladoc)
    println(summaryLine(totalStr, results.size, sfDir, cpus,
      gate.map(_._1), gate.map(_._2.size).getOrElse(0), failedNames.size))
    // a subset run must never clobber the full-catalog baseline
    if (sys.env.get("SPARK_GRAFT_UPDATE_BASELINE").contains("1") &&
        subset.isEmpty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(baselinePath),
        Json.obj(Seq("queries" -> qs, "sf" -> Json.str(sfDir))))
    spark.stop()
  }
}
