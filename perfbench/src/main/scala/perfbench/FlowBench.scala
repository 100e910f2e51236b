package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, octet_length, sum}

import graft.api.Api
import graft.model.MaterializedDay
import graft.reports.EmailSink

/** The paper-flow benchmark: drives the reference's three flows (ETL with
  * change-detection upsert, the progress-report email, backup with FIFO
  * rotation) through the public `graft.api.Api` as one closed-loop client
  * and writes one JSON result.
  *
  * Usage: FlowBench --workload <etl_bulk|daily> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> --out <file> --cores <n>
  *
  * Both workloads run all three flows, so every end-to-end metric has
  * samples on both; they differ in what one ETL call is (BENCHMARK.md):
  *   - etl_bulk: each cycle bulk-loads a cohort's year into an EMPTY store,
  *     re-runs the identical input, then reports and backs up;
  *   - daily: a larger history is preloaded in set-up; each step is one
  *     user's 6-day window ending at a new day, its identical re-runs,
  *     reports and a backup.
  */
object FlowBench {

  val Days = 365
  /** etl_bulk: users per cohort, 1,460 days per bulk load. */
  val BulkUsers = 4
  /** daily: users preloaded, 3,650 days of history. */
  val HistoryUsers = 10
  /** The reference's default ETL window (tasks.py:260-262). */
  val Window = 6
  val MaxBackups = 5
  /** Identical re-runs after each ETL call. */
  val Rescans = 2
  /** Reports per etl_bulk cycle or daily step. The first one after an ETL
    * call reads freshly rewritten tables and runs slower than the rest, so
    * the median is a report on a settled store. */
  val Reports = 3
  /** Repetitions of input generation in set-up; its median counts. */
  val SetupReps = 3
  /** Untimed warm-up: JIT, codegen and Parquet paths of every call. */
  val WarmUp = 1
  /** Rounds measured even when one round outlasts --seconds, so every run
    * has at least two samples of each call. */
  val MinRounds = 2

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val a = Args(get("--workload"), get("--seed").toLong,
      get("--seconds").toInt, get("--trace") == "1", get("--work"),
      get("--out"), get("--cores").toInt)
    require(Set("etl_bulk", "daily")(a.workload),
      s"unknown workload ${a.workload}")
    require(a.seconds >= 1 && a.cores >= 1, "seconds and cores must be >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val trace = if (!a.trace) None else {
      val t = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    }
    try new FlowBench(a, trace, sessionS).run()
    finally spark.stop()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Using.resource(Files.walk(p)) { w =>
      w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p)) Using.resource(Files.walk(p)) { w =>
      w.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

final class FlowBench(a: FlowBench.Args, trace: Option[Trace],
                      sessionS: Double)(implicit spark: SparkSession) {
  import FlowBench._
  import spark.implicits._

  private val work = Paths.get(a.work)
  private val backups = work.resolve("backups")
  private val mail = new EmailSink.FileTransport(work.resolve("mail").toString)
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted = 0L
  private var failed = 0L
  private var setupFailed = 0L
  private var setupS = Double.NaN
  private var opId = 0
  private var storeSeq = 0
  private var backupSeq = 0
  // per-layer inputs the program does not report itself
  private var etlInputDays = 0L
  private var etlChangedDays = 0L
  private var reportRows = 0L
  private var snapshotBytes = 0L
  private var jsonBytesPerDay = Double.NaN

  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private def span[A](name: String)(body: => A): A =
    trace.fold(body)(_.span(name, opId)(body))

  private def fail(what: String, e: Throwable = null): Unit = {
    failed += 1
    System.err.println(s"perfbench: FAILED $what" +
      Option(e).fold("")(x => s": $x"))
    if (e != null) e.printStackTrace()
  }

  /** Times one call into the program, then checks its result outside the
    * timed region. Only correct calls contribute a sample. */
  private def timed[A](kind: String)(body: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(span(kind)(body)) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    r match {
      case Left(e) => fail(kind, e); None
      case Right(v) if !ok(v) => fail(s"$kind: wrong result $v"); None
      case Right(v) => sample(kind, dt); Some(v)
    }
  }

  /** One table store plus what the checks need to know about it: each
    * user's latest day and the revision of every edited day. */
  private final class Flow {
    storeSeq += 1
    val root: Path = work.resolve(s"store-$storeSeq")
    val api = new Api(root.toString)
    private val latest = mutable.Map.empty[Int, Int]
    private val revs = mutable.Map.empty[(Int, Int), Int]

    /** One ETL call, then identical re-runs, which must change nothing. */
    def etl(days: Dataset[MaterializedDay], n: Long, changed: Long): Unit = {
      timed("etl")(api.runEtl(days))(_ == changed)
      (1 to Rescans).foreach(_ => timed("rescan")(api.runEtl(days))(_ == 0L))
      etlInputDays += (1 + Rescans) * n
      etlChangedDays += changed
    }

    def load(users: Range, history: Dataset[MaterializedDay]): Unit = {
      etl(history, users.size.toLong * Days, users.size.toLong * Days)
      users.foreach(latest(_) = Days - 1)
    }

    /** One user's window ending at their next new day; the plan edits an
      * earlier day of about one window in ten. */
    def window(u: Int, edit: Int): Unit = {
      val last = latest(u) + 1
      if (edit > 0) revs((u, last - edit)) = revs.getOrElse((u, last - edit), 0) + 1
      val days = (last - Window + 1 to last)
        .map(i => DiaryGen.day(a.seed, u, i, revs.getOrElse((u, i), 0)))
      etl(days.toDS(), Window, if (edit > 0) 2L else 1L)
      latest(u) = last
    }

    /** The report flow for `u` on the morning after their latest day. */
    def report(u: Int): Unit = {
      val dayNo = latest(u) + 1
      timed("report")(api.runProgressReportEmail(DiaryGen.user(u),
        DiaryGen.Start.toString, DiaryGen.user(u), mail,
        today = DiaryGen.localDate(dayNo))) {
        case Some(e) =>
          e.subject == s"MyfitnessPaw Progress Report (Day $dayNo)" &&
            e.attachments.size == 1 &&
            e.htmlBody.exists(_.contains(s">$dayNo</td>"))
        case None => false
      }.foreach(_ => reportRows += dayNo)
    }

    /** The backup flow. Each backup is dated a day later than the last, so
      * rotation keeps the newest MaxBackups snapshots. */
    def backup(): Unit = {
      backupSeq += 1
      val today = LocalDate.of(2030, 1, 1).plusDays(backupSeq.toLong)
      val victims = if (backupSeq > MaxBackups) 1 else 0
      timed("backup")(api.runBackup(backups.toString, today, MaxBackups)) { v =>
        v.size == victims &&
          backups.toFile.list().length == math.min(backupSeq, MaxBackups)
      }.foreach { _ =>
        if (trace.isDefined) snapshotBytes += dirBytes(
          backups.resolve(graft.backup.Snapshot.backupName(today)))
      }
    }

    /** Bytes in the store directory per byte of canonical day JSON held. */
    def spaceAmp(): Unit = {
      val (json, days) = api.store.read("RawDayData")
        .agg(sum(octet_length(col("rawdaydata"))), count("*"))
        .as[(Long, Long)].head()
      jsonBytesPerDay = json.toDouble / days
      sample("space_amp", dirBytes(root).toDouble / json)
    }

    def drop(): Unit = deleteDir(root)
  }

  // ---------------- workloads ----------------

  private def runBulk(): Unit = {
    var cohort: Dataset[MaterializedDay] = null
    val users = 0 until BulkUsers
    def cycle(): Unit = {
      opId += 1
      val plan = new DiaryGen.Plan(a.seed + opId, users)
      val f = new Flow
      span("cycle") {
        f.load(users, cohort)
        (1 to Reports).foreach(_ => f.report(plan.next()._1))
        f.backup()
      }
      f.spaceAmp()
      f.drop()
    }
    setup(
      () => cohort = DiaryGen.history(a.seed, users, Days).toDS(),
      () => (1 to WarmUp).foreach(_ => cycle()))
    measure(cycle)
  }

  private def runDaily(): Unit = {
    var history: Dataset[MaterializedDay] = null
    var f: Flow = null
    val users = 0 until HistoryUsers
    val plan = new DiaryGen.Plan(a.seed, users)
    def step(): Unit = {
      opId += 1
      span("step") {
        val (u, edit) = plan.next()
        f.window(u, edit)
        (0 until Reports).foreach(k => f.report((u + k) % HistoryUsers))
        f.backup()
      }
    }
    setup(
      () => history = DiaryGen.history(a.seed, users, Days).toDS(),
      { () =>
        f = new Flow
        span("preload")(f.load(users, history))
        (1 to WarmUp).foreach(_ => step())
      })
    measure(step)
    f.spaceAmp()
  }

  // ---------------- run ----------------

  /** Set-up time is the JVM and session start, plus the median of
    * SetupReps input generations, plus building the starting store and the
    * warm-up. Samples taken during set-up are discarded. */
  private def setup(generate: () => Unit, start: () => Unit): Unit = {
    val x = DiaryGen.history(a.seed, 0 until 3, 30)
    val y = DiaryGen.history(a.seed + 1, 0 until 3, 30)
    if (DiaryGen.shape(x) != DiaryGen.shape(y) || x == y ||
        x != DiaryGen.history(a.seed, 0 until 3, 30))
      fail("generator: seeds must change values, not shapes")
    val gens = (1 to SetupReps).map(_ => secs(generate()))
    val startS = secs(start())
    setupS = sessionS + median(gens) + startS
    System.err.println(f"perfbench: set-up $setupS%.2f s = session $sessionS%.2f" +
      f" + generate ${gens.map(g => f"$g%.2f").mkString("/")} + start $startS%.2f")
    setupFailed += failed
    samples.clear(); attempted = 0; failed = 0
    etlInputDays = 0; etlChangedDays = 0; reportRows = 0
    snapshotBytes = 0
    trace.foreach(_.spans.clear())
  }

  /** JVM-wide garbage-collection time so far, in seconds. */
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private var gcShare = Double.NaN

  private def measure(body: () => Unit): Unit = {
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val end = t0 + a.seconds * 1000000000L
    var n = 0
    do { body(); n += 1 } while (n < MinRounds || System.nanoTime() < end)
    gcShare = (gcSeconds() - gc0) / ((System.nanoTime() - t0) / 1e9)
    System.err.println(f"perfbench: measured ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rounds")
  }

  def run(): Unit = {
    a.workload match {
      case "etl_bulk" => runBulk()
      case "daily" => runDaily()
    }
    val e2e = endToEnd()
    val metrics = trace.fold(e2e) { t =>
      t.drain()
      Files.write(Paths.get(a.out + ".spans.jsonl"),
        (t.spansJsonLines.mkString("\n") + "\n").getBytes("UTF-8"))
      Files.writeString(Paths.get(a.out + ".traced_e2e.json"), json(e2e))
      perLayer(t)
    }
    val correct = failed == 0 && setupFailed == 0 &&
      metrics.forall { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
    Files.writeString(Paths.get(a.out),
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":${json(metrics)}}""")
  }

  private def json(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  private def med(k: String) = median(samples.getOrElse(k, Nil).toSeq)


  private def endToEnd(): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "etl_p50_s" -> (med("etl"), "s"),
    "rescan_p50_s" -> (med("rescan"), "s"),
    "report_p50_s" -> (med("report"), "s"),
    "space_amp" -> (med("space_amp"), "ratio"))

  private def perLayer(t: Trace): Seq[(String, (Double, String))] = {
    val kinds = Seq("etl", "rescan", "report")
    val tot = (kinds :+ "backup").map(k => k -> t.totals(k)).toMap
    val etl = Seq(tot("etl"), tot("rescan"))
    val calls = etl.map(_.n).sum.toDouble
    val stages = etl.flatMap(_.stages)
    val writes = etl.flatMap(_.execs).filter(_.target.nonEmpty)
    val tableWrites = writes.filterNot(_.target.contains("/_staging/"))
    def cpu(site: String) =
      stages.filter(_.site == site).map(_.cpuNs).sum / 1e9 / calls
    val rep = tot("report")
    val bak = tot("backup")
    val exec = kinds.flatMap { k =>
      val x = tot(k)
      val n = x.n.toDouble
      val st = x.stages
      val cpuS = st.map(_.cpuNs).sum / 1e9
      Seq(
        s"exec.$k.task_run_s" -> (st.map(_.runMs).sum / 1e3 / n, "s"),
        s"exec.$k.task_cpu_s" -> (cpuS / n, "s"),
        s"exec.$k.cpu_util" -> (cpuS / (x.wallS * a.cores), "ratio"),
        s"exec.$k.shuffle_read_bytes" -> (st.map(_.shuffleRead).sum / n, "bytes"),
        s"exec.$k.shuffle_write_bytes" -> (st.map(_.shuffleWrite).sum / n, "bytes"),
        s"exec.$k.peak_exec_mem_bytes" ->
          (st.map(_.peakMem).foldLeft(0L)(math.max).toDouble, "bytes"),
        s"exec.$k.stages" -> (st.size / n, "count"),
        s"exec.$k.tasks" -> (st.map(_.tasks).sum / n, "count"))
    }
    Seq(
      "etl.jobs" -> (etl.map(_.jobs).sum / calls, "count"),
      "etl.changed_ratio" -> (etlChangedDays.toDouble / etlInputDays, "ratio"),
      "etl.driver_s" -> (etl.map(_.driverS).sum / calls, "s"),
      "etl.task_cpu_s" -> (cpu("EtlPipeline.scala"), "s"),
      "tablestore.task_cpu_s" -> (cpu("TableStore.scala"), "s"),
      "tablestore.bytes_written" -> (writes.map(_.bytes).sum / calls, "bytes"),
      "tablestore.files_written" -> (writes.map(_.files).sum / calls, "count"),
      "tablestore.tables_rewritten" -> (tableWrites.size / calls, "count"),
      "tablestore.write_amp" -> (tableWrites.map(_.bytes).sum /
        (etlChangedDays * jsonBytesPerDay), "ratio"),
      "reports.jobs" -> (rep.jobs.toDouble / rep.n, "count"),
      "reports.catalyst_s" -> (rep.execs.map(_.catalystS).sum / rep.n, "s"),
      "reports.rows_read_per_row" ->
        (rep.stages.map(_.recordsRead).sum.toDouble / reportRows, "ratio"),
      "reports.render_s" -> (rep.driverS / rep.n, "s"),
      "snapshot.s" -> (bak.wallS / bak.n, "s"),
      "snapshot.bytes_copied" -> (snapshotBytes.toDouble / bak.n, "bytes"),
      "jvm.gc_share" -> (gcShare, "ratio")
    ) ++ exec
  }
}
