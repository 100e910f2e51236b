package graft

import graft.model.Schemas
import graft.operators.EtlPipeline
import graft.sources.TableStore

/** End-to-end ETL flow (SURVEY §3.1): diff → upsert → 8 extract branches,
  * including incremental-rerun semantics the reference implements via D2.
  */
class EtlPipelineSpec extends SparkSpec {
  import sqlImplicits._

  /** A table's rows, order-free. */
  private def rows(store: TableStore, table: String): Seq[String] =
    store.read(table).collect().map(_.toString).toSeq.sorted

  /** What the store's staging area holds. */
  private def staged(root: String): Seq[String] =
    Option(new java.io.File(s"$root/_staging").list()).toSeq.flatten.sorted

  test("full run, incremental no-op rerun, changed-day replacement") {
    val store = new TableStore(spark, tmpDir("etl"))
    val days = Fixtures.fakeDays :+ Fixtures.fullDay

    // first run: everything is new
    val n1 = EtlPipeline.run(store, spark.createDataset(days))
    assert(n1 == 4)
    assert(store.read("RawDayData").count() == 4)
    assert(store.read("Water").count() == 4)
    assert(store.read("Notes").count() == 3) // empty-body day dropped
    assert(store.read("Meals").count() == 2)
    assert(store.read("MealEntries").count() == 2)
    assert(store.read("CardioExercises").count() == 1)
    assert(store.read("StrengthExercises").count() == 1)
    assert(store.read("Goals").count() == 4)
    assert(store.read("Measurements").count() == 4)

    // rerun unchanged: D2 diff empty, nothing rewritten
    val n2 = EtlPipeline.run(store, spark.createDataset(days))
    assert(n2 == 0)
    assert(store.read("Water").count() == 4)

    // change one day's water: exactly that day is replaced, not duplicated
    val changed = Fixtures.fakeDays.head.copy(water = 777.0)
    val n3 = EtlPipeline.run(store,
      spark.createDataset(changed +: days.tail))
    assert(n3 == 1)
    assert(store.read("Water").count() == 4)
    val w = store.read("Water")
      .where($"date" === java.sql.Date.valueOf("2021-01-01"))
      .collect().map(_.getDouble(2))
    assert(w.toSeq == Seq(777.0))
  }

  test("crash before the RawDayData commit retries to a complete, duplicate-free store") {
    // all nine tables commit under one marker: a crash after the staged
    // writes but before the commit leaves every table untouched, so the
    // retry recomputes the SAME non-empty diff and loads it whole
    val store = new TableStore(spark, tmpDir("etl-crash"))
    val days = Fixtures.fakeDays
    val boom: () => Unit = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException](
      EtlPipeline.run(store, spark.createDataset(days), boom))
    Schemas.tables.keys.foreach { t =>
      assert(store.read(t).count() == 0, s"$t committed without the others")
    }

    val n = EtlPipeline.run(store, spark.createDataset(days))
    assert(n == 3, "retry must see the full diff")
    assert(store.read("RawDayData").count() == 3)
    assert(store.read("Water").count() == 3)
    assert(store.read("Measurements").count() == 3)
  }

  test("diff survives cache eviction between upsert and child loads") {
    // The hazard: upsert atomically swaps away RawDayData — the directory the
    // diff's lineage reads. If the diff were only persist()ed, evicting it
    // here would recompute an empty diff (new store state == incoming) and
    // the child tables would silently miss the changed days. The staged diff
    // has no lineage back to the store, so a full cache wipe must not matter.
    val store = new TableStore(spark, tmpDir("etl-evict"))
    val days = Fixtures.fakeDays :+ Fixtures.fullDay
    val wipeCaches = () => {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    val n = EtlPipeline.run(store, spark.createDataset(days), wipeCaches)
    assert(n == 4)
    assert(store.read("Water").count() == 4)
    assert(store.read("Meals").count() == 2)
    assert(store.read("Measurements").count() == 4)

    // changed-day rerun under the same eviction pressure
    val changed = Fixtures.fakeDays.head.copy(water = 888.0)
    val n2 = EtlPipeline.run(store,
      spark.createDataset(changed +: days.tail), wipeCaches)
    assert(n2 == 1)
    val w = store.read("Water")
      .where($"date" === java.sql.Date.valueOf("2021-01-01"))
      .collect().map(_.getDouble(2))
    assert(w.toSeq == Seq(888.0))
  }

  test("a changed day that loses a section keeps none of its old child rows") {
    // every child load replaces against the DIFF's days, not the days its
    // own extract produces: a day whose new version has no meals, an empty
    // note or one measurement fewer must not keep the old rows
    val store = new TableStore(spark, tmpDir("etl-lost"))
    val day = Fixtures.fullDay.copy(
      measurements = Fixtures.fullDay.measurements + ("Waist" -> 92.0))
    assert(EtlPipeline.run(store, spark.createDataset(Seq(day))) == 1)
    assert(store.read("Measurements").count() == 2)
    val shrunk = day.copy(meals = Seq.empty, exercises = Seq.empty,
      notes = Map("type" -> "food", "body" -> ""),
      measurements = Map("Weight" -> 87.0))
    assert(EtlPipeline.run(store, spark.createDataset(Seq(shrunk))) == 1)
    val expected = Map("RawDayData" -> 1, "Water" -> 1, "Goals" -> 1,
      "Notes" -> 0, "Measurements" -> 1, "Meals" -> 0, "MealEntries" -> 0,
      "CardioExercises" -> 0, "StrengthExercises" -> 0)
    assert(expected.keySet == Schemas.tables.keySet)
    expected.foreach { case (t, n) =>
      assert(store.read(t).count() == n, s"$t rows")
    }
    assert(store.read("Measurements").collect().map(_.getString(2)).toSeq ==
      Seq("Weight"))
  }

  test("one failing branch fails the call after its siblings finish; a fixed retry converges") {
    val root = tmpDir("etl-branch-fail")
    val store = new TableStore(spark, root)
    EtlPipeline.run(store, spark.createDataset(Fixtures.fakeDays))
    val before = Schemas.tables.keys.map(t => t -> rows(store, t)).toMap
    // a goal beyond the int range fails ANSI's cast in the Goals extract
    // and nowhere else: Meals and MealEntries cast their own totals maps
    val bad = Fixtures.fullDay.copy(
      goals = Fixtures.fullDay.goals + ("calories" -> 1e12))
    val edited = Fixtures.fakeDays.map(_.copy(water = 1.0))
    val e = intercept[Exception](
      EtlPipeline.run(store, spark.createDataset(edited :+ bad)))
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf).mkString(" <- ")
    assert(causes.contains("CAST_OVERFLOW"), causes)
    // thrown only after every sibling finished: no job still running and
    // no sibling's staged copy left behind (one still writing after the
    // copies were dropped would leave its own)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(!new java.io.File(root).list().exists(_.contains(".tmp-")),
      "staged copies left behind")
    // nothing committed: all nine tables are as they were
    Schemas.tables.keys.foreach { t =>
      assert(rows(store, t) == before(t), s"$t committed without the others")
    }

    val fixed = edited :+ Fixtures.fullDay
    assert(EtlPipeline.run(store, spark.createDataset(fixed)) == 4)
    val clean = new TableStore(spark, tmpDir("etl-branch-clean"))
    EtlPipeline.run(clean, spark.createDataset(Fixtures.fakeDays))
    EtlPipeline.run(clean, spark.createDataset(fixed))
    Schemas.tables.keys.foreach { t =>
      assert(rows(store, t) == rows(clean, t), s"$t differs from a clean run")
    }
  }

  test("two fresh stores loaded from the same input hold identical rows, ids included") {
    // same-shape days: their staged diff files tie in size, so the ids of
    // MealEntries/CardioExercises/StrengthExercises must not depend on the
    // order a directory listing returns those files in
    val days = (1 to 12).map(i => Fixtures.fullDay.copy(
      date = java.sql.Date.valueOf(java.time.LocalDate.of(2021, 3, i)),
      water = 1000.0 + i))
    def load(): TableStore = {
      val s = new TableStore(spark, tmpDir("etl-determinism"))
      assert(EtlPipeline.run(s, spark.createDataset(days)) == days.size)
      s
    }
    // a few loads: one identical pair can share a listing order by chance
    val a = load()
    for (_ <- 1 to 3; b = load(); t <- Schemas.tables.keys)
      assert(rows(a, t) == rows(b, t), s"$t differs between identical loads")
    assert(rows(a, "MealEntries").size == 2 * days.size)
  }

  test("a failing branch leaves RawDayData's rows as they were and nothing staged") {
    // RawDayData's new copy is written during the fan-out, beside the
    // branches; a failed branch must drop it, not commit or strand it
    val root = tmpDir("etl-branch-staged")
    val store = new TableStore(spark, root)
    EtlPipeline.run(store, spark.createDataset(Fixtures.fakeDays))
    val rawBefore = rows(store, "RawDayData")
    val bad = Fixtures.fullDay.copy(
      goals = Fixtures.fullDay.goals + ("calories" -> 1e12))
    intercept[Exception](EtlPipeline.run(store,
      spark.createDataset(Fixtures.fakeDays.map(_.copy(water = 3.0)) :+ bad)))
    assert(rows(store, "RawDayData") == rawBefore)
    assert(staged(root).isEmpty, "staged copies left behind")
  }

  test("a kill before the RawDayData rename keeps the old copy; the next run sweeps and converges") {
    val root = tmpDir("etl-seam")
    val store = new TableStore(spark, root)
    EtlPipeline.run(store, spark.createDataset(Fixtures.fakeDays))
    val before = Schemas.tables.keys.map(t => t -> rows(store, t)).toMap
    val edited = Fixtures.fakeDays.head.copy(water = 4.0) +: Fixtures.fakeDays.tail
    val killed = tmpDir("etl-seam-killed")
    def stages = new java.io.File(root).list().filter(_.contains(".tmp-")).sorted
    // the seam runs after every table's staging write, before the commit:
    // what it sees is what a kill there would leave
    val atSeam: () => Unit = () => {
      val copies = stages
      // one staged copy per table, beside the 1-day diff under _staging/
      assert(copies.map(_.takeWhile(_ != '.')).toSet == Schemas.tables.keySet)
      assert(staged(root).size == 1)
      assert(spark.read.parquet(s"$root/${copies.find(_.startsWith("RawDayData")).get}")
        .count() == 3, "RawDayData's complete new copy")
      Schemas.tables.keys.foreach { t =>
        assert(rows(store, t) == before(t), s"$t: old copy still read")
      }
      assert(stages.sameElements(copies), "a read disturbed the staged copies")
      copies.foreach(c => graft.backup.Snapshot.copyDir(s"$root/$c", s"$killed/$c"))
      throw new RuntimeException("killed before the commit")
    }
    val e = intercept[RuntimeException](
      EtlPipeline.run(store, spark.createDataset(edited), atSeam))
    // not a failed assertion inside the seam
    assert(e.getMessage == "killed before the commit", e)
    assert(stages.isEmpty, "a failed load must drop its staged copies")
    Schemas.tables.keys.foreach(t => assert(rows(store, t) == before(t), t))

    // put back the staged copies the kill would have left, then re-run
    new java.io.File(killed).list().foreach(c =>
      graft.backup.Snapshot.copyDir(s"$killed/$c", s"$root/$c"))
    assert(stages.length == Schemas.tables.size)
    assert(EtlPipeline.run(store, spark.createDataset(edited)) == 1)
    assert(stages.isEmpty && staged(root).isEmpty, "leftovers not swept")
    val clean = new TableStore(spark, tmpDir("etl-seam-clean"))
    EtlPipeline.run(clean, spark.createDataset(Fixtures.fakeDays))
    EtlPipeline.run(clean, spark.createDataset(edited))
    Schemas.tables.keys.foreach { t =>
      assert(rows(store, t) == rows(clean, t), s"$t differs from a clean run")
    }
  }

  test("a crash inside Water's commit leaves its old rows readable; the re-run equals a clean run") {
    import graft.sources.IndexStore
    val root = tmpDir("etl-swap-crash")
    val store = new TableStore(spark, root)
    EtlPipeline.run(store, spark.createDataset(Fixtures.fakeDays))
    val edited = Fixtures.fakeDays.map(_.copy(water = 5.0))
    val clean = new TableStore(spark, tmpDir("etl-swap-crash-clean"))
    EtlPipeline.run(clean, spark.createDataset(Fixtures.fakeDays))
    EtlPipeline.run(clean, spark.createDataset(edited))
    // kill the commit between Water's two renames
    IndexStore.crashAt = (_ == "swap:Water")
    val e =
      try intercept[Exception](
        EtlPipeline.run(store, spark.createDataset(edited)))
      finally IndexStore.crashAt = _ => false
    assert(e.isInstanceOf[IndexStore.InjectedCrash], e)
    assert(!new java.io.File(s"$root/Water").exists() &&
      new java.io.File(root).list().exists(_.startsWith("Water.old-")),
      "the crash must leave Water parked between the renames")
    // the commit marker was written: the next bare read rolls the whole
    // load forward — Water's new rows and every other table's with them
    val reader = new TableStore(spark, root)
    Schemas.tables.keys.foreach { t =>
      assert(rows(reader, t) == rows(clean, t), s"$t not rolled forward")
    }
    assert(EtlPipeline.run(store, spark.createDataset(edited)) == 0)
    Schemas.tables.keys.foreach { t =>
      assert(rows(store, t) == rows(clean, t), s"$t differs from a clean run")
    }
  }

  test("a crash at any step of the nine-table commit leaves all nine tables old or all new") {
    import graft.sources.IndexStore
    val edited = Fixtures.fakeDays.map(_.copy(water = 6.0)) :+ Fixtures.fullDay
    def load(root: String, days: Seq[graft.model.MaterializedDay]) = {
      val s = new TableStore(spark, root)
      EtlPipeline.run(s, spark.createDataset(days))
      s
    }
    def snapshot(s: TableStore) = Schemas.tables.keys.map(t => t -> rows(s, t)).toMap
    val old = snapshot(load(tmpDir("etl-commit-old"), Fixtures.fakeDays))
    val cleanRoot = tmpDir("etl-commit-new")
    load(cleanRoot, Fixtures.fakeDays)
    val fresh = snapshot(load(cleanRoot, edited))
    assert(Schemas.tables.keys.forall(t => old(t) != fresh(t)),
      "the edit must change every table, or old and new cannot be told apart")
    // "staged" is before the marker; "marker" right after it; then each
    // table's swap, between its two renames
    val steps = Seq("staged", "marker") ++ Schemas.tables.keys.toSeq.sorted.map("swap:" + _)
    steps.foreach { step =>
      val root = tmpDir("etl-commit-crash")
      val store = load(root, Fixtures.fakeDays)
      IndexStore.crashAt = (_ == step)
      try intercept[IndexStore.InjectedCrash](
        EtlPipeline.run(store, spark.createDataset(edited)))
      finally IndexStore.crashAt = _ => false
      val seen = snapshot(new TableStore(spark, root))
      val want = if (step == "staged") old else fresh
      Schemas.tables.keys.foreach { t =>
        assert(seen(t) == want(t), s"[$step] $t is neither all-old nor all-new")
      }
      EtlPipeline.run(store, spark.createDataset(edited))
      Schemas.tables.keys.foreach { t =>
        assert(rows(store, t) == fresh(t), s"[$step] $t: re-run differs from a clean run")
      }
      assert(new java.io.File(root).list().forall(n =>
        !n.contains(".tmp-") && !n.contains(".old-") && !n.startsWith("_commit-")),
        s"[$step] leftovers after the re-run")
    }
  }

  test("the changed-day count is exact: bulk, one edited day, identical re-run, empty input, micro-batch") {
    val days = (1 to 20).map(i => Fixtures.fullDay.copy(
      date = java.sql.Date.valueOf(java.time.LocalDate.of(2021, 4, i)),
      water = 100.0 * i))
    val store = new TableStore(spark, tmpDir("etl-count"))
    assert(EtlPipeline.run(store, spark.createDataset(days)) == 20)
    val edited = days.updated(7, days(7).copy(water = 1.0))
    assert(EtlPipeline.run(store, spark.createDataset(edited)) == 1)
    assert(EtlPipeline.run(store, spark.createDataset(edited)) == 0)
    assert(EtlPipeline.run(store,
      spark.createDataset(Seq.empty[graft.model.MaterializedDay])) == 0)

    // the same load inside a Structured Streaming micro-batch
    val streamed = new TableStore(spark, tmpDir("etl-count-stream"))
    streamed.init()
    def ingest(wave: Seq[graft.model.MaterializedDay]): Seq[Long] = {
      val dir = tmpDir("etl-count-wave")
      graft.sources.DaySource.writeJsonl(spark.createDataset(wave), dir)
      val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      spark.readStream.schema(graft.sources.DaySource.daySchema).json(dir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          counts.add(EtlPipeline.load(streamed,
            graft.operators.Extractors.serializeDays(batch)))
          ()
        }
        .option("checkpointLocation", tmpDir("etl-count-ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      counts.toArray.toSeq.map(_.asInstanceOf[Long])
    }
    assert(ingest(days) == Seq(20L))
    assert(ingest(edited) == Seq(1L))
    assert(ingest(edited) == Seq(0L))
    assert(streamed.read("RawDayData").count() == 20)
  }

  test("an identical re-run submits only the staging write's jobs") {
    val store = new TableStore(spark, tmpDir("etl-rerun-jobs"))
    EtlPipeline.run(store, spark.createDataset(Fixtures.fakeDays :+ Fixtures.fullDay))
    var n = -1L
    val jobs = jobsIn {
      n = EtlPipeline.run(store, spark.createDataset(Fixtures.fakeDays :+ Fixtures.fullDay))
    }
    assert(n == 0)
    assert(jobs == 2, s"$jobs jobs")
  }
}
