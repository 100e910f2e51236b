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
    // RawDayData is upserted LAST as the commit marker: a crash after the
    // child loads leaves the parent untouched, so the retry recomputes the
    // SAME non-empty diff and re-runs the idempotent child loads. The old
    // parent-first ordering made the retry's diff empty — children stale
    // forever with no error.
    val store = new TableStore(spark, tmpDir("etl-crash"))
    val days = Fixtures.fakeDays
    val boom: () => Unit = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException](
      EtlPipeline.run(store, spark.createDataset(days), boom))
    assert(store.read("RawDayData").count() == 0, "commit marker not written")
    assert(store.read("Water").count() == 3, "children were loaded pre-crash")

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
    val store = new TableStore(spark, tmpDir("etl-branch-fail"))
    EtlPipeline.run(store, spark.createDataset(Fixtures.fakeDays))
    val rawBefore = rows(store, "RawDayData")
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
    // each sibling's load of the new day already swapped in (so Goals was
    // the only branch that failed)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    val badDay = java.sql.Date.valueOf("2021-02-01")
    val siblings = Map("Notes" -> 1, "Water" -> 1, "Meals" -> 2,
      "MealEntries" -> 2, "CardioExercises" -> 1, "StrengthExercises" -> 1,
      "Measurements" -> 1)
    siblings.foreach { case (t, n) =>
      assert(store.read(t).where($"date" === badDay).count() == n, t)
    }
    assert(store.read("Goals").where($"date" === badDay).count() == 0)
    assert(rows(store, "RawDayData") == rawBefore, "commit marker untouched")

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
}
