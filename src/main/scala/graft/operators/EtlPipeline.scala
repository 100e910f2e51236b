package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions.{count, lit}

import graft.model.{MaterializedDay, Schemas}
import graft.sources.{DirSwap, Overlap, TableStore}

/** The ETL flow (reference flows.py:17-124, SURVEY §3.1):
  *
  *   Dataset[MaterializedDay] → D1 canonical JSON → D2 change-detection
  *   anti-join vs stored RawDayData → stage (and count) the small diff → D3
  *   re-parse → 8 extract branches (D4–D12) + M1's new copy, concurrently.
  *
  * Fan-out: like the reference's one task per child table (flows.py:75-122),
  * each write runs on its own driver thread ([[Overlap.jobs]]), so one
  * table's planning, commit and renames overlap the others' tasks; M1, the
  * largest write of a small change, starts first. The reference loads
  * MealEntries after Meals (flows.py:99-104) for its FK check; the engine
  * enforces no FK on write, so they load side by side.
  *
  * Shared key set: every branch replaces against the diff's (userid, date)
  * keys, not the days its own extract yields, so a changed day that lost
  * its meals, note, exercises or a measurement keeps none of the old rows.
  *
  * Commit order: M1's copy is staged under `_staging/` and renamed into
  * place LAST, after every branch has joined (a failing branch throws only
  * once its siblings finish); a failure deletes it, a kill leaves it for
  * the next `init`. The diff keys on RawDayData content, so a crash before
  * the rename leaves the re-run the same non-empty diff and it repeats the
  * idempotent per-day child loads; parent-first would leave them stale.
  *
  * The diff is STAGED (written to parquet and re-read, [[TableStore.stage]]),
  * not persisted: the M1 rename swaps away the directory the diff's lineage
  * reads, so an evicted cache would recompute an empty diff. The reference
  * has the same invariant by construction — it re-parses the in-memory
  * diff, never the DB (flows.py:66-74). Each branch parses the few-KB
  * staged diff itself; a shared cache would be rebuilt by every branch
  * that found it not yet materialized.
  */
object EtlPipeline {

  /** The eight child loads, each (table, extract over the parsed diff). */
  private val children: Seq[(String, DataFrame => DataFrame)] = Seq(
    "Notes" -> Extractors.extractNotes,
    "Water" -> Extractors.extractWater,
    "Goals" -> Extractors.extractGoals,
    "Meals" -> Extractors.extractMeals,
    "MealEntries" -> Extractors.extractMealEntries,
    "CardioExercises" -> Extractors.extractCardio,
    "StrengthExercises" -> Extractors.extractStrength,
    "Measurements" -> (parsed => Extractors.extractMeasurements(parsed)
      .dropDuplicates(Schemas.tables("Measurements")._2)))

  def run(store: TableStore, days: Dataset[MaterializedDay],
          afterUpsert: () => Unit = () => ()): Long = {
    store.init()
    load(store, Extractors.serializeDays(days.toDF()), afterUpsert)
  }

  /** Diff `serialized` days (D1 output: userid, date, rawdaydata) against
    * the store and load the changed ones — the one load path behind batch
    * [[run]] and the streaming ETL. Returns the number of changed days.
    * `afterUpsert` is a test seam between the child loads and M1's rename. */
  def load(store: TableStore, serialized: DataFrame,
           afterUpsert: () => Unit = () => ()): Long = {
    val changed = Observation()
    val (diff, dropStaged) = store.stage(Extractors.changedDays(serialized,
      store.read("RawDayData")).observe(changed, count(lit(1)).as("n")))
    var raw: Option[DirSwap.Staged] = None
    try {
      val nChanged = changed.get("n").asInstanceOf[Long]
      if (nChanged > 0) {
        val parsed = Extractors.deserializeDays(diff)
        Overlap.jobs((() => raw = Some(store.stageUpsert("RawDayData", diff))) +:
          children.map { case (table, extract) =>
            () => store.replaceDays(table, extract(parsed), diff)
          }: _*)
        afterUpsert()
        raw.get.commit() // M1 — the commit marker
      }
      nChanged
    } finally { raw.foreach(_.discard()); dropStaged() }
  }
}
