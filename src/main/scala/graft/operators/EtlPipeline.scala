package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions.{count, lit}

import graft.model.{MaterializedDay, Schemas}
import graft.sources.TableStore

/** The ETL flow (reference flows.py:17-124, SURVEY §3.1):
  *
  *   Dataset[MaterializedDay] → D1 canonical JSON → D2 change-detection
  *   anti-join vs stored RawDayData → stage (and count) the small diff → D3
  *   re-parse → 8 extract branches (D4–D12) + M1's new copy, concurrently.
  *
  * Fan-out: like the reference's one task per child table (flows.py:75-122),
  * each table's next copy is written on its own driver thread
  * ([[TableStore.stageAll]]), so one table's planning and write overlap
  * the others' tasks; M1, the largest write of a small change, starts
  * first. The reference loads MealEntries after Meals (flows.py:99-104)
  * for its FK check; the engine enforces no FK on write, so they load side
  * by side.
  *
  * Shared key set: every branch replaces against the diff's (userid, date)
  * keys, not the days its own extract yields, so a changed day that lost
  * its meals, note, exercises or a measurement keeps none of the old rows.
  *
  * Commit: the nine staged copies commit under ONE marker once every
  * branch has joined ([[graft.sources.DirSwap]]), so a crash leaves all
  * nine tables old or all nine new — the reference's per-table SQLite
  * transactions (tasks.py:124-128), widened to the whole load. A failed
  * branch drops every copy; a kill before the marker leaves them for the
  * next `init` to sweep, and the re-run sees the same diff.
  *
  * The diff is STAGED (written to parquet and re-read, [[TableStore.stage]]),
  * not persisted: the commit swaps away the directory the diff's lineage
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
          beforeCommit: () => Unit = () => ()): Long = {
    store.init()
    load(store, Extractors.serializeDays(days.toDF()), beforeCommit)
  }

  /** Diff `serialized` days (D1 output: userid, date, rawdaydata) against
    * the store and load the changed ones — the one load path behind batch
    * [[run]] and the streaming ETL. Returns the number of changed days.
    * `beforeCommit` is a test seam between the staged writes and their
    * commit. */
  def load(store: TableStore, serialized: DataFrame,
           beforeCommit: () => Unit = () => ()): Long = {
    val changed = Observation()
    val (diff, dropStaged) = store.stage(Extractors.changedDays(serialized,
      store.read("RawDayData")).observe(changed, count(lit(1)).as("n")))
    try {
      val nChanged = changed.get("n").asInstanceOf[Long]
      if (nChanged > 0) {
        val parsed = Extractors.deserializeDays(diff)
        val staged = store.stageAll(
          ("RawDayData" -> (() => store.upserted("RawDayData", diff))) +:
            children.map { case (table, extract) =>
              table -> (() => store.replacedDays(table, extract(parsed), diff))
            }: _*)
        try beforeCommit()
        catch { case e: Throwable => staged.discard(); throw e }
        staged.commit()
      }
      nChanged
    } finally dropStaged()
  }
}
