package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.Schemas

/** Parquet-directory table catalog — the engine's replacement for the
  * reference's SQLite file (reference tasks.py:39-128 SQLiteExecuteMany,
  * sql.py DDL).
  *
  * Layout: `<root>/<TableName>/` parquet dirs, one per Schemas.tables entry.
  * Semantics implemented here (SURVEY §2.9):
  *   - M5 `CREATE TABLE IF NOT EXISTS` → [[init]]: `mkdirs`, no Spark job
  *     ([[read]] passes the declared schema, so an empty dir reads typed)
  *   - M1/M2 `INSERT OR REPLACE` keyed upsert → [[upsert]] (left_anti on the
  *     PK ∪ new, then the atomic commit of [[DirSwap]] — the one genuinely
  *     custom physical piece, SURVEY §4.3)
  *   - M3 child-table reload → [[replaceDays]] (delete-matching-(userid,date)
  *     then insert: the reference's *intent*; its literal append-on-rerun
  *     duplicates child rows — documented divergence, SURVEY §7.5 item 5)
  *   - M4 FK ON DELETE CASCADE → [[cascadeDelete]] (anti-join of every child
  *     against the deleted parent keys; opt-in like PRAGMA foreign_keys)
  *
  * At scale: upsert rewrites only the table it targets; with a
  * date-partitioned layout the anti-join prunes to touched partitions
  * (dynamic partition overwrite is the production variant of the same plan).
  *
  * `partitionByDate` lays every table out Hive-style by date, so the
  * reference's point lookups (`WHERE userid=? AND date=?`, S4/S5) and the
  * report's date-range scan prune to a few directories at 100 TB. Off by
  * default so tiny fixtures don't pay per-day directory overhead.
  *
  * Every write stages each table's next copy at `<table>.tmp-<uuid>` and
  * commits through one [[DirSwap]] marker, so a write spanning several
  * tables ([[cascadeDelete]], the ETL's [[stageAll]]) lands all-or-nothing.
  */
final class TableStore(spark: SparkSession, root: String,
                       partitionByDate: Boolean = false) {

  private def path(table: String) = s"$root/$table"

  /** The day key every table carries: M3 replaces and M4 cascades on it. */
  private val dayKeys = Seq("userid", "date")

  private val rootPath = new Path(root)
  private def fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Idempotent create of every declared table (M5) as a bare directory.
    * The store's writer entry point: it rolls pending commits forward,
    * then sweeps what crashed writes left behind — `_staging/` frames of
    * [[stage]] and every table's unreferenced `.tmp-*` copy, which nothing
    * else deletes (single writer per store: no other write is in flight). */
  def init(): Unit = {
    fs.delete(new Path(s"$root/_staging"), true)
    Schemas.tables.keys.foreach { t =>
      DirSwap.recover(fs, rootPath, t, sweep = true)
      fs.mkdirs(new Path(path(t)))
    }
  }

  def initTable(table: String): Unit = {
    require(Schemas.tables.contains(table), s"unknown table $table")
    DirSwap.recover(fs, rootPath, table)
    fs.mkdirs(new Path(path(table)))
  }

  /** Read a table; empty (typed) result when uninitialized. Recovery runs
    * first: a pending commit is rolled forward, and without the heal a
    * read (or the upsert/replaceDays built on it) issued after a crashed
    * swap would see an absent table, treat it as empty, and the next sweep
    * would discard the stranded .old copy — turning a recoverable crash
    * into permanent loss. */
  def read(table: String): DataFrame = {
    val (schema, _) = Schemas.tables(table)
    DirSwap.recover(fs, rootPath, table)
    if (fs.exists(new Path(path(table)))) spark.read.schema(schema).parquet(path(table))
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  /** S4 literal point-lookup API (reference tasks.py:657-680
    * `mfp_select_raw_days`): for `username` and an explicit date list,
    * exactly one row PER REQUESTED DATE in list order — (userid, date,
    * rawdaydata), with NULL rawdaydata where the store has no row (the
    * reference appends `(username, date, None)` for a missing fetchone).
    * Duplicate dates in the request yield duplicate rows, like the
    * reference's per-date loop.
    *
    * Shape: the reference runs one SELECT per date; here the date list is
    * a literal relation left-outer-joined over ONE scan. The userid
    * predicate pushes into the parquet scan, and with the date-partitioned
    * layout the tiny preserved side prunes the null-producing fact side's
    * partitions (DPP — Catalyst's canPruneRight covers LeftOuter — or the
    * planner's static pruning; PartitionedStoreSpec pins that the scan
    * does not read all partitions), so the lookup touches only the
    * requested days at 100 TB — the same left-outer + null-for-missing
    * semantics q05 oracle-checks. */
  def selectRawDays(username: String,
                    dates: Seq[java.time.LocalDate]): DataFrame = {
    import spark.implicits._
    val want = dates.map(java.sql.Date.valueOf)
      .zipWithIndex.toDF("date", "ord")
    val have = read("RawDayData").where(col("userid") === username)
    want.join(have, Seq("date"), "left_outer")
      .orderBy(col("ord"))
      .select(org.apache.spark.sql.functions.lit(username).as("userid"),
        col("date"), col("rawdaydata"))
  }

  /** Plain append (reference M3 literal semantics). */
  def append(table: String, df: DataFrame): Unit = {
    initTable(table)
    write(table, df, "append")(new Path(path(table)))
  }

  private def write(table: String, df: DataFrame, mode: String)(dest: Path): Unit = {
    val w = align(table, df).write.mode(mode)
    (if (partitionByDate) w.partitionBy("date") else w).parquet(dest.toString)
  }

  /** Keyed upsert (M1/M2): rows matching an incoming PK are replaced, all
    * others survive. Write-new + atomic commit so readers never see a
    * partial table. Duplicate PKs WITHIN `incoming` collapse to one row
    * (which one is not defined — a DataFrame has no row order for SQLite's
    * last-INSERT-wins to refer to); without the collapse the left_anti
    * only removes OLD rows and both duplicates would land in the table,
    * breaking the one-row-per-PK invariant every read/diff relies on. */
  def upsert(table: String, incoming: DataFrame): Unit =
    commit(table -> (() => upserted(table, incoming)))

  /** [[upsert]]'s next copy of `table`. */
  private[graft] def upserted(table: String, incoming: DataFrame): DataFrame = {
    val keys = Schemas.tables(table)._2
    require(keys.nonEmpty, s"$table has no PK; use append/replaceDays")
    val deduped = incoming.dropDuplicates(keys)
    read(table).join(deduped.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(align(table, deduped))
  }

  /** Delete-then-insert by (userid, date) — the intent-faithful child-table
    * reload (M3): re-running a changed day replaces its rows instead of
    * appending duplicates. Only the days present in `incoming` are
    * replaced; see the three-argument form for a reload whose day set is
    * known independently of the rows. */
  def replaceDays(table: String, incoming: DataFrame): Unit =
    replaceDays(table, incoming,
      incoming.select(dayKeys.map(col): _*).distinct())

  /** Delete every row of `table` on a `days` (userid, date) key, then
    * insert `incoming`. A day in `days` with no incoming rows ends up
    * EMPTY in this table — the load for a changed day that lost a section
    * (no meals any more, an emptied note) — which the rows-derived form
    * cannot express. Duplicate keys in `days` are harmless (anti-join). */
  def replaceDays(table: String, incoming: DataFrame,
                  days: DataFrame): Unit =
    commit(table -> (() => replacedDays(table, incoming, days)))

  /** [[replaceDays]]'s next copy of `table`. */
  private[graft] def replacedDays(table: String, incoming: DataFrame,
                                  days: DataFrame): DataFrame =
    read(table).join(days.select(dayKeys.map(col): _*), dayKeys, "left_anti")
      .unionByName(align(table, incoming))

  /** Cascade delete (M4): remove the parent rows and every child row whose
    * (userid, date) matches — explicit version of SQLite's FK cascade,
    * applied only when enforce=true (mirrors PRAGMA foreign_keys). Every
    * purge is written before any table is renamed, and all of them commit
    * under one marker: a crash leaves the parent and all its children as
    * they were, or all purged. The victims may be derived from the store
    * (`read("RawDayData").where(...)`): no directory they read moves
    * until every purge has read them. */
  def cascadeDelete(parentKeys: DataFrame, enforce: Boolean = true): Unit = {
    val victims = parentKeys.select(dayKeys.map(col): _*).distinct()
    commit((if (enforce) Schemas.tables.keys.toSeq else Seq("RawDayData"))
      .map(t => t -> (() => read(t).join(victims, dayKeys, "left_anti"))): _*)
  }

  /** Durably materialize `df` into a staging parquet dir under the store
    * root and hand back (re-read frame, cleanup). Required before mutating a
    * table the frame derives from: [[upsert]]'s atomic swap DELETES the source
    * directory, so a merely `persist()`ed frame whose cache is evicted would
    * recompute against the already-mutated store — an empty diff and silently
    * missing child rows (reference semantics: flows.py:66-74 re-parses the
    * in-memory diff, never the DB). The staged copy has no lineage back to
    * the store and, unlike localCheckpoint, survives executor loss. */
  def stage(df: DataFrame): (DataFrame, () => Unit) = {
    val dir = stagingDir()
    df.write.mode("errorifexists").parquet(dir.toString)
    // the part files named one by one, in write-task order: a directory
    // read takes them in listing order, which differs between runs, and
    // the scan keeps it among same-size files — the ids generated over the
    // staged rows (monotonically_increasing_id) would follow it. Task 0
    // always writes a part file, so the list is never empty.
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("part-")).map(_.toString).sorted
    val staged = spark.read.schema(df.schema).parquet(parts.toIndexedSeq: _*)
    (staged, () => { fs.delete(dir, true); () })
  }

  /** Small-file compaction: rewrite the table into `targetPartitions`
    * output files (incremental upserts accumulate per-batch files; compacted
    * scans restore full parquet row-group efficiency). Same atomic commit
    * as upsert, so readers never see a partial table. */
  def compact(table: String, targetPartitions: Int = 1): Unit =
    commit(table -> (() => read(table).repartition(targetPartitions)))

  /** Project/cast an incoming frame onto the declared schema (column order
    * and types pinned by the DDL port). */
  private def align(table: String, df: DataFrame): DataFrame = {
    val (schema, _) = Schemas.tables(table)
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
  }

  /** Write every (table, next copy) pair's new copy at `<table>.tmp-<uuid>`,
    * concurrently ([[DirSwap.stageAll]]: one table's planning and write
    * overlap the others' tasks); reads see the old copies until the
    * returned copy's `commit()` swaps them all in under one marker. A
    * failed write drops every copy. Each `next` plans on its own thread. */
  private[graft] def stageAll(next: (String, () => DataFrame)*): DirSwap.Staged =
    DirSwap.stageAll(next.map { case (table, df) => () =>
      Some(DirSwap.stage(fs, rootPath, table, table)(
        write(table, df(), "errorifexists")))
    }).get

  private def commit(next: (String, () => DataFrame)*): Unit =
    stageAll(next: _*).commit()

  private def stagingDir() = new Path(s"$root/_staging/${java.util.UUID.randomUUID()}")
}
