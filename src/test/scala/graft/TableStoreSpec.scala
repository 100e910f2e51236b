package graft

import java.sql.Date

import org.apache.spark.sql.Row

import graft.model.Schemas
import graft.sources.TableStore

/** Port of the reference's SQLite sink tests (test_tasks.py:104-266):
  * round-trip, upsert replace, idempotency, FK-cascade on/off.
  */
class TableStoreSpec extends SparkSpec {

  private def mkStore = new TableStore(spark, tmpDir("store"))

  private def rawRows(rows: (String, String, String)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (u, d, j) =>
        Row(u, Date.valueOf(d), j)
      }: _*),
      Schemas.rawDayData)

  private def waterRows(rows: (String, String, Double)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (u, d, q) =>
        Row(u, Date.valueOf(d), q)
      }: _*),
      Schemas.water)

  private val u = Fixtures.user

  /** A table's rows in declared column order, order-free. */
  private def rows(s: TableStore, table: String): Seq[String] =
    s.read(table).select(Schemas.tables(table)._1.fieldNames.toIndexedSeq
      .map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).toSeq.sorted

  /** Every declared table reads back empty, with its declared schema. */
  private def assertEmptyTyped(s: TableStore): Unit =
    Schemas.tables.foreach { case (t, (schema, _)) =>
      val df = s.read(t)
      assert(df.schema == schema, t)
      assert(df.count() == 0, t)
    }

  test("M5 init is idempotent; empty tables read back typed") {
    val s = mkStore
    s.init(); s.init()
    assert(s.read("Meals").count() == 0)
    assert(s.read("Meals").schema == Schemas.meals)
  }

  test("append + read round trip (test_tasks.py:104-150)") {
    val s = mkStore
    s.append("Water", waterRows((u, "2021-01-01", 0.0),
      (u, "2021-01-02", 150.0), (u, "2021-01-03", 2230.5)))
    val got = s.read("Water").collect()
      .map(r => (r.getDate(1).toString, r.getDouble(2))).sorted
    assert(got.toSeq == Seq(("2021-01-01", 0.0), ("2021-01-02", 150.0),
      ("2021-01-03", 2230.5)))
  }

  test("M1 upsert replaces on PK and is idempotent") {
    val s = mkStore
    s.upsert("RawDayData", rawRows((u, "2021-01-01", "[{}]"),
      (u, "2021-01-02", "[{}]")))
    // replace day 1, add day 3
    val batch = rawRows((u, "2021-01-01", "[{\"v\":2}]"), (u, "2021-01-03", "[{}]"))
    s.upsert("RawDayData", batch)
    s.upsert("RawDayData", batch) // applying twice ≡ once
    val got = s.read("RawDayData").collect()
      .map(r => (r.getDate(1).toString, r.getString(2))).sorted
    assert(got.toSeq == Seq(("2021-01-01", "[{\"v\":2}]"),
      ("2021-01-02", "[{}]"), ("2021-01-03", "[{}]")))

    // duplicate PK inside one batch collapses to a single row — the
    // anti-join only removes OLD rows, so without the collapse both
    // copies would land and break the one-row-per-PK invariant
    s.upsert("RawDayData", rawRows((u, "2021-01-04", "[{\"a\":1}]"),
      (u, "2021-01-04", "[{\"a\":2}]")))
    assert(s.read("RawDayData")
      .where(org.apache.spark.sql.functions.col("date") ===
        Date.valueOf("2021-01-04")).count() == 1)
  }

  test("S4 selectRawDays: one row per requested date, null for missing (tasks.py:657-680)") {
    val s = mkStore
    s.upsert("RawDayData", rawRows((u, "2021-01-01", "[{\"a\":1}]"),
      (u, "2021-01-03", "[{\"b\":2}]"),
      ("someone_else", "2021-01-02", "[{\"x\":9}]")))
    val dates = Seq("2021-01-01", "2021-01-02", "2021-01-03", "2021-01-04")
      .map(java.time.LocalDate.parse)
    val got = s.selectRawDays(u, dates).collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        Option(r.getString(2))))
    // request order preserved; the missing day and the other user's day
    // both come back as (user, date, None) — the reference's fetchone
    // miss shape
    assert(got.toSeq == Seq(
      (u, "2021-01-01", Some("[{\"a\":1}]")),
      (u, "2021-01-02", None),
      (u, "2021-01-03", Some("[{\"b\":2}]")),
      (u, "2021-01-04", None)))
    // duplicate dates replay like the reference's per-date loop
    assert(s.selectRawDays(u, Seq(dates.head, dates.head)).count() == 2)
  }

  test("M3 replaceDays: changed day's child rows replaced, not appended") {
    val s = mkStore
    s.append("Water", waterRows((u, "2021-01-01", 100.0), (u, "2021-01-02", 200.0)))
    s.replaceDays("Water", waterRows((u, "2021-01-01", 999.0)))
    val got = s.read("Water").collect()
      .map(r => (r.getDate(1).toString, r.getDouble(2))).sorted
    assert(got.toSeq == Seq(("2021-01-01", 999.0), ("2021-01-02", 200.0)))
  }

  test("M4 cascade delete: children purged only when enforced (test_tasks.py:152-266)") {
    def seeded = {
      val s = mkStore
      s.upsert("RawDayData", rawRows((u, "2021-01-01", "[{}]"),
        (u, "2021-01-02", "[{}]"), (u, "2021-01-03", "[{}]")))
      s.append("Water", waterRows((u, "2021-01-01", 0.0),
        (u, "2021-01-02", 150.0), (u, "2021-01-03", 2230.5)))
      s
    }
    val victims = rawRows((u, "2021-01-01", ""), (u, "2021-01-02", ""))

    val on = seeded
    on.cascadeDelete(victims, enforce = true)
    assert(on.read("RawDayData").collect().map(_.getDate(1).toString).toSeq ==
      Seq("2021-01-03"))
    assert(on.read("Water").collect().map(_.getDate(1).toString).toSeq ==
      Seq("2021-01-03")) // only the 2021-01-03 Water row survives

    val off = seeded
    off.cascadeDelete(victims, enforce = false)
    assert(off.read("Water").count() == 3) // orphans remain, like FK off

    // the natural usage: victims DERIVED FROM THE STORE. The first swap
    // deletes the directory that frame reads, so an unstaged victims
    // frame would re-evaluate empty for every child and leave orphans
    val derived = seeded
    derived.cascadeDelete(
      derived.read("RawDayData")
        .where(org.apache.spark.sql.functions.col("date") <
          Date.valueOf("2021-01-03")),
      enforce = true)
    assert(derived.read("RawDayData").collect()
      .map(_.getDate(1).toString).toSeq == Seq("2021-01-03"))
    assert(derived.read("Water").collect()
      .map(_.getDate(1).toString).toSeq == Seq("2021-01-03"),
      "store-derived victims must cascade to children")
  }

  test("M4 cascade delete swaps RawDayData last: a store-derived retry purges a crashed child") {
    import graft.sources.IndexStore
    val root = tmpDir("store-cascade-crash")
    val s = new TableStore(spark, root)
    s.upsert("RawDayData", rawRows((u, "2021-01-01", "[{}]"),
      (u, "2021-01-02", "[{}]")))
    s.append("Water", waterRows((u, "2021-01-01", 0.0),
      (u, "2021-01-02", 150.0)))
    def victims = s.read("RawDayData")
      .where(org.apache.spark.sql.functions.col("date") <
        Date.valueOf("2021-01-02"))
    def dates(t: String) =
      s.read(t).collect().map(_.getDate(1).toString).toSeq.sorted
    // kill the cascade inside Water's commit, between its two renames
    IndexStore.crashAt = (_ == "swap:Water")
    try intercept[IndexStore.InjectedCrash](s.cascadeDelete(victims))
    finally IndexStore.crashAt = _ => false
    assert(!new java.io.File(s"$root/Water").exists() &&
      new java.io.File(root).list().exists(_.startsWith("Water.old-")),
      "the crash must leave Water parked between the renames")
    // every purge was written before the one commit marker: a bare read
    // rolls the whole cascade forward — parent and children purged
    // together, never one without the other
    assert(dates("Water") == Seq("2021-01-02"), "orphaned child rows left")
    assert(dates("RawDayData") == Seq("2021-01-02"))
    // the natural retry derives its victims from the store again: a no-op
    s.cascadeDelete(victims)
    assert(dates("RawDayData") == Seq("2021-01-02"))
    assert(dates("Water") == Seq("2021-01-02"))
  }

  test("interrupted swap recovers the pre-swap table on init") {
    val root = tmpDir("store-recover")
    val store = new TableStore(spark, root)
    store.init()
    store.upsert("Water", waterRows(("u", "2021-01-01", 1.0)))

    // simulate a crash inside swapIn between the two renames: dest was
    // renamed away to .old-*, the new .tmp-* never moved into place
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.rename(p(s"$root/Water"), p(s"$root/Water.old-deadbeef"))
    fs.mkdirs(p(s"$root/Water.tmp-cafebabe")) // incomplete new data

    // without recovery this reads an empty table — silent data loss; the
    // recovery must fire from a bare read/upsert too, NOT only init():
    // an append-after-crash would otherwise create an empty table and the
    // next sweep would discard the .old backup for good
    val store2 = new TableStore(spark, root)
    assert(store2.read("Water").count() == 1) // no init() — read recovers
    assert(!new java.io.File(s"$root/Water.old-deadbeef").exists())
    assert(!new java.io.File(s"$root/Water.tmp-cafebabe").exists())

    // garbage from a crash AFTER a completed swap is swept, table untouched
    fs.mkdirs(p(s"$root/Water.old-feedf00d"))
    store2.init()
    assert(store2.read("Water").count() == 1)
    assert(!new java.io.File(s"$root/Water.old-feedf00d").exists())
  }

  test("orphaned staging dirs are swept on init and excluded from backups") {
    val root = tmpDir("store-staging")
    val store = new TableStore(spark, root)
    store.init()
    // simulate a run killed between stage() and cleanup
    val (staged, _) = store.stage(rawRows(("u", "2021-01-01", "{}")))
    assert(staged.count() == 1)
    assert(new java.io.File(s"$root/_staging").exists())

    // backups must not carry the staging area
    val snap = tmpDir("store-snap") + "/s1"
    graft.backup.Snapshot.copyDir(root, snap)
    assert(!new java.io.File(s"$snap/_staging").exists())
    assert(new java.io.File(s"$snap/RawDayData").exists())

    // a new run's init() sweeps the orphan
    store.init()
    assert(!new java.io.File(s"$root/_staging").exists())
  }

  for (byDate <- Seq(false, true)) {
    def fresh(prefix: String) = {
      val s = new TableStore(spark, tmpDir(prefix), partitionByDate = byDate)
      s.init()
      s
    }

    test(s"M5 init on a fresh root submits no Spark job (partitionByDate = $byDate)") {
      val s = new TableStore(spark, tmpDir("store-nojob"), partitionByDate = byDate)
      assert(jobsIn(s.init()) == 0)
      assertEmptyTyped(s)
    }

    test(s"append, upsert and both replaceDays forms work on freshly init-ed tables (partitionByDate = $byDate)") {
      val a = fresh("store-fresh-append")
      a.append("Water", waterRows((u, "2021-01-01", 1.0), (u, "2021-01-02", 2.0)))
      assert(rows(a, "Water") == Seq(s"[$u,2021-01-01,1.0]", s"[$u,2021-01-02,2.0]"))

      val b = fresh("store-fresh-upsert")
      b.upsert("RawDayData", rawRows((u, "2021-01-01", "[{}]")))
      assert(rows(b, "RawDayData") == Seq(s"[$u,2021-01-01,[{}]]"))

      val c = fresh("store-fresh-replace2")
      c.replaceDays("Water", waterRows((u, "2021-01-01", 3.0)))
      assert(rows(c, "Water") == Seq(s"[$u,2021-01-01,3.0]"))

      // a day in the key set with no incoming rows ends up empty
      val d = fresh("store-fresh-replace3")
      val bothDays = rawRows((u, "2021-01-01", ""), (u, "2021-01-02", ""))
      d.replaceDays("Water", waterRows((u, "2021-01-01", 4.0)), bothDays)
      assert(rows(d, "Water") == Seq(s"[$u,2021-01-01,4.0]"))
      d.replaceDays("Water", waterRows((u, "2021-01-02", 5.0)), bothDays)
      assert(rows(d, "Water") == Seq(s"[$u,2021-01-02,5.0]"))
    }

    test(s"a backup of a just-init-ed store reads back the same empty typed tables (partitionByDate = $byDate)") {
      val root = tmpDir("store-fresh-backup")
      new TableStore(spark, root, partitionByDate = byDate).init()
      val snap = tmpDir("store-fresh-snap") + "/s1"
      graft.backup.Snapshot.copyDir(root, snap)
      assertEmptyTyped(new TableStore(spark, snap, partitionByDate = byDate))
    }
  }
}
