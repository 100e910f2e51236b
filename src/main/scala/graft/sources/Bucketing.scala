package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-layout variant of the store (SURVEY §4.3's co-location story):
  * writing both sides of a recurring join bucketed AND sorted by the join
  * key lets SortMergeJoin run with NO exchange and NO per-query sort — the
  * shuffle is paid once at write time instead of on every query. At 100 TB
  * this is the difference between re-shuffling the fact table per join and
  * a partition-local merge.
  *
  * Bucketing metadata lives in the session catalog (`saveAsTable`), so this
  * is the deploy-time layout for the always-joined tables (orders⋈lineitem,
  * RawDayData⋈children); the plain [[TableStore]] parquet dirs stay the
  * default for ad-hoc layouts. BucketSpec survives in the metastore-backed
  * catalog; in-memory catalogs (tests, local runs) keep it for the session.
  */
object Bucketing {

  /** Write `df` bucketed+sorted by `key` into `nBuckets` buckets as a
    * catalog table (path under the session's warehouse dir). The
    * pre-repartition on the bucket key gives exactly ONE file per bucket —
    * the condition under which Spark's scan trusts the per-bucket sort
    * order and elides the per-query Sort (multi-file buckets would need an
    * interleaved merge read, so Spark re-sorts instead). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int): Unit = {
    val spark = df.sparkSession
    // WRITE-NEW-THEN-SWAP, the DirSwap discipline: dropping the
    // existing table before the write means a mid-write failure loses
    // BOTH versions. The new data lands under a temp table name first;
    // only after the write commits is the old table dropped and the temp
    // renamed in (ALTER RENAME moves the managed location with it).
    val tmp = table + "_tmp_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the catalog's own default-path computation, not a hand-built
    // warehouse/<table> guess: it accounts for the current database
    // (warehouse/<db>.db/<table> outside `default`) and normalizes the
    // name with Locale.ROOT (a tr_TR JVM default would fold 'I' wrong).
    // Clearing stranded locations keeps the write idempotent across
    // SESSIONS: an in-memory catalog forgets the table when the session
    // ends but managed dirs survive in the warehouse, and saveAsTable
    // refuses to adopt an unregistered location (LOCATION_ALREADY_EXISTS).
    def loc(name: String) = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(name)))
    val fs = loc(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
    if (fs.exists(loc(tmp))) fs.delete(loc(tmp), true)
    df.repartition(nBuckets, org.apache.spark.sql.functions.col(key))
      .write
      .format("parquet")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(tmp)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (fs.exists(loc(table))) fs.delete(loc(table), true)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
  }

  /** Join two same-bucketed tables on their bucket key. With matching
    * bucket specs Catalyst plans a SortMergeJoin whose children are the
    * bucketed scans directly — zero Exchange always; zero Sort too when
    * ordered bucketed scans are opted into
    * (`spark.sql.legacy.bucketedTableScan.outputOrdering`, off by default
    * since SPARK-28632 because multi-file buckets would need merge reads —
    * our one-file-per-bucket writes satisfy it). Pinned in BucketingSpec. */
  def coLocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
