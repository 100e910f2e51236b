package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{EtlPipeline, Extractors}
import graft.sources.{DaySource, TableStore}

/** The Structured-Streaming upgrade of the ETL flow (SURVEY §2.10: an
  * extension, not a reference semantic): fetched day documents land as
  * JSON-lines files in a staging dir; this job ingests whatever has arrived
  * (`Trigger.AvailableNow`), dedups per micro-batch on the day key, and
  * hands each batch to [[EtlPipeline.load]] via foreachBatch — the batch
  * pipeline's own diff → concurrent child loads → RawDayData commit, so a
  * foreachBatch retry after a crash mid-children re-runs the same diff.
  *
  * Change detection (D2) happens inside the batch function against the
  * current store state, so re-delivered or unchanged days are no-ops —
  * exactly the incremental semantics the reference implements by hand.
  */
object DayStream {

  def run(spark: SparkSession, stagingDir: String,
          store: TableStore, checkpointDir: String,
          maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    store.init()
    val reader = spark.readStream
      .schema(DaySource.daySchema)
      .option("mode", "PERMISSIVE") // a poison file must not kill the stream
    val days = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .json(stagingDir)

    val q = days.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.col
        // within-batch dedup on the PK (last file wins is not meaningful for
        // identical re-deliveries; for conflicting ones the diff still keys
        // on full record equality)
        val deduped = batch.dropDuplicates("username", "date")
        // PERMISSIVE turns each malformed line into an all-null row; a null
        // PK would anti-join-match nothing and upsert as garbage that then
        // accumulates one row per poison batch (null keys never replace).
        // Quarantine them loudly instead of letting them into the store.
        val bad = deduped
          .where(col("username").isNull || col("date").isNull).count()
        if (bad > 0) System.err.println(
          s"[daystream] dropping $bad malformed row(s) with null username/date")
        val good = deduped
          .where(col("username").isNotNull && col("date").isNotNull)
        EtlPipeline.load(store, Extractors.serializeDays(good))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
