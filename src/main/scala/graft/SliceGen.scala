package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic-slice generator for oracle validation at stress scale
  * (round-7 verdict item 2): materializes a keyed sub-universe of an sf
  * dir so the FULL catalog — including the queries whose DuckDB twins are
  * brute-force quadratic (q46/q53's all-pairs trigram joins exhausted
  * >57 GB of temp disk at the 100× dir) or pre-aggregation-explosive
  * (q68's twin ran ~55 min to confirm a hash Spark produced in 3 s) —
  * cross-checks at every decade. Both engines then read the SAME sliced
  * parquet through the unchanged `Verify` + `tools/compare.py` pipeline,
  * so equality of the sliced results is exactly as binding as at the
  * driver's gate scale; no engine- or oracle-side special-casing exists
  * to drift.
  *
  * Slice rule: keep a row iff `(key div blockSize) % every == 0` on the
  * table's primary key — every `every`-th BLOCK of `blockSize`
  * consecutive keys, NOT every `every`-th key. Block locality is what
  * keeps the sliced corpus meaningful rather than merely equal:
  *   - planted near-dup pairs sit at adjacent doc_ids, so a pointwise
  *     mod-slice would dissolve every cluster (q46 would green-light on
  *     all-singleton output); adjacent ids land in the same 64-key block
  *     and survive together;
  *   - orders and lineitem slice on the SAME o_orderkey/l_orderkey rule,
  *     so every kept order keeps all its lines (fact-join results stay
  *     populated);
  *   - StressGen's copy shift (10^7) dwarfs blockSize, so each stress
  *     copy contributes ~1/every of itself and the slice thins every
  *     copy uniformly instead of truncating whole copies.
  * Cross-table references to UNSLICED keys (lineitem → part/supplier,
  * events → user) simply match fewer rows — identically in both engines.
  *
  * Usage: `sbt "runMain graft.SliceGen <srcDir> <outDir> [every]"`, then
  * `Verify <outDir> <out>` + `python3 tools/compare.py <outDir> <out>`.
  * At the 100× dir, every=32 lands documents at ~15.6k — the scale where
  * the quadratic twins are measured to complete comfortably (the full
  * 30× sweep ran them at 150k docs).
  */
object SliceGen {

  private val BlockSize = 64L

  private[graft] def keep(key: org.apache.spark.sql.Column, every: Int) =
    // keys are non-negative and < 2^53, so floor of the double division is
    // the exact integer block index
    pmod(floor(key.cast("long") / lit(BlockSize)).cast("long"),
      lit(every.toLong)) === 0L

  def generate(spark: SparkSession, srcDir: String, outDir: String,
               every: Int): Unit = {
    require(every >= 1, s"every must be >= 1, got $every")
    // events.ts passes through UNCHANGED whatever its physical form —
    // raw nanos BIGINT (older stress dirs), TIMESTAMP(NANOS) (older driver
    // data, readable only via nanosAsLong), or TIMESTAMP(MICROS)/NTZ
    // (current data) — Tables/compare.py normalize on read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def out(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    out(src("region"), "region")
    out(src("nation"), "nation")
    Seq(
      "customer" -> "c_custkey",
      "supplier" -> "s_suppkey",
      "part" -> "p_partkey",
      "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey",
      "events" -> "event_id",
      "documents" -> "doc_id",
      "embeddings" -> "vec_id"
    ).foreach { case (t, key) =>
      out(src(t).where(keep(col(key), every)), t)
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "target/stress/sf1x100"
    val outDir = if (args.length > 1) args(1) else "target/stress/slice100"
    val every = if (args.length > 2) args(2).toInt else 32
    val spark = LocalSession("32", "32")
    generate(spark, srcDir, outDir, every)
    println(s"[slicegen] wrote 1/$every block-slice of $srcDir -> $outDir")
    spark.stop()
  }
}
