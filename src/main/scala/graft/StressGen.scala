package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for the empirical stress bench (round-6 item 2):
  * materializes an N× copy of a driver sf directory by unioning N
  * key-shifted copies of each fact table, so the heavy catalog queries can
  * be timed above sf0.1 and the scale claims (near-linear growth, no OOM,
  * AQE skew splits firing) validated with measurements instead of plan
  * properties.
  *
  * Scaling rules — chosen so each query's WORK grows linearly, the way a
  * genuinely larger dataset would, rather than degenerately:
  *   - join keys (orderkey/custkey/partkey/suppkey/event_id/doc_id/vec_id)
  *     are shifted by `copy * KeyOffset`, preserving referential integrity
  *     within a copy and uniqueness across copies (KeyOffset clears every
  *     sf0.1 key range by >10×);
  *   - `region`/`nation` stay fixed — TPC-H dims don't scale with sf, and
  *     broadcast-side growth would change plan shape, not data scale;
  *   - document text gets every token suffixed with the copy index, making
  *     copies pairwise hamming-distant: near-dup clusters stay WITHIN a
  *     copy, so candidate-pair counts scale linearly (a verbatim 10× copy
  *     would put every doc in a 10-member exact-dup cluster — quadratic
  *     pair blowup that measures the corpus, not the engine);
  *   - embeddings are jittered per copy with a deterministic per-element
  *     hash offset (±0.5 per dimension), decorrelating copies in cosine
  *     space for the same reason;
  *   - event timestamps shift by `copy` seconds so ROW_NUMBER tie-break
  *     keys stay unique; `user_id` is NOT shifted, so per-user event
  *     density grows 10× — sessions densify and q58's hot key gets 10×
  *     hotter, exactly what a skew stress wants.
  *
  * Usage: `sbt "runMain graft.StressGen [srcDir outDir copies]"`, then
  * `SPARK_GRAFT_SF_DIR=<outDir> sbt "runMain graft.Bench"` (optionally
  * with SPARK_GRAFT_QUERIES=q19_…,q22_… to time a subset).
  */
object StressGen {

  private val DefaultKeyOffset = 10_000_000L

  private def copies(df: DataFrame, n: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(i => f(df, i)).reduce(_ unionAll _)

  /** `keyOffset` must clear the SOURCE dir's key range: the default clears
    * any driver sf dir by >10×, but COMPOSED runs (e.g. 1000× built as
    * 10 copies of a 100× dir, keeping each level's union shallow instead
    * of planning a 1000-way left-deep tree) must pass an offset clearing
    * the already-shifted input range — 10^10 for a 100-copy input. All
    * shifted keys stay far below 2^53, so long arithmetic is exact.
    *
    * `shiftUsers` flips the events-density design decision: by default
    * user_id is NOT shifted, so per-user event density grows with SF —
    * the deliberate skew/session stress. With `shiftUsers = true` the
    * copies get disjoint user ranges (users scale, density stays flat) —
    * the shape a REAL events table growing its user base has. The knob
    * exists to ADJUDICATE per-user-window scaling tails: a query whose
    * in-decade exponent collapses under shiftUsers is paying for the
    * fixture's densification, not for its own plan (NOTES_r12 q130/q131).
    *
    * `only` restricts generation to the named tables (default all) — the
    * adjudication fixture needs only events, not a 15 GB dir copy. */
  def generate(spark: SparkSession, srcDir: String, outDir: String,
               n: Int, keyOffset: Long = DefaultKeyOffset,
               shiftUsers: Boolean = false,
               only: Set[String] = Set.empty): Unit = {
    val KeyOffset = keyOffset
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def wanted(t: String) = only.isEmpty || only(t)
    def out(df: => DataFrame, t: String): Unit = if (wanted(t))
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    out(src("region"), "region")
    out(src("nation"), "nation")

    def shifted(t: String, keys: String*): DataFrame =
      copies(src(t), n) { (df, i) =>
        keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + i * KeyOffset))
      }
    out(shifted("customer", "c_custkey"), "customer")
    out(shifted("supplier", "s_suppkey"), "supplier")
    out(shifted("part", "p_partkey"), "part")
    out(shifted("orders", "o_orderkey", "o_custkey"), "orders")
    out(shifted("lineitem", "l_orderkey", "l_partkey", "l_suppkey"),
      "lineitem")

    // events.ts ships either as parquet TIMESTAMP(NANOS) (older driver data
    // — Spark 4 only reads it as a raw long via nanosAsLong; keep the LONG
    // in the output so Tables' `ts div 1000` branch applies unchanged) or
    // as TIMESTAMP(MICROS)/NTZ (current data — shift with timestampadd and
    // keep the timestamp type, which Tables' NTZ branch normalizes).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the per-copy seconds shift keeps (user_id, ts) row_number tie-break
    // keys unique; composed runs scale it with the key offset so level-2
    // shifts land in a range disjoint from level-1's (copy (5,0) and
    // (0,5) would otherwise collide at the same ts)
    val stepSec = KeyOffset / DefaultKeyOffset
    if (wanted("events")) {
      val evs = src("events")
      val tsIsLong =
        evs.schema("ts").dataType == org.apache.spark.sql.types.LongType
      out(copies(evs, n) { (df, i) =>
        val shifted =
          if (tsIsLong) col("ts") + i * (1000000000L * stepSec)
          else timestamp_add("SECOND", lit(i * stepSec), col("ts"))
        val base = df.withColumn("event_id", col("event_id") + i * KeyOffset)
          .withColumn("ts", shifted)
        if (shiftUsers) base.withColumn("user_id",
          col("user_id") + i * KeyOffset)
        else base
      }, "events")
    }

    out(copies(src("documents"), n) { (df, i) =>
      val text = if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1x$i")
      df.withColumn("doc_id", col("doc_id") + i * KeyOffset)
        .withColumn("text", text)
        .withColumn("n_chars", length(text).cast("long"))
    }, "documents")

    out(copies(src("embeddings"), n) { (df, i) =>
      // copy 0 is byte-identical; later copies get ±0.5 per-element hash
      // jitter, cast back to FLOAT — Spark's Divide/Add promote to double,
      // and a silently widened array<double> would both break the sf0.1
      // schema and time double-width vectors in the stress runs
      val jitter =
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, pos) =>
          (x + pmod(xxhash64(col("vec_id"), pos, lit(i)), lit(1000L))
            .cast("double") / 1000.0 - 0.5).cast("float"))
      df.withColumn("vec_id", col("vec_id") + i * KeyOffset)
        .withColumn("embedding", jitter)
    }, "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/stress/sf1x10"
    val n = if (args.length > 2) args(2).toInt else 10
    val keyOffset =
      if (args.length > 3) args(3).toLong else DefaultKeyOffset
    // optional trailing flags: "shiftUsers" and/or "only=events,orders"
    val flags = args.drop(4)
    val shiftUsers = flags.contains("shiftUsers")
    val only = flags.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet).getOrElse(Set.empty[String])
    val spark = LocalSession("32", "32")
    generate(spark, srcDir, outDir, n, keyOffset, shiftUsers, only)
    println(s"[stressgen] wrote ${n}x $srcDir -> $outDir" +
      (if (shiftUsers) " (users shifted)" else "") +
      (if (only.nonEmpty) s" (only ${only.mkString(",")})" else ""))
    spark.stop()
  }
}
