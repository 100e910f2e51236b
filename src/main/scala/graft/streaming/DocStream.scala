package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup
import graft.sources.DirSwap

/** Incremental near-duplicate admission for a streaming document feed
  * (SURVEY §2.10 extension): each micro-batch's documents are simhashed and
  * band-joined against the ACCUMULATED corpus index; in-batch and
  * cross-batch near-dups (Hamming ≤ maxHamming) are rejected, survivors are
  * appended to the corpus along with their band index rows.
  *
  * This is the arrival-time shape of [[graft.operators.Dedup]]'s batch
  * near-dup pass — the pattern a training-data ingest runs so the corpus
  * stays deduplicated continuously instead of re-sweeping it:
  *   - the index is (band, bv, simhash, id) rows in parquet sharing the
  *     batch operator's band layout ([[Dedup.simhashBandStructs]]), so the
  *     candidate probe is the same hash-partitioned equi-join with the same
  *     pigeonhole recall guarantee — never a scan of the corpus text;
  *   - the index is DIRECTORY-PARTITIONED on `bkt = hash(band, bv) mod
  *     [[IndexBuckets]]`, so each batch's probe reads only the partitions
  *     its own band rows can collide with (PartitionFilters on the scan,
  *     pinned in DocStreamSpec) — at a corpus-scale index the per-batch
  *     probe cost is O(colliding partitions), not O(index);
  *   - per batch, work is O(batch × colliding-bucket width); `maxBucket`
  *     caps posting lists like the batch operator (an over-cap templated
  *     bucket would otherwise make every future batch quadratic as the
  *     index grows), and [[compactIndex]] folds the per-batch file
  *     accumulation back into full row groups;
  *   - in-batch admission is GREEDY BY ID: a doc is rejected if it
  *     near-dups any smaller id in the batch, even one itself rejected.
  *     Conservative by design (a chain A~B~C admits only A); the invariant
  *     maintained is that the ADMITTED corpus is near-dup-free — a doc
  *     whose only conflicts were themselves rejected may be re-admitted if
  *     re-delivered later, which keeps that invariant;
  *   - RETRY-SAFE: the probe excludes index rows carrying this batch's own
  *     ids and the append skips ids already indexed, so a foreachBatch
  *     retry after a partial failure reproduces the same admission decision
  *     instead of self-rejecting against its first attempt's writes.
  */
object DocStream {

  /** Number of `bkt` directory partitions the admission index is laid out
    * in. A CONSTANT, not a tuning knob: `bkt` is derived from (band, bv) at
    * write time and the probe recomputes it to prune — a different modulus
    * on either side of one index would silently miss collisions (a recall
    * hole), so the layout is fixed for the life of every index. 64
    * directories keeps per-batch listings tiny while a typical micro-batch
    * probes only the fraction of the corpus index it can collide with. */
  private[graft] val IndexBuckets = 64

  /** Ceiling on in-batch near-dup PAIRS handed to the driver-side greedy
    * resolution in [[curateBatch]] — ~32 MB of endpoint longs at the cap.
    * The greedy MIS is inherently sequential-in-id, so the pairs must
    * reach one place; the cap turns a pathological batch²-pair batch into
    * an actionable failure instead of a driver OOM. */
  private[graft] val MaxInBatchPairs = 2000000

  private def withBkt(df: DataFrame): DataFrame =
    df.withColumn("bkt",
      pmod(xxhash64(col("band"), col("bv")), lit(IndexBuckets.toLong))
        .cast("int"))

  /** GREEDY-BY-ADMITTED resolution of in-batch near-dup pairs (smaller-id
    * column first): the larger id of a pair is rejected iff a winner NOT
    * itself rejected blocks it — the greedy maximal independent set in id
    * order, which is exactly what makes multi-batch verdicts equal the
    * single-batch pass on id-ordered splits. Driver-side by necessity
    * (the MIS is sequential in id); the collect is LIMIT-bounded so a
    * pathological batch²-pair batch fails with an actionable message
    * instead of an OOM. Only PAIR ENDPOINTS reach the driver — every
    * other in-play doc has no in-batch collision and is admitted
    * outright, so nothing batch-sized crosses. */
  private def greedyPairRejects(spark: SparkSession,
                                pairsDf: DataFrame): DataFrame = {
    val pairRows = pairsDf.limit(MaxInBatchPairs + 1).collect()
    require(pairRows.length <= MaxInBatchPairs,
      s"over $MaxInBatchPairs in-batch near-dup pairs — the batch is " +
        "pathologically self-similar; lower the batch size or cap the " +
        "candidate buckets before the driver-side resolution")
    val pairs = pairRows.map(r => (r.getLong(0), r.getLong(1)))
    val byLoser = pairs.groupBy(_._2) // larger id → its smaller colliders
    val endpointIds = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val rejectedSet = scala.collection.mutable.HashSet[Long]()
    endpointIds.foreach { id =>
      val blocked = byLoser.getOrElse(id, Array.empty[(Long, Long)])
        .exists { case (winner, _) => !rejectedSet.contains(winner) }
      if (blocked) rejectedSet += id
    }
    import spark.implicits._
    rejectedSet.toSeq.toDF("id")
  }

  /** The pruned probe-side scan: only the `bkt` directory partitions this
    * batch's band rows can land in are read. Everything admitBatch needs
    * from the index lives there by construction — a colliding corpus row
    * shares (band, bv) hence bkt, and a previous attempt of the same batch
    * wrote identical (id, band, bv, bkt) rows. */
  private[graft] def probeScan(spark: SparkSession, indexDir: String,
                               bkts: Seq[Int]): DataFrame =
    spark.read.parquet(indexDir).where(col("bkt").isin(bkts: _*))

  /** One micro-batch of admission against (and update of) `indexDir`.
    * Returns the admitted (doc_id, text, ...) rows. Exposed for direct
    * batch use and reused by [[run]]'s foreachBatch. Rows must carry
    * non-null unique doc_id and non-null text — violations throw rather
    * than silently vanish from both corpus and index.
    *
    * CROSS-BATCH id contract: a doc_id may be re-delivered only with its
    * ORIGINAL text. The retry-idempotence anti-join consults only the bkt
    * partitions this batch's own band rows hash into (that is what makes
    * the probe O(colliding partitions) instead of O(index)), which covers
    * every true retry — same text ⇒ same bands ⇒ same bkts — but NOT an id
    * re-sent with different text across batches: its old index rows can
    * live in non-probed partitions, so such a violation is double-indexed
    * rather than skipped. Feeds that cannot guarantee id stability must
    * dedup ids upstream or use a separate id ledger. */
  def admitBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
                 maxHamming: Int = 3,
                 maxBucket: Int = Int.MaxValue): DataFrame = {
    recoverIndex(spark, indexDir)
    val stats = batch.agg(
      count(lit(1)).as("n"),
      // coalesce: sum over zero rows is NULL and getLong would NPE — an
      // empty batch is a legal no-op, not an error
      coalesce(sum(when(col("doc_id").isNull || col("text").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("bad"),
      countDistinct(col("doc_id")).as("ids")).first()
    if (stats.getLong(0) == 0) return batch
    require(stats.getLong(1) == 0,
      s"${stats.getLong(1)} rows with null doc_id/text — refusing to drop silently")
    require(stats.getLong(2) == stats.getLong(0),
      s"duplicate doc_id in batch (${stats.getLong(0)} rows, " +
        s"${stats.getLong(2)} ids) — dedup upstream")

    // simhash + bands + bkt for the incoming docs, staged once (consumed
    // by the probe, the in-batch join, and the index append)
    val incoming = withBkt(Dedup.simhashBanded(batch, "doc_id", "text",
      maxHamming, maxBucket)).localCheckpoint(true)
    // the ≤ IndexBuckets distinct partition keys this batch can collide in
    val bkts = incoming.select(col("bkt")).distinct()
      .collect().map(_.getInt(0)).toSeq

    val fs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val colliding: DataFrame =
      if (fs.exists(new Path(indexDir))) probeScan(spark, indexDir, bkts)
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), incoming.schema)
    // retry idempotence: ignore rows a previous attempt of THIS batch wrote
    // (same text → same bkt, so the pruned scan sees them). The probe side
    // is posting-list capped too — the index accumulates, so a templated
    // bucket would otherwise grow without bound and fan every future batch
    // out against it (same recall trade as the batch operator).
    val batchIds = incoming.select(col("id")).distinct()
    val index = Dedup.cappedBuckets(
      colliding.join(batchIds, Seq("id"), "left_anti"),
      Seq("band", "bv"), maxBucket)

    // cross-batch rejects: any band collision with the corpus within range
    val vsCorpus = incoming.as("n").join(index.as("o"),
        col("n.band") === col("o.band") && col("n.bv") === col("o.bv"))
      .where(bit_count(col("n.simhash").bitwiseXOR(col("o.simhash")))
        <= maxHamming)
      .select(col("n.id").as("id")).distinct()

    // in-batch rejects: greedy by id — the larger id of a near-dup pair
    // loses (see the admission-policy note in the object doc)
    val inBatch = incoming.join(vsCorpus, Seq("id"), "left_anti")
    val pairRejects = inBatch.as("x").join(inBatch.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .where(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
        <= maxHamming)
      .select(col("y.id").as("id")).distinct()

    val admittedIds = inBatch.select(col("id")).distinct()
      .join(pairRejects, Seq("id"), "left_anti")
      .localCheckpoint(true) // consumed twice (index append + result join)

    // append the admitted docs' band rows, skipping ids a previous attempt
    // of this batch already indexed (idempotent under retry — an attempt's
    // rows carry this batch's own bkts, so the pruned scan is authoritative)
    incoming.join(admittedIds, "id")
      .join(colliding.select(col("id")).distinct(), Seq("id"), "left_anti")
      .write.mode("append").partitionBy("bkt").parquet(indexDir)

    batch.join(admittedIds.withColumnRenamed("id", "doc_id"), "doc_id")
  }

  /** One micro-batch of the CURATION admission ladder — the streaming
    * twin of q127's batch pass ([[graft.queries.Curation.q127CurationPass]]),
    * stage for stage where arrival-time semantics exist:
    *
    *   1. quality gate (langId = en ∧ quality ≥ 5000) → `quality_drop` —
    *      per-doc, identical to the batch predicate;
    *   2. exact dedup → `exact_dup`: the dual text fingerprint
    *      (unhex(md5) ⊕ xxhash64, the q127/exactByFingerprint recipe)
    *      probed against the ACCUMULATED ledger of admitted docs plus
    *      in-batch min-id keep — for any batch split delivering ids in
    *      ascending order, first-arrival ≡ the batch pass's min-id keeper;
    *   3. simhash near-dup gate → `near_dup`: banded probe of the admitted
    *      corpus index (the [[admitBatch]] machinery) plus an in-batch
    *      GREEDY-BY-ADMITTED resolution: a doc is rejected iff it collides
    *      (Hamming ≤ maxHamming) with an ADMITTED smaller id — docs that
    *      were themselves rejected never block others (the greedy maximal
    *      independent set in id order), which is exactly what makes the
    *      multi-batch verdict sequence equal the single-batch one on any
    *      id-ordered split (pinned in DocStreamSpec). The in-batch
    *      collision graph is resolved on the driver: its edges are the
    *      capped band join's near-dup pairs WITHIN one micro-batch — pair
    *      count is batch-bounded and near-dup-sparse by construction
    *      (bounded-cardinality collect, the q46 driver union-find
    *      precedent);
    *   4. survivors → `kept`, their fingerprints and band rows appended to
    *      the two state dirs (both probes exclude this batch's own ids, so
    *      a foreachBatch retry reproduces its decisions — the
    *      [[admitBatch]] retry contract).
    *
    * Stage alignment with the batch q127 (pinned in DocStreamSpec): the
    * quality and exact verdicts are IDENTICAL on id-ordered feeds; q127's
    * third stage judges survivor EMBEDDINGS (SemDeDup) where this ladder
    * judges survivor TEXT (simhash) — embedding-space state cannot be
    * maintained arrival-incrementally without changing its semantics (the
    * adaptive cells are functions of the full survivor set), so the
    * streaming ladder substitutes the text-space near-dup gate and the
    * spec pins the stage-partition: a doc reaches stage 3 streaming iff it
    * reaches stage 3 in the batch pass.
    *
    * State layout under `stateDir`: `fp/` (fbkt, f1, f2, id) admitted
    * fingerprints, directory-partitioned on fbkt = xxhash64(f2) mod
    * [[IndexBuckets]]; `sh/` (bkt, band, bv, simhash, id) admitted band
    * rows, the [[admitBatch]] layout. Both probes are partition-pruned to
    * the batch's own buckets. Returns (doc_id, verdict) for EVERY row of
    * the batch. */
  def curateBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                  maxHamming: Int = 3,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.functions.TextFunctions
    val fpDir = s"$stateDir/fp"
    val shDir = s"$stateDir/sh"
    val stats = batch.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("doc_id").isNull || col("text").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("bad"),
      countDistinct(col("doc_id")).as("ids")).first()
    if (stats.getLong(0) == 0)
      return batch.select(col("doc_id"), lit("kept").as("verdict")).limit(0)
    require(stats.getLong(1) == 0,
      s"${stats.getLong(1)} rows with null doc_id/text — refusing to drop silently")
    require(stats.getLong(2) == stats.getLong(0),
      s"duplicate doc_id in batch (${stats.getLong(0)} rows, " +
        s"${stats.getLong(2)} ids) — dedup upstream")
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // stage 1: quality — the q127 predicate verbatim
    val gated = batch.select(col("doc_id"), col("text"),
      (TextFunctions.langId(col("text")) === "en" &&
        TextFunctions.qualityScoreBp(col("text")) >= 5000).as("ok"))
      .localCheckpoint(true) // consumed by stages 2-4 and the verdict union

    // stage 2: exact — dual fingerprint vs the admitted ledger + in-batch
    // min-id (≡ q127's min-keeper on id-ordered feeds)
    val fp = gated.where(col("ok"))
      .select(col("doc_id").as("id"), unhex(md5(col("text"))).as("f1"),
        xxhash64(col("text")).as("f2"))
      .withColumn("fbkt",
        pmod(xxhash64(col("f2")), lit(IndexBuckets.toLong)).cast("int"))
      .localCheckpoint(true)
    val fbkts = fp.select(col("fbkt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val batchIds = fp.select(col("id")).distinct()
    // ledgerRaw keeps this batch's own prior-attempt rows (the write-skip
    // below needs them); the PROBE excludes them for retry idempotence
    val ledgerRaw: DataFrame =
      if (fs.exists(new Path(fpDir)))
        spark.read.parquet(fpDir).where(col("fbkt").isin(fbkts: _*))
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), fp.schema)
    val ledger = ledgerRaw.join(batchIds, Seq("id"), "left_anti")
    val exactVsCorpus = fp.join(ledger.select(col("f1"), col("f2")).distinct(),
        Seq("f1", "f2"), "left_semi")
      .select(col("id"))
    val inBatchKeeper = fp.groupBy(col("f1"), col("f2"))
      .agg(min(col("id")).as("keeper"))
    val exactInBatch = fp.join(inBatchKeeper, Seq("f1", "f2"))
      .where(col("id") =!= col("keeper")).select(col("id"))
    val exactRejects = exactVsCorpus.unionAll(exactInBatch).distinct()
      .localCheckpoint(true)

    // stage 3: simhash near-dup over exact survivors
    val surv = gated.where(col("ok"))
      .join(exactRejects.withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left_anti")
    val banded = withBkt(Dedup.simhashBanded(surv, "doc_id", "text",
      maxHamming, maxBucket)).localCheckpoint(true)
    val bkts = banded.select(col("bkt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val shRaw: DataFrame =
      if (fs.exists(new Path(shDir)))
        probeScan(spark, shDir, bkts)
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), banded.schema)
    val shIndex = shRaw
      .join(banded.select(col("id")).distinct(), Seq("id"), "left_anti")
    val vsCorpus = banded.as("n").join(
        Dedup.cappedBuckets(shIndex, Seq("band", "bv"), maxBucket).as("o"),
        col("n.band") === col("o.band") && col("n.bv") === col("o.bv"))
      .where(bit_count(col("n.simhash").bitwiseXOR(col("o.simhash")))
        <= maxHamming)
      .select(col("n.id").as("id")).distinct()
    // in-batch pairs among docs NOT already corpus-rejected, resolved as
    // the greedy MIS in id order on the driver (edges are near-dup-sparse
    // and batch-bounded — annotated collect)
    val inPlay = banded.join(vsCorpus, Seq("id"), "left_anti")
    val pairRejects = greedyPairRejects(spark,
      inPlay.as("x").join(inPlay.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.id") < col("y.id"))
        .where(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          <= maxHamming)
        .select(col("x.id"), col("y.id")).distinct())
    val admittedIds = inPlay.select(col("id")).distinct()
      .join(pairRejects, Seq("id"), "left_anti")
      .localCheckpoint(true)

    // stage 4: persist admitted state (skip ids an earlier attempt of this
    // batch already wrote — the probes above excluded them symmetrically).
    // Guard on emptiness: an all-rejected first batch would otherwise
    // create a schema-less parquet dir that breaks every later read.
    if (admittedIds.count() > 0) {
      fp.join(admittedIds, "id")
        .join(ledgerRaw.select(col("id")).distinct(), Seq("id"), "left_anti")
        .select(col("fbkt"), col("f1"), col("f2"), col("id"))
        .write.mode("append").partitionBy("fbkt").parquet(fpDir)
      banded.join(admittedIds, "id")
        .join(shRaw.select(col("id")).distinct(), Seq("id"), "left_anti")
        .write.mode("append").partitionBy("bkt").parquet(shDir)
    }

    // verdicts for every batch row
    gated.select(col("doc_id"),
      when(!col("ok"), "quality_drop").otherwise(lit(null)).as("v1"))
      .join(exactRejects.withColumnRenamed("id", "doc_id")
        .withColumn("v2", lit("exact_dup")), Seq("doc_id"), "left")
      .join(admittedIds.withColumnRenamed("id", "doc_id")
        .withColumn("v4", lit("kept")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("v1"), col("v2"), col("v4"), lit("near_dup"))
          .as("verdict"))
  }

  /** One micro-batch of ARRIVAL-TIME EMBEDDING admission against (and
    * update of) `stateDir/emb` — the semantic near-dup gate (q95's
    * SemDeDup decision) made streamable: q95's adaptive cells are
    * functions of the full survivor set and thus not arrival-
    * incremental, but a FIXED stored centroid grid (`grid` — e.g. the
    * q143 offline build, exactly the geometry [[graft.operators.
    * Similarity.ivfExtendStored]] ingests against between rebuilds) makes
    * a doc's cell a pure function of its vector, so the verdict depends
    * only on ADMITTED same-cell docs — which is what makes any
    * id-ordered multi-batch split reproduce the single-batch verdicts
    * (pinned in DocStreamSpec, like the simhash chain).
    *
    * Admission: reject iff round(cos, 6) ≥ tauPpm/10⁶ against an
    * ADMITTED same-cell doc (cross-batch: the accumulated cell state;
    * in-batch: [[greedyPairRejects]]' greedy-by-admitted in id order).
    * Cells bound the candidate join exactly like q95 — a batch row
    * scores against its OWN cell's admitted members, never the corpus.
    * The state dir is partitioned on `cbkt = cid mod [[IndexBuckets]]`,
    * so the probe prunes to the batch's own cell buckets. Retry-safe
    * like [[admitBatch]]: probes exclude this batch's own ids, the
    * append skips them. Cell width grows with the admitted corpus while
    * the grid is frozen — production re-seeds the grid at each index
    * rebuild (the same cadence that refreshes IVF centroids).
    *
    * Returns (doc_id, verdict ∈ kept | semantic_dup) for every batch
    * row. */
  def admitEmbBatch(spark: SparkSession, batch: DataFrame,
                    grid: graft.sources.VectorIndex, stateDir: String,
                    tauPpm: Long = 800000L): DataFrame = {
    val embDir = s"$stateDir/emb"
    val stats = batch.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("doc_id").isNull || col("embedding").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("bad"),
      countDistinct(col("doc_id")).as("ids")).first()
    if (stats.getLong(0) == 0)
      return batch.select(col("doc_id"), lit("kept").as("verdict")).limit(0)
    require(stats.getLong(1) == 0,
      s"${stats.getLong(1)} rows with null doc_id/embedding — refusing " +
        "to drop silently")
    require(stats.getLong(2) == stats.getLong(0),
      s"duplicate doc_id in batch (${stats.getLong(0)} rows, " +
        s"${stats.getLong(2)} ids) — dedup upstream")

    // ONE assignment implementation with the index lifecycle (covering-
    // radix decimal-packed argmax); batch-sized, consumed by the probe,
    // the pair join, and the state append
    val assigned = graft.operators.Similarity
      .assignVectors(batch, "doc_id", "embedding", grid.readCentroids())
      .withColumn("cbkt",
        pmod(col("cid"), lit(IndexBuckets.toLong)).cast("int"))
      .localCheckpoint(true)
    val cbkts = assigned.select(col("cbkt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // a crash inside compactEmbState's commit can leave the state ABSENT
    // — recover before reading, or this batch would probe an empty
    // corpus and re-admit near-dups
    recoverIndex(spark, embDir)
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // explicit schema (cbkt from the partition dirs): no inference job,
    // and a state dir holding only _SUCCESS (every prior batch rejected
    // everything) reads as zero rows instead of failing inference
    val embSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "cid BIGINT, id BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE, cbkt INT")
    val stateRaw: DataFrame =
      if (fs.exists(new Path(embDir)))
        spark.read.schema(embSchema).parquet(embDir)
          .where(col("cbkt").isin(cbkts: _*))
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), assigned.schema)
    val batchIds = assigned.select(col("id")).distinct()
    // retry idempotence: the probe never sees this batch's own prior-
    // attempt rows; the write-skip below still needs them (stateRaw)
    val ledger = stateRaw.join(batchIds, Seq("id"), "left_anti")

    // round AFTER the ×10⁶ multiply (the repo-wide ppm convention, e.g.
    // Similarity.mmrPpm and every oracle's CAST(round(...) AS BIGINT)):
    // a bare cast truncates, and round(x,6)·10⁶ can land at N−ε in
    // binary floating point — truncation would judge a similarity
    // exactly at tauPpm as under-threshold and admit a near-dup
    def simPpm(a: String, b: String) =
      round(round(call_function("dot_product", col(s"$a.v"), col(s"$b.v"))
        / (col(s"$a.nrm") * col(s"$b.nrm")), 6) * 1000000).cast("long")
    val vsCorpus = assigned.as("n")
      .join(ledger.as("o"), col("n.cid") === col("o.cid"))
      .where(simPpm("n", "o") >= tauPpm)
      .select(col("n.id").as("id")).distinct()
    val inPlay = assigned.join(vsCorpus, Seq("id"), "left_anti")
    val pairRejects = greedyPairRejects(spark,
      inPlay.as("x").join(inPlay.as("y"),
          col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
        .where(simPpm("x", "y") >= tauPpm)
        .select(col("x.id"), col("y.id")).distinct())
    val admittedIds = inPlay.select(col("id")).distinct()
      .join(pairRejects, Seq("id"), "left_anti")
      .localCheckpoint(true) // consumed by the append and the verdicts

    // unconditional write — no per-batch count() job guarding emptiness
    // (an all-rejected batch writes only _SUCCESS, which the explicit-
    // schema read above treats as zero rows)
    assigned.join(admittedIds, "id")
      .join(stateRaw.select(col("id")).distinct(), Seq("id"), "left_anti")
      .select(col("cbkt"), col("cid"), col("id"), col("v"), col("nrm"))
      .write.mode("append").partitionBy("cbkt").parquet(embDir)

    batch.select(col("doc_id"))
      .join(admittedIds.withColumnRenamed("id", "doc_id")
        .withColumn("k", lit("kept")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("k"), lit("semantic_dup")).as("verdict"))
  }

  /** The FULL arrival-time curation ladder — [[curateBatch]]'s
    * quality → exact → text-near-dup stages plus the embedding gate
    * q127's batch ladder runs as its final stage: text-kept docs flow
    * through [[admitEmbBatch]] against the stored grid, and its rejects
    * read `semantic_dup` (every earlier verdict passes through
    * untouched). Batches carry (doc_id, text, embedding); both state
    * families live under `stateDir` and both components are retry-safe,
    * so the composition is too. */
  def curateBatchFull(spark: SparkSession, batch: DataFrame,
                      grid: graft.sources.VectorIndex, stateDir: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = Int.MaxValue,
                      tauPpm: Long = 800000L): DataFrame = {
    val textVerdicts = curateBatch(spark,
      batch.select(col("doc_id"), col("text")), stateDir, maxHamming,
      maxBucket).localCheckpoint(true) // consumed by the gate + the union
    val embVerdicts = admitEmbBatch(spark,
      batch.join(textVerdicts.where(col("verdict") === "kept")
          .select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("embedding")),
      grid, stateDir, tauPpm)
    textVerdicts.as("t")
      .join(embVerdicts.as("e").withColumnRenamed("verdict", "ev"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("verdict") === "kept", coalesce(col("ev"), col("verdict")))
          .otherwise(col("verdict")).as("verdict"))
  }

  /** Streaming wrapper for [[curateBatch]]: JSON-lines docs in
    * `stagingDir`, per-batch verdict parquet under `outDir/batch=<id>`
    * (overwrite → exactly-once per batch id), ledger + band-index state
    * under `stateDir`. Same FAILFAST + dropDuplicates discipline as
    * [[run]]. */
  def runCuration(spark: SparkSession, stagingDir: String, stateDir: String,
                  outDir: String, checkpointDir: String,
                  maxHamming: Int = 3,
                  maxBucket: Int = Int.MaxValue): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = spark.readStream.schema(schema)
      .option("mode", "FAILFAST")
      .json(stagingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateBatch(spark, batch.dropDuplicates("doc_id", "text"),
          stateDir, maxHamming, maxBucket)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming wrapper for [[curateBatchFull]] — the four-stage ladder
    * over a feed carrying embeddings: JSON-lines docs
    * (doc_id, text, embedding float[]) in `stagingDir`, per-batch
    * verdict parquet under `outDir/batch=<id>` (overwrite → exactly-once
    * per batch id), all three state families (fingerprint ledger, band
    * index, embedding cells) under `stateDir`; the semantic gate probes
    * `grid`'s stored centroid geometry. Same FAILFAST + dropDuplicates
    * discipline as [[runCuration]]. */
  def runCurationFull(spark: SparkSession, stagingDir: String,
                      grid: graft.sources.VectorIndex, stateDir: String,
                      outDir: String, checkpointDir: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = Int.MaxValue,
                      tauPpm: Long = 800000L): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val q = spark.readStream.schema(schema)
      .option("mode", "FAILFAST")
      .json(stagingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateBatchFull(spark, batch.dropDuplicates("doc_id"),
          grid, stateDir, maxHamming, maxBucket, tauPpm)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Crash recovery for [[compactIndex]]'s commit ([[DirSwap.recover]]):
    * a kill inside it can leave the index ABSENT — rolled forward from its
    * marker here (or, marker-less, restored from a complete `.old-*`
    * beside it); without that the next admitBatch would see an empty
    * corpus and re-admit near-duplicates of everything ever indexed.
    * `sweep` is for [[compactIndex]], the writer, only. */
  private def recoverIndex(spark: SparkSession, indexDir: String,
                           sweep: Boolean = false): Unit = {
    val p = new Path(indexDir)
    DirSwap.recover(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p.getParent, p.getName, sweep = sweep)
  }

  /** Fold the per-batch parquet file accumulation back into
    * `targetPartitions` full files through a staged copy committed under
    * one marker in the index's parent directory ([[DirSwap.stage]];
    * [[recoverIndex]] rolls a crashed commit forward) — run periodically
    * on a long-lived index. A compaction is a writer entry point: it
    * sweeps the stages of crashed earlier ones. */
  def compactIndex(spark: SparkSession, indexDir: String,
                   targetPartitions: Int = 8,
                   partCol: String = "bkt"): Unit = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverIndex(spark, indexDir, sweep = true)
    if (!fs.exists(dir)) return
    // a dir holding only _SUCCESS (every batch rejected everything) has
    // nothing to fold — and no footer to infer a schema from
    val live = fs.globStatus(new Path(indexDir, s"$partCol=*"))
    if (live == null || live.isEmpty) return
    DirSwap.stage(fs, dir.getParent, dir.getName, "DocStream") { tmp =>
      // hash-distribute on the partition column so each directory
      // partition is written by one task (one full file per dir), with
      // targetPartitions bounding writer concurrency; partitionBy
      // preserves the pruning layout
      spark.read.parquet(indexDir).repartition(targetPartitions, col(partCol))
        .write.partitionBy(partCol).parquet(tmp.toString)
    }.commit()
  }

  /** Fold [[curateBatch]]'s per-batch file accumulation back into full
    * row groups — both state dirs, each under its own partition layout.
    * Run periodically on a long-lived curation stream, like
    * [[compactIndex]] for the admission index. Also folds the
    * [[admitEmbBatch]] embedding-cell state when present, so the full
    * four-stage ladder's state families all compact on one cadence. */
  def compactCurationState(spark: SparkSession, stateDir: String,
                           targetPartitions: Int = 8): Unit = {
    compactIndex(spark, s"$stateDir/fp", targetPartitions, partCol = "fbkt")
    compactIndex(spark, s"$stateDir/sh", targetPartitions, partCol = "bkt")
    compactEmbState(spark, stateDir, targetPartitions)
  }

  /** Fold [[admitEmbBatch]]'s per-batch file accumulation (it appends to
    * `stateDir/emb` every micro-batch — unbounded small files on a
    * long-lived stream) back into `targetPartitions` full files per cell
    * bucket. Same staged commit as [[compactIndex]];
    * [[admitEmbBatch]] runs the matching [[recoverIndex]] before every
    * read, so a crash inside the commit cannot make a batch probe an
    * empty corpus. Verdicts are unchanged: rows and the cbkt layout
    * are preserved, only file counts drop. */
  def compactEmbState(spark: SparkSession, stateDir: String,
                      targetPartitions: Int = 8): Unit =
    compactIndex(spark, s"$stateDir/emb", targetPartitions, partCol = "cbkt")

  /** Streaming wrapper: JSON-lines docs land in `stagingDir`; each
    * micro-batch is admitted against the shared index and survivors land
    * under `outDir` in a per-batch subdir (overwritten on retry, so the
    * output is exactly-once per batch id). FAILFAST parse — a malformed
    * feed stops the stream instead of silently losing documents. */
  def run(spark: SparkSession, stagingDir: String, indexDir: String,
          outDir: String, checkpointDir: String,
          maxHamming: Int = 3,
          maxBucket: Int = Int.MaxValue): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = spark.readStream.schema(schema)
      .option("mode", "FAILFAST")
      .json(stagingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // exact re-deliveries within a batch collapse; conflicting texts
        // under one id surface as admitBatch's duplicate-id failure
        admitBatch(spark, batch.dropDuplicates("doc_id", "text"),
          indexDir, maxHamming, maxBucket)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
