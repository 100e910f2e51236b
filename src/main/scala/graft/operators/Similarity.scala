package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k. The query side is broadcast
  *     (it's small by construction), so the big side streams through a
  *     broadcast nested-loop join with no shuffle of the corpus — the right
  *     physical plan for few-queries × huge-corpus.
  *   - [[lshTopK]]: random-hyperplane LSH bucketing — candidates share an
  *     8-bit signature chunk in ≥1 of 4 tables, then exact rerank of
  *     candidates only. The scale path when the query side is also large:
  *     both sides hash-partition on (table, bucket), no cross join anywhere.
  */
object Similarity {

  /** Fixed-point quantization: round(x·scale) as exact longs — ONE
    * definition for every integer-arithmetic ANN/k-means path (its DuckDB
    * twin is OracleUtil.fixedPointVec; float→double promotion is
    * value-exact and both engines round ties away from zero, so the longs
    * are cross-engine bit-equal). */
  private def fixedPoint(vecCol: String, scale: Long): Column =
    transform(col(vecCol), x => round(x.cast("double") * scale).cast("long"))

  /** Exclusive id radix M = max(id)+1 for the decimal-packed argmin/argmax
    * paths — ONE plan-time scalar job shared by every packing site. Two
    * guards the packing arithmetic itself can't express: an empty (or
    * all-null-embedding) input leaves the max slot NULL, so return radix 1
    * and let the caller's plan lazily produce its empty frame instead of
    * NPE-ing at plan time; and a NEGATIVE id would push (M−1−id) past the
    * radix and flip the sign of pd % M, silently corrupting the winner —
    * fail fast on min(id) < 0 rather than return a wrong argmin. */
  private def idRadix(q: DataFrame): Long = {
    val r = q.agg(max(col("id")), min(col("id"))).first()
    if (r.isNullAt(0)) 1L
    else {
      require(r.getLong(1) >= 0L,
        s"decimal-packed argmin requires non-negative ids; saw min(id)=${r.getLong(1)}")
      r.getLong(0) + 1L
    }
  }

  /** Corpus prepared once: double-cast vector + its norm (norms computed
    * n times, not n·k times). Also registers the codegen'd vector kernels
    * ([[graft.plans.VectorExpressions]]) — the per-pair inner loop uses
    * `dot_product`, a native Expression, instead of interpreted
    * `zip_with`/`aggregate` lambdas (identical summation order, so results
    * match to the last ulp). */
  private def prepared(emb: DataFrame, idCol: String, vecCol: String) = {
    graft.plans.VectorExpressions.register(emb.sparkSession)
    emb.select(col(idCol).as("id"),
      toDouble(col(vecCol)).as("v"),
      l2Norm(toDouble(col(vecCol))).as("nrm"))
  }

  private def dotFast(a: Column, b: Column): Column =
    call_function("dot_product", a, b)

  /** Rank (qid, nid, sim) candidate pairs to top-k per query.
    *
    * The `row_number <= k` window pattern is NOT a full-shuffle sort on
    * Spark 4: the optimizer inserts `WindowGroupLimit(..., Partial)` BELOW
    * the exchange, so each map partition locally keeps its top k per query
    * and the shuffle carries k rows per partition per query — the same
    * k-bounded shuffle as the typed [[graft.functions.TopKAggregator]]
    * (see [[rankTopKAgg]]), but in whole-stage-codegen'd Tungsten rows
    * instead of deserialized objects (measured ~2× faster at sf0.1).
    * PlanSpec pins the pre-shuffle Partial WindowGroupLimit so a Spark
    * upgrade or plan change that loses the property fails loudly. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs.select(col("qid"), col("nid"), col("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("nid"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))

  /** [[rankTopK]] via the k-bounded typed [[graft.functions.TopKAggregator]]
    * — identical output (same deterministic sim-desc/nid-asc ordering;
    * asserted in ScaleOpsSpec). The alternative for clusters where the
    * map-side sort behind WindowGroupLimit would spill (enormous skewed
    * partitions): the aggregator's buffer is O(k) per query regardless of
    * partition size. */
  private[graft] def rankTopKAgg(pairs: DataFrame, k: Int): DataFrame = {
    import pairs.sparkSession.implicits._
    val topk = new graft.functions.TopKAggregator(k).toColumn
    pairs.select(col("qid"), col("nid"), col("sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(p => graft.functions.Scored(p._2, p._3))
      .agg(topk)
      .flatMap { case (qid, hits) =>
        hits.zipWithIndex.map { case (s, i) => (qid, i + 1, s.id, s.score) }
      }
      .toDF("qid", "rank", "nid", "sim")
  }

  private def bruteForcePairs(emb: DataFrame, idCol: String, vecCol: String,
                              queryPred: Column): DataFrame = {
    val base = prepared(emb, idCol, vecCol)
    val q = base.where(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val sim = round(dotFast(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
    broadcast(q)
      .join(base, col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"), sim.as("sim"))
  }

  /** Exact cosine top-k of each query vector against the whole corpus. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int): DataFrame =
    rankTopK(bruteForcePairs(emb, idCol, vecCol, queryPred), k)

  /** [[bruteForceTopK]] ranked through [[rankTopKAgg]] (spec twin). */
  private[graft] def bruteForceTopKAgg(
      emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame =
    rankTopKAgg(bruteForcePairs(emb, idCol, vecCol, queryPred), k)

  /** LSH-bucketed ANN: random-hyperplane signature split into `tables`
    * tables of `bitsPerTable` bits; a candidate must collide in at least one
    * table. Exact cosine rerank of candidates; recall < 1 by construction
    * (no oracle — RecallSpec pins recall >= 0.9 vs brute force at the
    * catalog parameters).
    *
    * Parameter math (P[bit agrees] = 1 − θ/π): per-neighbor recall is
    * 1 − (1 − p^b)^L, expected candidate fraction ≈ 1 − (1 − 2^-b)^L on
    * unclustered data. The 21×3 default hits recall ≈ 0.99 even for
    * neighbors at cos ≈ 0.3 (near-random corpora — the worst case); on such
    * data the candidate set approaches the corpus, which is the honest
    * price of high recall without cluster structure. Clustered real-world
    * embeddings concentrate buckets, shrinking candidates dramatically at
    * the same recall — fewer, wider tables (e.g. 4×8) only suit corpora
    * where neighbors sit at cos ≥ 0.8. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
              queryPred: Column, k: Int,
              tables: Int = 21, bitsPerTable: Int = 3,
              portable: Boolean = false): DataFrame = {
    // 1..63 bits per table: bitsPerTable = 64 wraps the shift so mask = 0
    // (every row in bucket 0 — a silent full cross join), 0 degenerates the
    // same way, and tables = 0 would make sequence() count DOWN to -1
    require(tables >= 1, s"tables must be >= 1, got $tables")
    require(bitsPerTable >= 1 && bitsPerTable <= 63,
      s"bitsPerTable must be in [1, 63], got $bitsPerTable")
    require(tables * bitsPerTable <= 64,
      s"signature needs ${tables * bitsPerTable} bits; max 64")
    val mask = (1L << bitsPerTable) - 1
    val base = prepared(emb, idCol, vecCol)
    // Explode the table index first and derive the bucket from the (already
    // materialized) signature attribute afterward — building per-table bucket
    // expressions inside the generator would let CollapseProject inline the
    // large signature tree into every slot (see Dedup.minhashLshPairs).
    //
    // The band frame carries (id, tbl, bucket) ONLY. Banding with the vector
    // riding along would shuffle `tables` copies of every embedding through
    // the candidate join; instead the vectors are joined back BY ID, once per
    // side, after candidate dedup — the same consume-once discipline
    // Dedup.minhashLshPairs applies to signatures. PlanSpec pins the vector
    // columns absent from the band-join shuffle.
    val banded = base
      .select(col("id"),
        hyperplaneSignature(col("v"), dim, tables * bitsPerTable, portable)
          .as("sig"))
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(tables - 1))).as("tbl"))
      .withColumn("bucket",
        expr(s"shiftright(sig, $bitsPerTable * tbl) & $mask"))
      .select(col("id"), col("tbl"), col("bucket"))
    val q = banded.where(queryPred)
      .select(col("id").as("qid"), col("tbl"), col("bucket"))
    val candidates = q.join(banded, Seq("tbl", "bucket"))
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"))
      .dropDuplicates("qid", "nid")
    val qVecs = base.where(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val nVecs = base.select(col("id").as("nid"), col("v"), col("nrm"))
    val sim = round(dotFast(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
    // no broadcast() hint: AQE broadcasts qVecs when the query side is
    // small, but lshTopK is ALSO the path for large query sides (see the
    // object doc) — a forced broadcast would put a hard collect ceiling on
    // exactly that regime, where the hash join shuffles fine
    rankTopK(candidates
      .join(qVecs, "qid")
      .join(nVecs, "nid")
      .select(col("qid"), col("nid"), sim.as("sim")), k)
  }

  /** IVF-style ANN: the corpus is partitioned into `nCentroids` cells
    * around deterministically-chosen seed centroids (smallest xxhash64(id) —
    * reproducible without RNG state), optionally refined by `kmeansIters`
    * rounds of spherical Lloyd iteration (assign via max_by, recompute each
    * cell's mean vector); each query probes its `nProbe` nearest cells and
    * reranks only those cells' members exactly. The inverted-file structure
    * is the classic scale path: candidate cost ~ nProbe/nCentroids of the
    * corpus, all joins hash-partitioned on the cell id. Each k-means round
    * costs one n·K assignment plus an n·dim exploded mean — an offline
    * index-build cost that buys tighter cells (smaller nProbe at the same
    * recall) on clustered corpora.
    *
    * `queryPred` must select a BOUNDED query set — a constant-size id
    * window such as `id >= a && id < b`: the probe set (queries × nProbe
    * rows, carrying the query vectors) is BROADCAST, so a predicate whose
    * match count grows with the corpus (a modulus) grows the broadcast
    * with it. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              nCentroids: Int, nProbe: Int, queryPred: Column,
              k: Int, kmeansIters: Int = 0,
              portable: Boolean = false): DataFrame = {
    val (base, centroids, assigned) =
      ivfIndex(emb, idCol, vecCol, nCentroids, kmeansIters, portable)
    val qVecs = base.where(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    probeRerank(qVecs, centroids, assigned, nProbe, k)
  }

  /** The online half of every IVF search: probe the nProbe nearest cells
    * per query, exact-rerank only those cells' members — shared verbatim
    * by the build-inline path ([[ivfTopK]]) and the stored-index path
    * ([[ivfSearchStored]]) so the two cannot drift.
    *
    * The probe window is over q·K rows where K = nCentroids (a
    * broadcast-bounded grid, not the corpus) — acceptable; the
    * corpus-sized ranking uses rankTopK. The window ranks (qid, cid, csim)
    * ONLY — query vectors are projected away before the exchange and
    * rejoined by qid afterward, the same ids-only shuffle discipline
    * lshTopK applies to its band join (vectors riding the probe window
    * would copy every query embedding K times through the sort). */
  private def probeRerank(qVecs: DataFrame, centroids: DataFrame,
                          assigned: DataFrame, nProbe: Int,
                          k: Int): DataFrame = {
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cid"))
    val probes = qVecs
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("cid"),
        dotFast(col("qv"), col("cv")).divide(col("qn") * col("cn")).as("csim"))
      .withColumn("rn", row_number().over(probeW))
      .where(col("rn") <= nProbe)
      .select(col("qid"), col("cid"))
      .join(qVecs, "qid")

    // exact rerank within the probed cells only. probes is broadcast by
    // CONSTRUCTION (≤ queries × nProbe rows, carrying the query
    // vectors): without the hint the initial plan SMJs this join and
    // shuffles the corpus-sized member side — (id, cid, v, nrm), the
    // VECTORS — by cid before AQE can rewrite it; the broadcast makes
    // the members side stream scan-side at any corpus size (r18).
    val sim = round(dotFast(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
    val pairs = broadcast(probes).join(assigned, "cid")
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"), sim.as("sim"))
      .dropDuplicates("qid", "nid")
    rankTopK(pairs, k)
  }

  /** The corpus's IVF cell assignment `(id, cid)` — the index structure
    * [[ivfTopK]] routes through, exposed for index inspection and for
    * cell-confined mining (q139's hard negatives draw from the anchor's
    * cell). Same seeds, same packed argmax, same tie-breaks as the
    * search path — ONE implementation ([[ivfIndex]]). */
  def ivfAssignments(emb: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int, kmeansIters: Int = 0,
                     portable: Boolean = false): DataFrame =
    ivfIndex(emb, idCol, vecCol, nCentroids, kmeansIters, portable)
      ._3.select(col("id"), col("cid"))

  /** Shared IVF index build: (prepared corpus, final centroids, cell
    * assignment joined back to vectors) — the first half of [[ivfTopK]],
    * split out so [[ivfAssignments]] cannot drift from the search path. */
  private def ivfIndex(emb: DataFrame, idCol: String, vecCol: String,
                       nCentroids: Int, kmeansIters: Int,
                       portable: Boolean): (DataFrame, DataFrame, DataFrame) = {
    graft.plans.VectorExpressions.register(emb.sparkSession)
    val base = prepared(emb, idCol, vecCol)
    // portable seed hash: md5-derived so a DuckDB oracle can re-pick the
    // same seed centroids (see graft.plans.PortableHashKernel); id cast to
    // its decimal string = what every engine's VARCHAR cast produces
    val seedHash =
      if (portable)
        graft.functions.PortableHash.md5Head60(col("id").cast("string"))
      else xxhash64(col("id"))
    val seeds = base
      .withColumn("h", seedHash)
      .orderBy(col("h"), col("id"))
      .limit(nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    // the seed TakeOrdered and the radix aggregate are independent
    // corpus jobs — overlapped on a driver thread (r18, guide §2.6)
    // instead of two sequential driver-blocking rounds per build
    val seedsT = graft.sources.Overlap.future(seeds.localCheckpoint())
    val mEx = graft.sources.Overlap.guarding(seedsT)(idRadix(base))
    def assign(centroids: DataFrame): DataFrame =
      assignToCells(base, centroids, mEx)

    // Spherical k-means step: per-cell element-wise mean (posexplode →
    // partial-agg avg on (cid, pos) → re-pack ordered array). The cell id
    // keeps the seed's id so tie-breaks stay deterministic across rounds.
    def recenter(assignedNow: DataFrame): DataFrame =
      assignedNow
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("x"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("x")))).as("ps"))
        .select(col("cid"),
          transform(col("ps"), p => p("x")).as("cv"))
        .withColumn("cn", l2Norm(col("cv")))

    // Every centroid GENERATION is materialized (r17): the centroid
    // frame is consumed at least twice (the probe/write side and the
    // final assignment; each Lloyd round's input likewise) and the
    // relation is K rows — without the checkpoint, every consumer
    // re-executed the whole upstream chain, so q73's iters = 2 plan
    // held the corpus-wide n·K assignment THREE extra times (8 corpus
    // scans in the executed plan vs 5 for iters = 0). Checkpointing
    // K-row frames costs nothing and makes each round's assignment run
    // exactly once at any corpus size.
    val centroids = (1 to kmeansIters).foldLeft(seedsT()) {
      case (cs, _) => recenter(assign(cs)).localCheckpoint()
    }
    (base, centroids, assign(centroids))
  }

  /** Assign every `base` vector (id, v, nrm) to its nearest `centroids`
    * cell (broadcast K centroids) via the DECIMAL-PACKED argmax
    * (q95/q79/q88's lesson applied to a FLOAT ordering): a
    * max_by(struct(cid, v, nrm), struct(csim, -cid)) would carry the
    * vector in an immutable struct buffer, which silently plans
    * SortAggregateExec — all n·K assignment rows sorted WITH their
    * vectors. double_sort_key (order-preserving IEEE-754 bit map, NaN
    * greatest like Spark's comparator) makes csim packable:
    * max((key(csim)+2⁶³)·M + (M−1−cid)) is the identical lexicographic
    * (csim desc, cid asc) argmax in a mutable 16-byte decimal buffer —
    * a map-side-combining HashAggregate — and the vector re-joins by id
    * afterwards. M = max(id)+1 (`mEx`, [[idRadix]] — one plan-time scalar
    * job at each call site). Shared by the inline build ([[ivfIndex]])
    * and the incremental extend ([[ivfExtendStored]]). */
  private def assignToCells(base: DataFrame, centroids: DataFrame,
                            mEx: Long): DataFrame = {
    val centroidSim = dotFast(col("v"), col("cv")) / (col("nrm") * col("cn"))
    val keyOffset = lit(new java.math.BigDecimal("9223372036854775808"))
    base.crossJoin(broadcast(centroids))
      .select(col("id"),
        ((call_function("double_sort_key", centroidSim).cast("decimal(38,0)")
          + keyOffset) * lit(mEx) + (lit(mEx - 1) - col("cid"))).as("pd"))
      .groupBy(col("id"))
      .agg(max(col("pd")).as("pd"))
      .select(col("id"),
        (lit(mEx - 1) - (col("pd") % lit(mEx))).cast("long").as("cid"))
      .join(base.select(col("id"), col("v"), col("nrm")), Seq("id"))
  }

  /** INDEX DELETION: remove `ids` from the stored posting lists and
    * return the updated per-cell census from disk — with
    * [[ivfBuildStored]]/[[ivfSearchStored]]/[[ivfExtendStored]] this
    * completes the index lifecycle (build / search / ingest / forget).
    * Physical removal, not tombstones: a deleted vector can never
    * surface as a search candidate, the GDPR-shaped contract. */
  def ivfDeleteStored(ids: DataFrame,
                      index: graft.sources.VectorIndex): DataFrame = {
    index.deletePostings(ids)
    ivfCensus(index)
  }

  /** Per-cell census read BACK from the stored posting lists — the
    * disk-verifying readout every IVF lifecycle op gates on. */
  private def ivfCensus(index: graft.sources.VectorIndex): DataFrame =
    index.readPostings()
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_ids"))
      .orderBy(col("cid"))

  /** Per-cell census read BACK from the stored code rows ([[ivfCensus]]
    * for the compressed store). */
  private def pqCensus(index: graft.sources.PqIndex): DataFrame =
    index.readCodes()
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("sum_ids"),
        sum(col("code")).as("sum_codes"))
      .orderBy(col("cid"))

  /** Build fingerprint for a stored index: corpus cardinality + id
    * checksum + CONTENT checksum + every build parameter. The content
    * term is a commutative sum of per-row xxhash64(id, toDouble(vector))
    * over rows with a vector — without it, a corpus whose vectors
    * changed under unchanged ids (or with compensating id edits: delete
    * 3, add 1+2) would pass the freshness gate and silently serve a
    * stale index. Hashing the DOUBLE form (what the posting lists store;
    * float→double is value-exact, so it loses nothing) is what lets the
    * stored `fp` column, the maintenance token folds, and a rebuild's
    * reconstruction all agree with this scan without touching the raw
    * corpus. This is the AUDIT form — one corpus scan; the serving path
    * uses [[ivfCorpusToken]] (memoized under the corpus's file-manifest
    * identity) or a caller-held token instead. */
  private[graft] def ivfScanToken(emb: DataFrame, idCol: String,
                                  vecCol: String, nCentroids: Int,
                                  kmeansIters: Int, portable: Boolean,
                                  bands: Int): String =
    graft.sources.CorpusToken.render("ivf3",
      graft.sources.CorpusToken.terms(emb.where(col(vecCol).isNotNull),
        col(idCol), xxhash64(col(idCol), toDouble(col(vecCol)))),
      s"K=$nCentroids|iters=$kmeansIters|portable=$portable|bands=$bands")

  /** The corpus version token for (emb, params) — what [[ivfSearchStored]]
    * compares against the index's stored token. Memoized per session
    * under the frame's file-manifest identity
    * ([[graft.sources.CorpusToken]]): after the first computation, a
    * fresh-index search costs file metadata + one token file read — no
    * corpus job. A production ingestion pipeline holds this token
    * without any scan (it writes the corpus); pass it explicitly via the
    * search entry points' `corpusToken`. */
  def ivfCorpusToken(emb: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int, index: graft.sources.VectorIndex,
                     kmeansIters: Int = 0,
                     portable: Boolean = false): String =
    indexMeta(emb, idCol, vecCol, nCentroids, kmeansIters, portable, index)

  /** The memo key for (emb, params) — ONE definition shared by the scan
    * path ([[indexMeta]]) and the build's posting-derived fold
    * ([[ivfBuildStored]]), so the two can never populate different cache
    * slots for the same corpus. */
  private def ivfKey(idCol: String, vecCol: String, nCentroids: Int,
                     kmeansIters: Int, portable: Boolean,
                     index: graft.sources.VectorIndex): String =
    s"ivf3|$idCol|$vecCol|K=$nCentroids|iters=$kmeansIters" +
      s"|portable=$portable|bands=${index.nBands}"

  private def indexMeta(emb: DataFrame, idCol: String, vecCol: String,
                        nCentroids: Int, kmeansIters: Int,
                        portable: Boolean,
                        index: graft.sources.VectorIndex): String =
    graft.sources.CorpusToken.cachedToken(emb,
      ivfKey(idCol, vecCol, nCentroids, kmeansIters, portable, index))(
      ivfScanToken(emb, idCol, vecCol, nCentroids, kmeansIters, portable,
        index.nBands))

  /** OFFLINE index build: run the [[ivfIndex]] pipeline and persist its
    * two structures (centroid grid, cid-clustered posting lists carrying
    * the member vectors) into `index`, fingerprinted against the corpus
    * and the build params. This is the production 100 TB ANN split —
    * k-means rounds and the corpus-wide assignment run once as a batch
    * job; [[ivfSearchStored]] then serves queries with a plan free of any
    * build stage. Returns the per-cell census read BACK from the stored
    * posting lists (gating what is actually on disk, not the in-flight
    * frames). */
  def ivfBuildStored(emb: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int, index: graft.sources.VectorIndex,
                     kmeansIters: Int = 0,
                     portable: Boolean = false): DataFrame = {
    val (_, centroids, assigned) =
      ivfIndex(emb, idCol, vecCol, nCentroids, kmeansIters, portable)
    // materialized ONCE before the range-sampled clustered write — the
    // sampling pass would otherwise re-run the corpus-wide assignment
    val posting = assigned
      .select(col("cid"), col("id"), col("v"), col("nrm"))
      .localCheckpoint(true)
    // token folded from the checkpointed posting rows instead of a
    // second (memo-cold) corpus scan (r17; the sparseBuildStored
    // discipline): v IS toDouble(vec) and the isNotNull filter mirrors
    // the scan's, so the fold is string-equal to ivfScanToken by the
    // fold-invariance contract — one render/terms implementation. Still
    // routed through the session memo under the CORPUS frame's identity
    // so later audit-path searches hit without a scan. `def`, not `val`:
    // writeIndex takes the token by name and evaluates this fold on a
    // driver thread OVERLAPPED with its table swaps (guide §2.6) — the
    // fingerprint aggregate reads only the checkpointed posting rows, so
    // it is independent of both writes.
    def meta = graft.sources.CorpusToken.cachedToken(emb,
      ivfKey(idCol, vecCol, nCentroids, kmeansIters, portable, index))(
      graft.sources.CorpusToken.render("ivf3",
        graft.sources.CorpusToken.terms(posting.where(col("v").isNotNull),
          col("id"), xxhash64(col("id"), col("v"))),
        s"K=$nCentroids|iters=$kmeansIters|portable=$portable" +
          s"|bands=${index.nBands}"))
    index.writeIndex(
      centroids.select(col("cid"), col("cv"), col("cn")),
      posting,
      meta)
    ivfCensus(index)
  }

  /** ONLINE search over a stored index: identical probe + rerank to
    * [[ivfTopK]] (ONE implementation — [[probeRerank]]) but the centroid
    * grid and posting lists come from `index`'s parquet, so the executed
    * plan contains scans + the probe window + the rerank join and NO
    * k-means/seed/assignment stages. A missing or stale index (corpus or
    * params changed, or a build crashed pre-fingerprint) triggers one
    * synchronous [[ivfBuildStored]] — the self-healing default; a
    * production deployment would page instead. Queries are drawn from
    * `emb` by `queryPred` (post-rename: `col("id")`), which must select a
    * BOUNDED query set — [[ivfTopK]]'s broadcast requirement. */
  def ivfSearchStored(emb: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, nProbe: Int, queryPred: Column,
                      k: Int, index: graft.sources.VectorIndex,
                      kmeansIters: Int = 0,
                      portable: Boolean = false,
                      corpusToken: Option[String] = None): DataFrame = {
    index.ensureCovers(corpusToken,
      indexMeta(emb, idCol, vecCol, nCentroids, kmeansIters, portable, index),
      "ivfCorpusToken")(
      ivfBuildStored(emb, idCol, vecCol, nCentroids, index, kmeansIters,
        portable))
    val qVecs = prepared(emb, idCol, vecCol).where(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    probeRerank(qVecs, index.readCentroids(), index.readPostings(),
      nProbe, k)
  }

  /** Build `index` from `emb` iff its fingerprint does not match the
    * corpus + params (missing, stale, or crashed pre-fingerprint). The
    * fresh path costs one id-column aggregate. */
  def ivfEnsureStored(emb: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, index: graft.sources.VectorIndex,
                      kmeansIters: Int = 0,
                      portable: Boolean = false): Unit =
    index.ensureCovers(None,
      indexMeta(emb, idCol, vecCol, nCentroids, kmeansIters, portable, index),
      "ivfCorpusToken")(
      ivfBuildStored(emb, idCol, vecCol, nCentroids, index, kmeansIters,
        portable))

  /** INCREMENTAL index maintenance: assign `newEmb`'s vectors to the
    * STORED centroid grid (no re-seed, no k-means — exactly how a
    * production IVF absorbs an ingest batch between rebuilds) and upsert
    * them into the posting lists keyed on id. Cost is |batch| × K
    * broadcast work plus one postings rewrite — independent of corpus
    * size until the rewrite, which a partitioned store would confine to
    * touched cells. Returns the updated per-cell census read back from
    * disk. */
  def ivfExtendStored(newEmb: DataFrame, idCol: String, vecCol: String,
                      index: graft.sources.VectorIndex): DataFrame = {
    index.upsertPostings(
      assignVectors(newEmb, idCol, vecCol, index.readCentroids()))
    ivfCensus(index)
  }

  /** O(batch) INGEST for genuinely-new ids — [[ivfExtendStored]] without
    * the eviction rewrite: the batch assigns to the stored grid and its
    * files APPEND inside the touched cid bands (LSM/segment style — no
    * existing index byte is read or rewritten beyond one id-column
    * presence scan, which is also what makes a crash-interrupted
    * append's retry idempotent). The common-crawl ingest case at 100 TB:
    * new documents vastly outnumber re-ingests, and this path makes
    * them cost O(batch) instead of O(touched bands). Periodic
    * [[graft.sources.VectorIndex.compactPostings]] folds the
    * accumulated files back; a changed vector under an existing id must
    * use [[ivfExtendStored]]. Returns the per-cell census read back
    * from disk. */
  def ivfAppendStored(newEmb: DataFrame, idCol: String, vecCol: String,
                      index: graft.sources.VectorIndex,
                      expectToken: Option[String] = None): DataFrame = {
    // the O(1) append-once contract the atomic commit enables:
    // `expectToken` is the PRE-BATCH corpus version the caller holds —
    // the append applies only while the index still covers exactly that
    // version. The append either fully happened (token folded, atomic
    // with the files) or not at all, so a retry after a crash — or a
    // re-run of the same ingest step — is a token-file read and a no-op
    // when the batch already landed; no id-presence scan over the index.
    if (expectToken.forall(index.isCurrent))
      index.appendPostings(
        assignVectors(newEmb, idCol, vecCol, index.readCentroids()))
    ivfCensus(index)
  }

  /** FULL REBUILD WITH CARRY-OVER — the "next rebuild" that the frozen-
    * grid ingest contract ([[ivfExtendStored]]/[[ivfAppendStored]]) defers
    * centroid drift to, as a callable op: re-seed and re-assign from the
    * index's OWN posting lists (which hold exactly the covered corpus —
    * base build plus every extend/append, minus deletes), then swap the
    * new grid and lists in. No corpus access at all; the fingerprint is
    * reconstructed from the stored rows (the content hash is over
    * (id, v) — the double form — precisely so this works), so after the
    * rebuild the index reads FRESH for the merged corpus and its census
    * equals a from-scratch build on it (q167's oracle gate). Returns the
    * per-cell census read back from disk. */
  def ivfRebuildStored(nCentroids: Int, index: graft.sources.VectorIndex,
                       kmeansIters: Int = 0,
                       portable: Boolean = false): DataFrame = {
    // materialized: the build REPLACES the posting lists this frame reads
    val corpus = index.readPostings().select(col("id"), col("v"))
      .localCheckpoint(true)
    ivfBuildStored(corpus, "id", "v", nCentroids, index, kmeansIters,
      portable)
  }

  /** Assign arbitrary (idCol, vecCol) rows to a STORED centroid grid —
    * the [[ivfExtendStored]] ingest seam, exposed package-wide so
    * arrival-time admission ([[graft.streaming.DocStream]]) shares ONE
    * assignment implementation with the index lifecycle. Returns
    * (id, cid, v, nrm). The pack radix must cover the STORED grid's
    * cids, not just the batch ids: cids are corpus vec_ids, and a batch
    * of small ids (re-ingest of existing docs) under a large-id seed
    * would send (M−1−cid) negative — the argmax ordering and the mod-M
    * decode silently corrupt. Covering radix: max(idRadix(batch),
    * max(cid)+1); any M > max(cid) decodes the same winner, so q145's
    * offset-id batches hash identically. */
  private[graft] def assignVectors(newEmb: DataFrame, idCol: String,
                                   vecCol: String,
                                   centroids: DataFrame): DataFrame = {
    val base = prepared(newEmb, idCol, vecCol)
    val cMaxRow = centroids.agg(max(col("cid"))).first()
    val mEx = math.max(idRadix(base),
      (if (cMaxRow.isNullAt(0)) 0L else cMaxRow.getLong(0)) + 1L)
    assignToCells(base, centroids, mEx)
  }

  /** MMR (maximal-marginal-relevance) diverse top-k: per query, greedily
    * select k results balancing relevance against redundancy —
    * argmax_c [ λ·sim(q, c) − (1−λ)·max_{s∈selected} sim(c, s) ] — the
    * diversity-aware sampling a training-data pipeline uses where plain
    * top-k returns k near-copies of the same best match (Carbonell &
    * Goldstein's MMR).
    *
    * Arithmetic is INTEGER once sims leave the kernel: sims are the
    * rerank recipe's round(cos, 6) doubles, converted to exact ppm longs,
    * and the MMR score is λpct·rel − (100−λpct)·penalty in longs — no
    * float composition to drift cross-engine, so the full selection
    * hash-matches a SQL twin.
    *
    * Scale shape: the relevance shortlist is [[bruteForceTopK]] (swap in
    * an IVF/stored-index shortlist at corpus scale — the MMR stage only
    * sees (qid, nid, rel)); candidate-pair sims are queries × shortlist²
    * rows, keyed joins only; each of the k greedy rounds is one keyed
    * anti-join + one keyed max + a WindowGroupLimit rn=1 pick over
    * shortlist-bounded frames, with every round's pick eagerly
    * localCheckpointed so round r does not re-execute rounds 1..r−1
    * (shortlist and pair-sim relations are checkpointed once — the
    * pay-the-upstream-once pattern; they are read k times). */
  def mmrDiverseTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, shortlist: Int, k: Int,
                     lambdaPct: Int): DataFrame = {
    require(shortlist >= k,
      s"need shortlist >= k, got shortlist=$shortlist k=$k")
    val base = prepared(emb, idCol, vecCol)
    mmrSelect(
      bruteForceTopK(emb, idCol, vecCol, queryPred, shortlist)
        .select(col("qid"), col("nid"), mmrPpm(col("sim")).as("rel")),
      base.select(col("id").as("nid"), col("v").as("nv"),
        col("nrm").as("nn")),
      k, lambdaPct)
  }

  /** MMR served END TO END from a stored index — the production serving
    * stack: the relevance shortlist is [[ivfSearchStored]] (index scans
    * only, no build stages) and the diversity stage's pair vectors come
    * from the INDEX's own posting lists, so the corpus is touched only
    * for the query vectors. Same greedy core as [[mmrDiverseTopK]] —
    * the two cannot drift — and the same integer ppm arithmetic, so the
    * full trajectory hash-matches its SQL twin. */
  def mmrDiverseTopKStored(emb: DataFrame, idCol: String, vecCol: String,
                           nCentroids: Int, nProbe: Int, queryPred: Column,
                           shortlist: Int, k: Int, lambdaPct: Int,
                           index: graft.sources.VectorIndex,
                           portable: Boolean = false,
                           corpusToken: Option[String] = None): DataFrame = {
    require(shortlist >= k,
      s"need shortlist >= k, got shortlist=$shortlist k=$k")
    mmrSelect(
      ivfSearchStored(emb, idCol, vecCol, nCentroids, nProbe, queryPred,
          shortlist, index, portable = portable,
          corpusToken = corpusToken)
        .select(col("qid"), col("nid"), mmrPpm(col("sim")).as("rel")),
      index.readPostings().select(col("id").as("nid"), col("v").as("nv"),
        col("nrm").as("nn")),
      k, lambdaPct)
  }

  private def mmrPpm(c: Column): Column = round(c * 1000000).cast("long")

  /** The greedy MMR core over ANY (qid, nid, rel-ppm) shortlist and ANY
    * (nid, nv, nn) vector source — the composition seam that lets the
    * shortlist come from brute force, a stored index, or any future
    * ranker without touching the selection semantics.
    *
    * FUSED single-pass form (optimization round 17; the pre-r17 shape ran
    * k driver-sequenced rounds, each one keyed anti-join + penalty join +
    * window pick + eager localCheckpoint — k shuffle rounds over every
    * query plus k blocking driver jobs, ~7 jobs at catalog params and a
    * k× shuffle bill at production query volume). Candidates and their
    * pair sims are grouped per qid ONCE (both frames are
    * shortlist-bounded per query by construction, so the grouped state is
    * O(shortlist²) structs — bounded by a query parameter, never by the
    * corpus), and the full k-round greedy trajectory runs inside one
    * `aggregate` expression over that row: identical integer ppm
    * arithmetic, identical (score desc, nid asc) tie-break, so the
    * selection is bit-equal to the iterative form (pinned by
    * DedupSimilaritySpec's trajectory test, a fused-vs-reference spec,
    * and the q153/q160 oracle hashes). The HOF lambdas are interpreted,
    * not codegen'd — acceptable here because each evaluates once per
    * QUERY over ≤ shortlist² elements (k·s² ≈ 10³ scalar ops at catalog
    * params), not once per corpus row; the corpus-proportional work
    * (shortlist ranking, pair sims) stays in codegen'd kernels. */
  private def mmrSelect(rel0: DataFrame, vecs: DataFrame, k: Int,
                        lambdaPct: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"lambdaPct must be a percentage, got $lambdaPct")
    def ppm(c: Column): Column = mmrPpm(c)
    // checkpointed once: read by the pair-sim join AND the candidate
    // grouping, and the upstream ranker (brute force or a stored-index
    // probe) must not execute twice
    val rel = rel0.localCheckpoint()
    val withV = rel.select(col("qid"), col("nid")).join(vecs, "nid")
    val pairSims = withV.as("x")
      .join(withV.as("y"),
        col("x.qid") === col("y.qid") && col("x.nid") =!= col("y.nid"))
      .select(col("x.qid").as("qid"), col("x.nid").as("nid"),
        col("y.nid").as("other"),
        ppm(round(dotFast(col("x.nv"), col("y.nv"))
          / (col("x.nn") * col("y.nn")), 6)).as("psim"))
    val cands = rel.groupBy(col("qid"))
      .agg(collect_list(struct(col("nid"), col("rel"))).as("cands"))
    val pairs = pairSims.groupBy(col("qid"))
      .agg(collect_list(struct(col("nid"), col("other"), col("psim")))
        .as("pairs"))
    // One aggregate() drives all k rounds: each round filters the not-yet-
    // selected candidates, scores them (penalty = max pair sim against the
    // selected set; a NULL `pairs` array — single-candidate query — NULL-
    // propagates into coalesce(_, 0)), sorts by (score desc, nid asc) and
    // appends the winner via slice+transform (slice of an empty remainder
    // is empty, so a query with fewer than k candidates just stops — the
    // iterative form's behavior).
    val lam = lambdaPct.toLong
    val mlam = (100 - lambdaPct).toLong
    val sel = s"""
      aggregate(
        sequence(1, $k),
        cast(array() as array<struct<nid: bigint, rank: int, score: bigint>>),
        (sel, r) -> concat(sel, transform(
          slice(array_sort(
            transform(
              filter(cands, c -> NOT exists(sel, s -> s.nid = c.nid)),
              c -> named_struct(
                'score', CAST($lam AS BIGINT) * c.rel
                  - CAST($mlam AS BIGINT) * coalesce(array_max(transform(
                      filter(pairs, p -> p.nid = c.nid
                        AND exists(sel, s -> s.nid = p.other)),
                      p -> p.psim)), CAST(0 AS BIGINT)),
                'nid', c.nid)),
            (a, b) -> CASE WHEN a.score > b.score THEN -1
                           WHEN a.score < b.score THEN 1
                           WHEN a.nid < b.nid THEN -1
                           WHEN a.nid > b.nid THEN 1 ELSE 0 END),
          1, 1),
          p -> named_struct('nid', p.nid, 'rank', CAST(r AS INT),
            'score', p.score))))"""
    cands.join(pairs, Seq("qid"), "left")
      .select(col("qid"), explode(expr(sel)).as("s"))
      .select(col("qid"), col("s.nid").as("nid"), col("s.rank").as("rank"),
        col("s.score").as("score"))
  }

  /** Banding parameters (bitsPerTable, tables) for [[cosineNearDupPairs]],
    * derived from the threshold via the hyperplane S-curve: a pair at
    * cosine exactly `threshold` agrees on one bit with probability
    * p = 1 − acos(threshold)/π, collides in a b-bit table with p^b, and is
    * MISSED by all L tables with (1 − p^b)^L ≤ `miss`. The widest b whose
    * required L still fits the 64-bit signature wins — wider tables mean
    * smaller buckets (fewer junk candidates); the miss budget caps how wide
    * we can afford to go. Any threshold ≥ 0 is satisfiable (worst case
    * p = 0.5 needs 20 single-bit tables at miss = 1e-6). */
  private[graft] def nearDupBanding(threshold: Double,
                                    miss: Double = 1e-6): (Int, Int) = {
    require(threshold >= 0.0 && threshold < 1.0,
      s"threshold $threshold outside [0, 1)")
    val p = 1.0 - math.acos(threshold) / math.Pi
    (8 to 1 by -1).iterator.map { b =>
      val l = math.max(1,
        math.ceil(math.log(miss) / math.log1p(-math.pow(p, b))).toInt)
      (b, l)
    }.find { case (b, l) => b * l <= 64 }.getOrElse(
      throw new IllegalArgumentException(
        s"no banding fits the 64-bit signature for threshold=$threshold, " +
          s"miss=$miss (worst-case p=0.5 needs ceil(log(miss)/log(0.5)) " +
          "single-bit tables) — loosen the miss budget"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, bounded to
    * the id-range `pred`: hyperplane-LSH band candidates (the same banding
    * machinery as [[lshTopK]], with (bits, tables) derived from the
    * threshold by [[nearDupBanding]]) verified by exact cosine. Every join
    * is a hash-partitioned equi-join — on (table, bucket) for candidates,
    * on the id for the vector rejoin — so there is no broadcast or
    * nested-loop ceiling anywhere; this replaced an all-pairs
    * `id1 < id2` BNLJ that was only survivable behind a bounded `pred`.
    *
    * Recall is 1 − miss ≈ 1 − 1e-6 AT the threshold and strictly higher
    * above it (the spec pins exact agreement with the brute-force pairs on
    * the catalog data). Cost honesty: for LOW thresholds on unclustered
    * data the S-curve forces narrow tables, buckets stay big, and the
    * candidate set approaches all pairs — the verification is then the
    * same O(n²) work brute force does, just shuffle-safe. Real near-dup
    * corpora (τ ≥ 0.8, clustered) get wide tables and tiny buckets, which
    * is the regime this operator exists for.
    *
    * CONVENTION: `pred` filters the RAW frame, so it references the
    * ORIGINAL column names (e.g. `col("vec_id") < 256`) — unlike the topK
    * operators' `queryPred`, which applies after the internal rename and
    * references the synthetic `id` column. Passing a post-rename pred
    * here fails analysis (or, if the frame coincidentally carries an
    * unrelated `id` column, silently filters the wrong thing). */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         dim: Int, threshold: Double,
                         pred: Column): DataFrame = {
    val (bits, tables) = nearDupBanding(threshold)
    val mask = (1L << bits) - 1
    val base = prepared(emb.where(pred), idCol, vecCol)
    // same consume-once banding discipline as lshTopK: explode the table
    // index off the materialized signature, band frame carries ids only
    val banded = base
      .select(col("id"),
        hyperplaneSignature(col("v"), dim, tables * bits).as("sig"))
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(tables - 1))).as("tbl"))
      .withColumn("bucket", expr(s"shiftright(sig, $bits * tbl) & $mask"))
      .select(col("id"), col("tbl"), col("bucket"))
    val candidates = banded.as("x")
      .join(banded.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
    val sim = round(dotFast(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
    candidates
      .join(base.select(col("id").as("id1"), col("v").as("v1"),
        col("nrm").as("n1")), "id1")
      .join(base.select(col("id").as("id2"), col("v").as("v2"),
        col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"), sim.as("sim"))
      .where(col("sim") >= threshold)
  }

  /** One FIXED-POINT k-means refinement iteration over the corpus,
    * computed entirely in scaled-integer arithmetic so the result is
    * bit-reproducible across engines — the exact, DuckDB-twinnable anchor
    * for [[ivfTopK]]'s float refinement loop (whose iterated centroid
    * means differ by engine at the last ulp and are therefore rows-only
    * at the driver's hash gate).
    *
    * Pipeline: quantize each vector to `round(x · scale)` longs (both
    * engines promote float→double value-exactly and round ties away from
    * zero), pick the [[ivfTopK]]-portable md5-seeded centroids, assign
    * every vector to its nearest centroid by INTEGER squared euclidean
    * distance (argmin, ties to the smallest cid — no norms, no division),
    * then one centroid update with floor-of-exact-ratio coordinates
    * (sums < 2^53, so the double division is IEEE-identical cross-engine
    * and floor is deterministic). Emitted per cell: member count, integer
    * inertia (Σ d² — the quantity Lloyd iteration descends), and integer
    * checksums (Σ/min/max) of the updated centroid coordinates.
    *
    * Same scale shape as one [[ivfTopK]] k-means round: broadcast K-row
    * centroid grid, one partial-agg argmin pass, one posexplode partial
    * agg for the update — no corpus shuffle beyond the (cid, pos) and cid
    * aggregations. */
  def kmeansStepFixedPoint(emb: DataFrame, idCol: String, vecCol: String,
                           nCentroids: Int, scale: Long): DataFrame = {
    graft.plans.VectorExpressions.register(emb.sparkSession)
    val q = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), fixedPoint(vecCol, scale).as("qv"))
    val seeds = q
      .withColumn("h",
        graft.functions.PortableHash.md5Head60(col("id").cast("string")))
      .orderBy(col("h"), col("id"))
      .limit(nCentroids)
      .select(col("id").as("cid"), col("qv").as("cv"))
    // pure long arithmetic end to end: products ≤ (2·scale·|x|max)²·dim
    // stay far below 2^63 for unit-scale embeddings at scale ≤ 1e6;
    // codegen kernel, not the interpreted aggregate(zip_with) lambda
    val d2 = call_function("long_sq_dist", col("qv"), col("cv"))
    // DECIMAL-PACKED argmin, the q95 lesson applied here too: the old
    // min_by(struct(cid, d2, qv), struct(d2, cid)) carried the VECTOR in
    // an immutable struct buffer — Spark silently planned
    // SortAggregateExec (10 nodes in the sf0.1 dump), sorting all N·K
    // assignment rows with the payload riding the sort. min(d2·M + cid)
    // over decimal(38,0) is the identical lexicographic (d2, cid) argmin
    // in a mutable 16-byte buffer — a map-side-combining HashAggregate —
    // and both components unpack exactly (pd div M, pd mod M); the
    // vector re-joins by id afterwards (an N-row equi-join) instead of
    // riding the aggregate. M = max(id)+1, one plan-time scalar job.
    val mEx = idRadix(q)
    val assigned = q.crossJoin(broadcast(seeds))
      .select(col("id"),
        (d2.cast("decimal(38,0)") * lit(mEx) + col("cid")).as("pd"))
      .groupBy(col("id"))
      .agg(min(col("pd")).as("pd"))
      .select(col("id"), (col("pd") % lit(mEx)).cast("long").as("cid"),
        expr(s"CAST(pd div $mEx AS BIGINT)").as("d2"))
      .join(q, Seq("id"))
    // inertia must not ride a LONG sum: per-vector d2 reaches ~3e14 on
    // jittered stress embeddings, and members/centroid grows with SF —
    // the raw sum overflows 2^63 near the 1000× decade (found by the
    // 1000× verify sweep). Sum exactly in decimal(38,0) (DuckDB's
    // sum(BIGINT) is HUGEINT — same 128-bit exactness) and emit the
    // PER-MEMBER average via integral divide: positive decimal `div`
    // truncates identically to HUGEINT `//`, and the average is
    // long-sized at any SF, so the output stays scale-invariant and
    // cross-engine bit-identical.
    val members = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("d2").cast("decimal(38,0)")).as("inertia_raw"))
      .select(col("cid"), col("n_members"),
        expr("CAST(inertia_raw div n_members AS BIGINT)").as("inertia_avg"))
    val sums = assigned
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos")).agg(sum(col("x")).as("s"))
    val newc = sums
      .join(broadcast(members.select(col("cid"), col("n_members"))), "cid")
      .select(col("cid"),
        floor(col("s") / col("n_members")).cast("long").as("c"))
    val chk = newc.groupBy(col("cid"))
      .agg(sum(col("c")).as("csum"), min(col("c")).as("cmin"),
        max(col("c")).as("cmax"))
    members.join(chk, "cid")
      .select(col("cid"), col("n_members"), col("inertia_avg"),
        col("csum"), col("cmin"), col("cmax"))
      .orderBy(col("cid"))
  }

  /** Product-quantization ADC search in exact fixed-point arithmetic —
    * the memory side of the 100 TB ANN design (IVF narrows WHERE to look,
    * PQ shrinks WHAT is stored: m sub-codes per vector instead of the
    * vector, dim/m × compression before int8 even starts).
    *
    * Everything is integer: vectors land in fixed-point longs (scale
    * 1e6), codebooks are md5-seeded sub-vectors of real corpus rows, the
    * encode argmin and the asymmetric-distance sums are pure long
    * arithmetic — so ranks are cross-engine bit-reproducible and the
    * DuckDB oracle hash-gates the whole path (q73's float refinement
    * stays rows-only by physics; this is its PQ counterpart to q79's
    * k-means anchor).
    *
    * Scale shape: codebooks ride broadcasts (m × kCodes rows); encoding
    * is one equi-join on the subspace index + a min_by partial agg; the
    * ADC join probes the broadcast (qid, s, code) distance table and
    * map-side-combines to (qid, id) before the only corpus-sized
    * shuffle; the final ranking k-bounds that shuffle via the partial
    * WindowGroupLimit like every other kNN path here. Codes carry the
    * seed row's id (a long); production would remap the kCodes seed ids
    * to a byte — the join shape is identical.
    */
  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                m: Int, kCodes: Int, scale: Long,
                queryPred: Column, rerank: Int, k: Int): DataFrame = {
    graft.plans.VectorExpressions.register(emb.sparkSession)
    val q = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), fixedPoint(vecCol, scale).as("qv"))
    // ONE plan-time scalar job for dim AND the pack radix — these were
    // two separate corpus aggregates (the dim max and idRadix's id
    // max/min), i.e. two full passes for three scalars one pass yields.
    // (An r18 attempt to ALSO overlap the seed TakeOrdered with this job
    // measured flat-to-worse and was reverted: the split forced the
    // seeds to materialize separately from the subC chain, and the extra
    // job's dispatch cost ate the overlap — q88 read 1.25 → 1.43 s
    // warm-min in alternating A/Bs. The chain stays one job.)
    val hd = q.agg(max(size(col("qv"))), max(col("id")), min(col("id")))
      .head()
    val dim = hd.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    require(hd.isNullAt(2) || hd.getLong(2) >= 0L,
      s"decimal-packed argmin requires non-negative ids; saw min(id)=" +
        s"${hd.getLong(2)}")
    val mEx = if (hd.isNullAt(1)) 1L else hd.getLong(1) + 1L
    val sd = dim / m
    val seeds = q
      .withColumn("h",
        graft.functions.PortableHash.md5Head60(col("id").cast("string")))
      .orderBy(col("h"), col("id"))
      .limit(kCodes)
      .select(col("id").as("cid"), col("qv").as("cv"))
    def subspaces(df: DataFrame, vec: String, out: String) =
      df.withColumn("s", explode(sequence(lit(0), lit(m - 1))))
        .withColumn(out, expr(s"slice($vec, s * $sd + 1, $sd)"))
        .drop(vec)
    // materialized ONCE (m·kCodes rows, broadcast-sized): subC feeds two
    // separate broadcast exchanges (the encode join and the ADC table
    // join), and each would otherwise re-execute the corpus-wide seed
    // TakeOrdered chain — the ivfPqIndex discipline applied to the
    // inline path
    val subC = subspaces(seeds, "cv", "csub").localCheckpoint(true)
    // codegen'd exact long Σ(a−b)² (plans.LongSquaredDistance) — the
    // aggregate(zip_with) lambda it replaces ran interpreted with a boxed
    // frame per element; identical sums over the equal-length slices
    // (VectorExpressionsSpec parity; the q88 hash gate re-proves it)
    val d2 = call_function("long_sq_dist", col("sub"), col("csub"))
    // encode argmin, DECIMAL-PACKED (the q95/q79 lesson): the old
    // min_by(cid, struct(d2, cid)) struct buffer planned SortAggregateExec
    // and sorted all N·m·kCodes candidate rows; min(d2·M + cid) over
    // decimal(38,0) is the identical (d2, cid) order in a mutable buffer
    // — map-side-combining HashAggregate. M = max(id)+1 (mEx — fused
    // into the dim scalar job above).
    val codes = subspaces(q, "qv", "sub")
      .join(broadcast(subC), "s")
      .select(col("id"), col("s"),
        (d2.cast("decimal(38,0)") * lit(mEx) + col("cid")).as("pd"))
      .groupBy(col("id"), col("s"))
      .agg(min(col("pd")).as("pd"))
      .select(col("id"), col("s"),
        (col("pd") % lit(mEx)).cast("long").as("code"))
    // ADC tables: query sub-vector → every codebook entry, bounded at
    // nQueries × m × kCodes rows
    val table = subspaces(q.where(queryPred).withColumnRenamed("id", "qid"),
        "qv", "sub")
      .join(broadcast(subC), "s")
      .select(col("qid"), col("s"), col("cid").as("code"), d2.as("td2"))
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    val shortlist = codes.join(broadcast(table), Seq("s", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("td2")).as("adc"))
      .withColumn("arank", row_number().over(wAdc))
      .where(col("arank") <= rerank)
      .select(col("qid"), col("id"), col("adc"))
    // exact rerank: the broadcast nQueries × rerank shortlist prunes the
    // corpus scan to the shortlisted rows; true integer distances break
    // ADC's quantization ties, so the emitted ranking is the exact-on-
    // shortlist order (still all-long arithmetic — still hash-matchable)
    val qvecs = q.where(queryPred)
      .select(col("id").as("qid"), col("qv").as("quv"))
    val exactD2 = call_function("long_sq_dist", col("qv"), col("quv"))
    val wEx = Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))
    q.join(broadcast(shortlist), "id")
      .join(broadcast(qvecs), "qid")
      .select(col("qid"), col("id"), col("adc"), exactD2.as("d2"))
      .withColumn("rank", row_number().over(wEx))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adc"), col("d2"))
  }

  /** IVF-PQ (IVFADC, Jégou et al.) — the production 100 TB ANN shape,
    * composing [[ivfTopK]]'s cell routing with [[pqAdcTopK]]'s compressed
    * scoring: vectors land in integer fixed-point, route to `nCells`
    * md5-seeded cells by exact integer L2, and queries probe only their
    * `nProbe` nearest cells; PQ codes (m subspaces × kCodes md5-seeded
    * codebooks) are ADC-scored ONLY for probed-cell members — candidate
    * cost ~ (nProbe/nCells)·N·m versus q88's full-corpus ADC — then the
    * integer-exact rerank k-bounds the result per query.
    *
    * All-long/decimal arithmetic end to end, so unlike float IVF the FULL
    * ranking hash-matches a DuckDB twin (q125): the driver gate covers
    * routing, probe choice, encode, ADC join shape, and rerank at once.
    *
    * Scale shape: cells and codebooks ride broadcasts; both argmins are
    * decimal-packed map-side-combining HashAggregates (min(d2·M + id) —
    * a min_by(struct) here would silently plan SortAggregateExec and sort
    * the N·K assignment stream, the q95 lesson); the probe window ranks a
    * broadcast-bounded q×nCells grid, never the corpus; the probed-member
    * join broadcasts the bounded probe set. Fixed nCells keeps routing
    * O(N·K·d) — production at corpus-scaled K would add
    * [[semanticDedup]]'s √K hierarchical routing; the join shape
    * downstream is identical.
    *
    * `queryPred` must select a BOUNDED query set — a constant-size id
    * window such as `id >= a && id < b`: the probe set, the ADC distance
    * table and the rerank shortlist (all ∝ queries) are BROADCAST, so a
    * predicate whose match count grows with the corpus (a modulus) grows
    * the broadcasts with it. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                nCells: Int, nProbe: Int, m: Int, kCodes: Int, scale: Long,
                queryPred: Column, rerank: Int, k: Int): DataFrame = {
    val (q, cells, assigned, subC, codes, sd) =
      ivfPqIndex(emb, idCol, vecCol, nCells, m, kCodes, scale)
    val codesCid = codes.join(assigned.select(col("id"), col("cid")),
      Seq("id"))
    val qVecs = q.where(queryPred).select(col("id").as("qid"), col("qv"))
    pqSearch(q, qVecs, cells, subC, codesCid, m, sd, nProbe, rerank, k)
  }

  /** Slice `df.vec` into the m per-subspace arrays (`s`, `out`). */
  private def subspaces(df: DataFrame, vec: String, out: String,
                        m: Int, sd: Int): DataFrame =
    df.withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .withColumn(out, expr(s"slice($vec, s * $sd + 1, $sd)"))
      .drop(vec)

  /** The IVF-PQ index build — fixed-point corpus, md5-seeded integer cell
    * grid + per-vector assignment, md5-seeded subspace codebooks +
    * per-(vector, subspace) code argmin. Shared by the inline
    * [[ivfPqTopK]] and the stored [[ivfPqBuildStored]] so the two cannot
    * drift. Returns (corpus q, cells, assigned, subspace codebooks,
    * codes, subspace dim).
    *
    * A FUSED single-aggregate encode (cell argmin + all m code argmins
    * in one groupBy(id) with 17 packed-decimal min slots, the codes as
    * an array) was built and REVERTED in r18: a same-JVM alternating A/B
    * at the 100× decade (3 rounds, ScratchEncodeAB, parity-gated) read
    * it 2.2× SLOWER (old min 2.61 s vs fused 5.80 s) — the 17-slot
    * decimal buffer and per-row branch fan-out cost far more than the
    * saved (id, s)-keyed exchange and id-join ever bought. Keep the
    * two-aggregate + join shape. */
  private def ivfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                         nCells: Int, m: Int, kCodes: Int, scale: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, Int) = {
    graft.plans.VectorExpressions.register(emb.sparkSession)
    val q = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), fixedPoint(vecCol, scale).as("qv"))
    def mdSeeds(salt: String, n: Int, outId: String) = q
      .withColumn("h", graft.functions.PortableHash.md5Head60(
        concat(lit(salt), col("id").cast("string"))))
      .orderBy(col("h"), col("id"))
      .limit(n)
      .select(col("id").as(outId), col("qv").as("cv"))

    // Plan-time jobs, fused and overlapped (r18; guide §2.6 + the q88
    // scalar-fusion recipe): the pre-r18 shape ran FOUR sequential
    // driver-blocking corpus jobs before the main plan — dim max, id
    // radix, and the two seed TakeOrdereds — every attempt. Now dim +
    // radix ride ONE aggregate that overlaps the cell-seed TakeOrdered
    // on a driver thread; only the codebook seeds (which need sd = dim/m
    // for the subspace slicing) wait for the scalars. 4 sequential
    // corpus jobs → 2 overlapped rounds.
    //
    // cells/subC stay materialized once (r17, the ivfIndex centroid
    // discipline): both are consumed by the assignment/encode argmins
    // AND the search/write sides, and each is a seed-count-sized frame
    // whose upstream is a corpus-wide TakeOrdered.
    val cellsT = graft.sources.Overlap.future(
      mdSeeds("ivf:", nCells, "cid").localCheckpoint())
    // guarding: a scalar-job failure (or a guard require below) must not
    // leave the seed job running detached
    val (dim, mExclusive) = graft.sources.Overlap.guarding(cellsT) {
      val r = q.agg(max(size(col("qv"))), max(col("id")), min(col("id")))
        .head()
      // empty (or all-null-vector) corpus: dim 0 / radix 1, and every
      // frame below is lazily empty — the idRadix guard discipline
      val d = if (r.isNullAt(0)) 0 else r.getInt(0)
      require(d % m == 0, s"dim $d not divisible by m=$m")
      val mx =
        if (r.isNullAt(1)) 1L
        else {
          require(r.getLong(2) >= 0L,
            "decimal-packed argmin requires non-negative ids; saw " +
              s"min(id)=${r.getLong(2)}")
          r.getLong(1) + 1L
        }
      (d, mx)
    }
    val sd = dim / m
    // guarded like the scalars: a failed codebook build joins the seed job
    val subC = graft.sources.Overlap.guarding(cellsT)(
      subspaces(mdSeeds("pq:", kCodes, "ccid"), "cv", "csub", m, sd)
        .localCheckpoint())
    val cells = cellsT()
    // cell assignment + PQ encode (whole corpus — the index-build cost)
    val (assigned, codes) = pqAssignEncode(q, cells, subC, m, sd, mExclusive)
    (q, cells, assigned, subC, codes, sd)
  }

  /** Decimal-packed argmin (the q95/q79 lesson): per `idC`, the `keyC`
    * with the smallest `distC`, ties to the smaller key, as
    * min(dist·radix + key) over decimal(38,0) — the identical
    * lexicographic (dist, key) order in a mutable 16-byte buffer, so the
    * pairs stream through a map-side-combining HashAggregate; a
    * min_by(struct) buffer is immutable and would silently plan
    * SortAggregateExec, sorting every candidate pair. Exact only while
    * 0 <= key < `radix` — callers pass a radix covering every key (and
    * require non-negative ids). */
  private def packedArgmin(pairs: DataFrame, idC: String, distC: Column,
                           keyC: String, outC: String,
                           radix: Long): DataFrame =
    pairs
      .select(col(idC),
        (distC.cast("decimal(38,0)") * lit(radix) + col(keyC)).as("pd"))
      .groupBy(col(idC))
      .agg(min(col("pd")).as("pd"))
      .select(col(idC), (col("pd") % lit(radix)).cast("long").as(outC))

  /** Route every `q` (id, qv) vector to its integer-L2-nearest cell and
    * encode each of its m subspaces against the codebooks — ONE
    * implementation behind the build ([[ivfPqIndex]]) and the batch
    * encode against a stored index ([[encodeAgainstStored]]). `radix`
    * must exceed every id, cid and ccid. Returns (assigned (id, cid),
    * codes (id, s, code)). */
  private def pqAssignEncode(q: DataFrame, cells: DataFrame,
                             subC: DataFrame, m: Int, sd: Int,
                             radix: Long): (DataFrame, DataFrame) = {
    val assigned = packedArgmin(q.crossJoin(broadcast(cells)), "id",
      call_function("long_sq_dist", col("qv"), col("cv")), "cid", "cid",
      radix)
    val codes = packedArgmin(
      subspaces(q, "qv", "sub", m, sd).join(broadcast(subC), "s")
        .withColumn("ik", col("id") * m + col("s")), // (id, s) packed for the argmin
      "ik", call_function("long_sq_dist", col("sub"), col("csub")), "ccid",
      "code", radix)
      .select(expr(s"ik div $m").as("id"),
        pmod(col("ik"), lit(m)).cast("int").as("s"), col("code"))
    (assigned, codes)
  }

  /** The stored code rows (cid, id, s, code, fp) for an encoded batch:
    * codes joined to their cell and to the raw per-id hash, fp kept on
    * the s = 0 row only (the token term rides one row per vector). */
  private def pqCodeRows(codes: DataFrame, assigned: DataFrame,
                         emb: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    codes.join(assigned.select(col("id"), col("cid")), Seq("id"))
      .join(pqFps(emb, idCol, vecCol), Seq("id"))
      .select(col("cid"), col("id"), col("s"), col("code"),
        when(col("s") === 0, col("fp")).as("fp"))

  /** Per-id raw-content hashes for a PQ batch — the token terms that ride
    * the s = 0 code rows. */
  private def pqFps(emb: DataFrame, idCol: String,
                    vecCol: String): DataFrame =
    emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        xxhash64(col(idCol), col(vecCol)).as("fp"))

  /** The online IVF-PQ search: probe nProbe integer-L2-nearest cells, ADC
    * only the probed cells' code rows against the per-query distance
    * table, integer-exact rerank of the shortlist. `codesCid` carries
    * (cid, id, s, code) — the stored-index layout; the inline path derives
    * it by joining codes to the assignment. ONE implementation behind
    * [[ivfPqTopK]] and [[ivfPqSearchStored]]. */
  private def pqSearch(q: DataFrame, qVecs: DataFrame, cells: DataFrame,
                       subC: DataFrame, codesCid: DataFrame, m: Int,
                       sd: Int, nProbe: Int, rerank: Int,
                       k: Int): DataFrame = {
    // queries probe their nProbe nearest cells — a q×nCells grid window
    val probeW = Window.partitionBy(col("qid")).orderBy(col("d2"), col("cid"))
    val probes = qVecs.crossJoin(broadcast(cells))
      .select(col("qid"), col("cid"),
        call_function("long_sq_dist", col("qv"), col("cv")).as("d2"))
      .withColumn("rn", row_number().over(probeW))
      .where(col("rn") <= nProbe)
      .select(col("qid"), col("cid"))
    val table = subspaces(qVecs.withColumnRenamed("qid", "id")
        .withColumnRenamed("qv", "tv"), "tv", "sub", m, sd)
      .join(broadcast(subC), "s")
      .select(col("id").as("qid"), col("s"), col("ccid").as("code"),
        call_function("long_sq_dist", col("sub"), col("csub")).as("td2"))

    // ADC confined to probed-cell members — the IVF win over q88.
    // probes is broadcast by CONSTRUCTION (≤ queries × nProbe rows — the
    // same boundedness the table/shortlist/qFull broadcasts below
    // already assume): without the hint the initial plan SMJs this join
    // and pays a full shuffle write of the m·N code rows by cid before
    // AQE's runtime rewrite can act (r18; 34 → 26 exchanges in q125's
    // formatted plan).
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc"), col("id"))
    val shortlist = broadcast(probes).join(codesCid, "cid")
      .join(broadcast(table), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("td2")).as("adc"))
      .withColumn("arank", row_number().over(wAdc))
      .where(col("arank") <= rerank)
      .select(col("qid"), col("id"), col("adc"))
    // integer-exact rerank of the broadcast-bounded shortlist
    val qFull = qVecs.withColumnRenamed("qv", "quv")
    val wEx = Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))
    q.join(broadcast(shortlist), "id")
      .join(broadcast(qFull), "qid")
      .select(col("qid"), col("id"), col("adc"),
        call_function("long_sq_dist", col("qv"), col("quv")).as("d2"))
      .withColumn("rank", row_number().over(wEx))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("adc"), col("d2"))
  }

  /** [[ivfScanToken]]'s contract for the PQ store — the AUDIT scan form.
    * The hash is over the RAW (id, vector): raw vectors never enter the
    * compressed store, so the per-id hash is computed at encode time
    * (when the raw batch is in hand) and stored on the s = 0 code rows
    * for the maintenance token folds. */
  private[graft] def pqScanToken(emb: DataFrame, idCol: String,
                                 vecCol: String, nCells: Int, m: Int,
                                 kCodes: Int, scale: Long,
                                 bands: Int): String =
    graft.sources.CorpusToken.render("ivfpq3",
      graft.sources.CorpusToken.terms(emb.where(col(vecCol).isNotNull),
        col(idCol), xxhash64(col(idCol), col(vecCol))),
      s"cells=$nCells|m=$m|codes=$kCodes|scale=$scale|bands=$bands")

  /** [[ivfCorpusToken]] for the compressed store. */
  def ivfPqCorpusToken(emb: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, m: Int, kCodes: Int, scale: Long,
                       index: graft.sources.PqIndex): String =
    pqMeta(emb, idCol, vecCol, nCells, m, kCodes, scale, index)

  /** The memo key for (emb, params) — shared by the scan path
    * ([[pqMeta]]) and the build's code-row fold ([[ivfPqBuildStored]]). */
  private def pqKey(idCol: String, vecCol: String, nCells: Int, m: Int,
                    kCodes: Int, scale: Long,
                    index: graft.sources.PqIndex): String =
    s"ivfpq3|$idCol|$vecCol|cells=$nCells|m=$m|codes=$kCodes" +
      s"|scale=$scale|bands=${index.nBands}"

  private def pqMeta(emb: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, m: Int, kCodes: Int, scale: Long,
                     index: graft.sources.PqIndex): String =
    graft.sources.CorpusToken.cachedToken(emb,
      pqKey(idCol, vecCol, nCells, m, kCodes, scale, index))(
      pqScanToken(emb, idCol, vecCol, nCells, m, kCodes, scale,
        index.nBands))

  /** OFFLINE IVF-PQ build: persist the integer cell grid, the subspace
    * codebooks, and the cid-clustered code rows into `index` — the
    * compressed production index ([[ivfBuildStored]] stores raw vectors in
    * its posting lists; this stores m codes per vector, the dim/m ×
    * smaller footprint that makes 100 TB ANN memory-feasible). The
    * compression is the documented rebuild asymmetry: codes are LOSSY, so
    * unlike [[ivfRebuildStored]] (raw vectors ride the postings) and
    * [[TfIdf.sparseRebuildStored]] (tf rides every posting row), a PQ
    * codebook re-train cannot run from the index's own rows — the
    * rebuild cadence for this store is this build over the corpus, which
    * is exactly the trade that bought the dim/m footprint. Returns the
    * per-cell code census read back from disk. */
  def ivfPqBuildStored(emb: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, m: Int, kCodes: Int, scale: Long,
                       index: graft.sources.PqIndex): DataFrame = {
    val (_, cells, assigned, subC, codes, _) =
      ivfPqIndex(emb, idCol, vecCol, nCells, m, kCodes, scale)
    // materialized ONCE: the code relation feeds the range-partitioner's
    // sampling pass AND the clustered shuffle — unmaterialized, the
    // whole-corpus encode argmin (the build's dominant cost) would run
    // twice
    val codesCid = pqCodeRows(codes, assigned, emb, idCol, vecCol)
      .localCheckpoint(true)
    // token folded from the checkpointed s = 0 code rows instead of a
    // second (memo-cold) corpus scan (r17; the sparseBuildStored
    // discipline): pqFps' inner join already confined codesCid to the
    // non-null-vector ids and its fp is exactly the scan's hash term,
    // so the fold is string-equal to pqScanToken. Routed through the
    // session memo under the CORPUS frame's identity as before. `def`:
    // evaluated by writeIndex on a driver thread overlapped with its
    // three table swaps (guide §2.6) — reads only checkpointed code rows.
    def meta = graft.sources.CorpusToken.cachedToken(emb,
      pqKey(idCol, vecCol, nCells, m, kCodes, scale, index))(
      graft.sources.CorpusToken.render("ivfpq3",
        graft.sources.CorpusToken.terms(codesCid.where(col("s") === 0),
          col("id"), col("fp")),
        s"cells=$nCells|m=$m|codes=$kCodes|scale=$scale" +
          s"|bands=${index.nBands}"))
    index.writeIndex(
      cells.select(col("cid"), col("cv")),
      subC.select(col("s"), col("ccid"), col("csub")),
      codesCid,
      meta)
    pqCensus(index)
  }

  /** INCREMENTAL IVF-PQ maintenance: encode `newEmb` against the STORED
    * codebooks and assign it to the STORED cell grid — no re-train, no
    * re-encode of existing rows; exactly how a production IVF-PQ absorbs
    * an ingest batch between codebook refreshes (the stale-codebook
    * analogy of [[graft.operators.TfIdf.sparseExtendStored]]'s stale-IDF
    * contract: a batch vector is quantized by the BUILD's geometry, and
    * codebook drift is absorbed at the next full [[ivfPqBuildStored]]).
    * Upsert is keyed on id — a re-ingested vector's old code rows are
    * evicted wherever they lived. Cost: |batch| × (nCells + m·kCodes)
    * broadcast work + a touched-bands-only code rewrite. Returns the
    * per-cell code census read back from disk. */
  def ivfPqExtendStored(newEmb: DataFrame, idCol: String, vecCol: String,
                        m: Int, scale: Long,
                        index: graft.sources.PqIndex): DataFrame = {
    index.upsertCodes(encodeAgainstStored(newEmb, idCol, vecCol, m, scale,
      index))
    pqCensus(index)
  }

  /** Encode a batch against a STORED PQ index's grid and codebooks —
    * ONE implementation behind the keyed [[ivfPqExtendStored]] and the
    * append-only [[ivfPqAppendStored]]. Returns (cid, id, s, code). */
  private def encodeAgainstStored(newEmb: DataFrame, idCol: String,
                                  vecCol: String, m: Int, scale: Long,
                                  index: graft.sources.PqIndex): DataFrame = {
    graft.plans.VectorExpressions.register(newEmb.sparkSession)
    val cells = index.readCells()
    val subC = index.readCodebooks()
    val sdHead = subC.select(size(col("csub")).as("sd")).take(1)
    require(sdHead.nonEmpty,
      "stored codebooks are empty — build the index before extending it")
    val sd = sdHead(0).getInt(0)
    // covering radix for the decimal-packed argmins (cell cids and
    // codebook ccids are corpus vec_ids from the BASE build — the
    // ivfExtendStored lesson: a batch-derived radix under-covers them)
    val kMax = cells.agg(max(col("cid"))).first().getLong(0)
      .max(subC.agg(max(col("ccid"))).first().getLong(0))
    val mEx = kMax + 1L
    val q = newEmb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), fixedPoint(vecCol, scale).as("qv"))
    val bMin = q.agg(min(col("id"))).first()
    if (!bMin.isNullAt(0))
      require(bMin.getLong(0) >= 0,
        s"non-negative ids required; saw min(id)=${bMin.getLong(0)}")
    val (assigned, codes) = pqAssignEncode(q, cells, subC, m, sd, mEx)
    pqCodeRows(codes, assigned, newEmb, idCol, vecCol)
  }

  /** Build `index` from `emb` iff its fingerprint does not match the
    * corpus + params — the [[ivfEnsureStored]] contract for the
    * compressed store. */
  def ivfPqEnsureStored(emb: DataFrame, idCol: String, vecCol: String,
                        nCells: Int, m: Int, kCodes: Int, scale: Long,
                        index: graft.sources.PqIndex): Unit =
    index.ensureCovers(None,
      pqMeta(emb, idCol, vecCol, nCells, m, kCodes, scale, index),
      "ivfPqCorpusToken")(
      ivfPqBuildStored(emb, idCol, vecCol, nCells, m, kCodes, scale, index))

  /** O(batch) PQ ingest for genuinely-new ids — [[ivfPqExtendStored]]
    * without the eviction rewrite ([[ivfAppendStored]]'s contract for
    * the compressed store): the batch encodes against the STORED
    * codebooks, assigns to the STORED grid, and its code files APPEND
    * inside the touched bands. Returns the per-cell code census read
    * back from disk. */
  def ivfPqAppendStored(newEmb: DataFrame, idCol: String, vecCol: String,
                        m: Int, scale: Long,
                        index: graft.sources.PqIndex,
                        expectToken: Option[String] = None): DataFrame = {
    // [[ivfAppendStored]]'s append-once contract: apply only while the
    // index still covers the caller's pre-batch corpus version
    if (expectToken.forall(index.isCurrent))
      index.appendCodes(encodeAgainstStored(newEmb, idCol, vecCol, m,
        scale, index))
    pqCensus(index)
  }

  /** PQ INDEX DELETION — the compressed store's forget path, completing
    * the lifecycle across all three stored families. No re-encode: codes
    * are per-vector, so dropping `ids`' m rows each is complete physical
    * removal (a forgotten vector can never be ADC-scored again); cells
    * and codebooks are summaries, untouched between rebuilds, exactly
    * like [[ivfDeleteStored]]'s centroids. Idempotent. Returns the
    * per-cell code census read back from disk. */
  def ivfPqDeleteStored(ids: DataFrame,
                        index: graft.sources.PqIndex): DataFrame = {
    index.deleteCodes(ids)
    pqCensus(index)
  }

  /** ONLINE IVF-PQ search over a stored index: the [[pqSearch]] pipeline
    * reading the prebuilt cell grid + codebooks (broadcast) and the
    * cid-clustered code rows (row-group-pruned to the probed cells) — no
    * encode or assignment stages in the plan; the raw corpus is touched
    * only for the query vectors and the k-bounded exact rerank. Missing or
    * stale index self-heals with one synchronous build. `queryPred` must
    * select a BOUNDED query set — [[ivfPqTopK]]'s broadcast
    * requirement. */
  def ivfPqSearchStored(emb: DataFrame, idCol: String, vecCol: String,
                        nCells: Int, nProbe: Int, m: Int, kCodes: Int,
                        scale: Long, queryPred: Column, rerank: Int, k: Int,
                        index: graft.sources.PqIndex,
                        corpusToken: Option[String] = None): DataFrame = {
    index.ensureCovers(corpusToken,
      pqMeta(emb, idCol, vecCol, nCells, m, kCodes, scale, index),
      "ivfPqCorpusToken")(
      ivfPqBuildStored(emb, idCol, vecCol, nCells, m, kCodes, scale, index))
    graft.plans.VectorExpressions.register(emb.sparkSession)
    val q = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), fixedPoint(vecCol, scale).as("qv"))
    // subspace dim from the STORED codebooks (length of any csub): no
    // corpus-wide aggregate job per search, and an empty/all-null corpus
    // fails with a message instead of an NPE on a null aggregate row
    val cbHead = index.readCodebooks()
      .select(size(col("csub")).as("sd")).take(1)
    require(cbHead.nonEmpty,
      "stored codebooks are empty — the corpus has no vectors to search")
    pqSearch(q, q.where(queryPred).select(col("id").as("qid"), col("qv")),
      index.readCells(), index.readCodebooks(),
      index.readCodes(), m, cbHead(0).getInt(0), nProbe, rerank, k)
  }

  /** The all-pairs reference implementation — spec-only, kept as ground
    * truth for the recall pin on [[cosineNearDupPairs]] (its `id1 < id2`
    * self-join is the BNLJ anti-pattern the LSH composition removed). */
  private[graft] def cosineNearDupPairsBrute(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, pred: Column): DataFrame = {
    val base = prepared(emb.where(pred), idCol, vecCol)
    val sim = round(dotFast(col("x.v"), col("y.v")) /
      (col("x.nrm") * col("y.nrm")), 6)
    base.as("x")
      .join(base.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"), sim.as("sim"))
      .where(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic dedup, integer-exact end to end: partition
    * the embedding space into K cells (md5-picked seed vectors, nearest
    * cell by integer L2 — one k-means assignment step), then test
    * cosine ≥ τ only WITHIN a cell and drop every doc that matches a
    * lower-id cell-mate. Emitted per doc: its cell, how many lower-id
    * near-dups it has, and the keep decision.
    *
    * Why this shape survives 100 TB where q31's corpus-wide LSH and the
    * brute all-pairs don't: K is ADAPTIVE — `max(minK, ceil(N /
    * targetCell))` — so the expected cell stays ~targetCell rows at any
    * corpus size and the intra-cell self-join moves O(N · targetCell)
    * pairs, not O(N²). The two real bills, priced: (1) assignment is
    * HIERARCHICAL — ceil(√K) super-seeds route each doc to a super-cell
    * (O(N·√K·d)), then the doc picks its cell among that super-cell's
    * seeds (expected √K of them, O(N·√K·d) again). The flat O(N·K·d)
    * scan this replaced is quadratic in N once K scales with N — it
    * measured 153 s at the 100× decade (2.5e11 kernel ops) where the
    * two-level path does ~1/44th the arithmetic; (2) the cell self-join
    * hash-partitions on cid, so a pathologically hot cell is one skewed
    * task — targetCell bounds the EXPECTED size, AQE skew split handles
    * the tail.
    *
    * Everything is long/decimal arithmetic: vectors land in fixed-point
    * longs (scale 1e6), the argmin orders by (d², cid), and the cosine
    * test cross-multiplies — `dot > 0 ∧ dot²·10⁴ ≥ τpct²·|a|²·|b|²` in
    * decimal(38,0) (DuckDB HUGEINT) — so no sqrt, no float, and the
    * whole decision procedure hash-matches the DuckDB twin. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    scale: Long, targetCell: Int, minK: Int,
                    thresholdPct: Int): DataFrame = {
    graft.plans.VectorExpressions.register(emb.sparkSession)
    val q = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), fixedPoint(vecCol, scale).as("qv"))
    // plan-time scalar (one count job) — the same sizing pattern as
    // BloomPrune.buildSized; the oracle recomputes it in SQL
    val n = q.count()
    val k = math.max(minK, ((n + targetCell - 1) / targetCell).toInt)
    // seeds/supers are materialized once (r17, the ivfIndex centroid
    // discipline): each is a seed-count-sized frame whose upstream is a
    // corpus-wide TakeOrdered, and each has two consumers below —
    // un-checkpointed, that corpus pass re-ran per consumer.
    val seeds = q
      .withColumn("h", graft.functions.PortableHash.md5Head60(
        concat(lit("sem:"), col("id").cast("string"))))
      .orderBy(col("h"), col("id"))
      .limit(k)
      .select(col("id").as("cid"), col("qv").as("cv"))
      .localCheckpoint()
    // codegen'd long kernels — exact long sums commute, so the kernel is
    // bit-identical to the aggregate(zip_with) composition it replaces
    // (parity pinned in VectorExpressionsSpec); the interpreted lambdas
    // were q95's dominant cost (2.74 s at sf0.1, ~4× the kernel).
    //
    // The argmin itself is a DECIMAL-PACKED HashAggregate, not a
    // min_by(struct, struct): struct aggregation buffers are immutable,
    // which forces SortAggregateExec — at the 100× decade that plan SORTED
    // the N·K assignment pairs (3.9e9 rows, ~70 GiB of heap, unbounded
    // wall time). min(d2·M + cid) over decimal(38,0), with M = max(id)+1
    // a plan-time scalar (cid is a seed's ORIGINAL id, so cid < M makes
    // the packing an exact lexicographic (d2, cid) order; d2·M sits far
    // inside decimal(38,0) at any decade) — the buffer is a mutable
    // 16-byte decimal, so the pairs stream through a map-side-combining
    // hash agg: each partition emits ONE row per doc and nothing is ever
    // sorted. The doc vector is re-joined by id afterwards (an N-row
    // equi-join) instead of riding the aggregate.
    val mExclusive = idRadix(q)
    val sCount = math.ceil(math.sqrt(k.toDouble)).toInt
    // the super-seed grid is the md5-order PREFIX of the seed list, built
    // by its own TakeOrdered so determinism never leans on limit-of-limit
    val supers = q
      .withColumn("h", graft.functions.PortableHash.md5Head60(
        concat(lit("sem:"), col("id").cast("string"))))
      .orderBy(col("h"), col("id"))
      .limit(sCount)
      .select(col("id").as("sid"), col("qv").as("sv"))
      .localCheckpoint()
    // route every seed, then every doc, to its super-cell (√K candidates)
    val seedSuper = packedArgmin(seeds.crossJoin(broadcast(supers)), "cid",
      call_function("long_sq_dist", col("cv"), col("sv")), "sid", "sid",
      mExclusive)
    val docSuper = packedArgmin(q.crossJoin(broadcast(supers)), "id",
      call_function("long_sq_dist", col("qv"), col("sv")), "sid", "sid",
      mExclusive)
    // then pick the cell among that super-cell's seeds (expected √K rows)
    val cellCands = q.join(docSuper, Seq("id"))
      .join(broadcast(seeds.join(seedSuper, Seq("cid"))), Seq("sid"))
    // materialized ONCE (r17): assigned is consumed THREE times (both
    // sides of the within-cell pair join and the final readout) — un-
    // checkpointed, each consumer re-executed the entire two-level
    // routing chain (super-route, cell-route, vector rejoin). The pair
    // join needs (qv, n2) on both sides anyway, so materializing the
    // relation once strictly beats recomputing the routing per consumer.
    val assigned = packedArgmin(cellCands, "id",
      call_function("long_sq_dist", col("qv"), col("cv")), "cid", "cid",
      mExclusive)
      .join(q, Seq("id"))
      .withColumn("n2", call_function("long_dot", col("qv"), col("qv")))
      .localCheckpoint()
    val dot = call_function("long_dot", col("x.qv"), col("y.qv"))
    val t2 = thresholdPct.toLong * thresholdPct
    val near = dot > 0 &&
      (dot.cast("decimal(38,0)") * dot.cast("decimal(38,0)") * lit(10000L)
        >= col("x.n2").cast("decimal(38,0)") *
           col("y.n2").cast("decimal(38,0)") * lit(t2))
    val dupsBelow = assigned.as("y")
      .join(assigned.as("x"),
        col("x.cid") === col("y.cid") && col("x.id") < col("y.id"))
      .where(near)
      .groupBy(col("y.id").as("id"))
      .agg(count(lit(1)).as("n_dups_lower"))
    assigned.select(col("id"), col("cid"))
      .join(dupsBelow, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("n_dups_lower"), lit(0L)).as("n_dups_lower"))
      .withColumn("kept", col("n_dups_lower") === 0)
      .orderBy(col("id"))
  }
}
