package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables

/** Round-11 curation/analytics operators: interval algebra, sequence-model
  * scoring, graph traversal, transition matrices, and wide-table
  * denormalization. Same contract as [[Analytics]]: every query is
  * integer-exact (or identical-IEEE-op-sequence) so the DuckDB twin in
  * [[CurationOracles]] hash-matches, and every shuffle is keyed on the
  * matched quantity so the plan scales to the 100 TB design point.
  */
object Curation {
  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables(s, dir, name)

  private def cents(c: Column) = round(c * 100, 0).cast("long")

  // Interval coalescing (the calendar-coverage primitive: merge each key's
  // overlapping validity windows, report merged-segment count + covered
  // days). Intervals synthesized from orders: [orderdate, orderdate + 1 +
  // orderkey%14). The sweep is the classic sort + running-max-end: a row
  // opens a NEW segment iff its start clears the max end of all earlier
  // rows — both windows share one partition-local sort on (custkey, st,
  // en); no unpartitioned window, post-shuffle state O(orders per key).
  def q124IntervalCoalesce(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir)("orders").select(
        col("o_custkey").as("k"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("long").as("st"),
        col("o_orderkey"))
      .withColumn("en", col("st") + 1L + pmod(col("o_orderkey"), lit(14L)))
      .drop("o_orderkey")
    val ord = Window.partitionBy(col("k")).orderBy(col("st"), col("en"))
    val seg = iv
      .withColumn("pmax",
        max(col("en")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens",
        when(col("pmax").isNull || col("st") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("seg",
        sum(col("opens")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    seg.groupBy(col("k"), col("seg"))
      .agg(min(col("st")).as("s0"), max(col("en")).as("e1"),
        count(lit(1)).as("n"))
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("int").as("n_segments"),
        sum(col("n")).cast("int").as("n_intervals"),
        sum(col("e1") - col("s0")).as("covered_days"))
      .select(col("k").as("o_custkey"), col("n_intervals"),
        col("n_segments"), col("covered_days"))
      .orderBy(col("o_custkey"))
  }

  // Bigram-LM transition surprisal (KenLM-style quality scoring, integer-
  // exact): corpus bigram model P(w2|w1) = c(w1 w2)/c(w1 ·); each doc is
  // scored by its mean inverse transition probability in micro units —
  // floor(c1·1e6/c2) per distinct bigram, count-weighted per doc. All
  // integer, so order-independent and hash-exact (the q105 pattern: ratio
  // readouts instead of ln, whose last ulp differs across engines' libm).
  //
  // Shuffle discipline (the q112 lesson, applied here after round 11
  // shipped the anti-shape): every post-tokenizer key is a 60-bit
  // md5Head60 LONG — the bigram string and its head word are hashed in
  // the SAME projection that forms them and never travel. The per-doc
  // census, the corpus census, the head-word rollup, and the model join
  // all move 8 B keys (the raw-string version shipped ~50 B/key; q112
  // measured that exact swap 310 s → 64 s at the 1000× decade). An hbg
  // collision would merge two bigrams in BOTH engines (the oracle replays
  // the identical hash), so the gate is unaffected; odds are ~V²/2⁶¹ for
  // vocab V. Overflow: c1·1e6 and the per-doc accumulator both widen
  // through decimal(38,0) (ADVICE r11 — at 100 TB c1 can reach ~1e12, so
  // a handful of singleton-bigram terms would wrap a long accumulator
  // silently while DuckDB raised).
  def q126BigramLm(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir)("documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("a"))
      .where(size(col("a")) >= 2)
    // The raw bigram stream is consumed ONCE: explicit repartition(hbg),
    // a per-doc census on it — h1 rides in the grouping key (it is
    // hbg-determined, so the extra key is a semantic no-op) — and the
    // corpus census DERIVES from that aggregate. The per-doc census is
    // the diamond's shared apex (model side + final join both read it),
    // and exchange/stage reuse does NOT fire across these branches (the
    // zip_with lambda defeats plan canonicalization — q112 has the same
    // 2-scan shape), so it materializes through one eager localCheckpoint
    // (q67's pay-the-upstream-once pattern). LogicalRDD preserves the
    // hash(hbg) partitioning, which satisfies the corpus rollup AND the
    // model join — after the checkpoint the only exchanges left are the
    // vocab-sized c1 rollup and the final per-doc rollup. The round-11
    // shape scanned + tokenized + shuffled the stream once PER BRANCH.
    // bigram_hashes: codegen kernel emitting the (hbg, h1) rows straight
    // from the token array — replaces the interpreted zip_with/concat_ws/
    // hex-md5 chain (value-identical, TextExpressionsSpec parity pin)
    graft.plans.TextExpressions.register(s)
    val bg = toks
      .select(col("doc_id"),
        explode(call_function("bigram_hashes", col("a"))).as("g"))
      .select(col("doc_id"), col("g.hbg").as("hbg"), col("g.h1").as("h1"))
      .repartition(col("hbg"))
    val perDoc = bg.groupBy(col("doc_id"), col("hbg"), col("h1"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val c2 = perDoc.groupBy(col("hbg"), col("h1"))
      .agg(sum(col("c")).as("c2"))
    val c1 = c2.groupBy(col("h1")).agg(sum(col("c2")).as("c1"))
    val model = c2.join(c1, Seq("h1"))
      .select(col("hbg"),
        expr("CAST(c1 AS DECIMAL(38,0)) * 1000000 div c2")
          .as("surprisal_micro"))
    perDoc.join(model, Seq("hbg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c").cast("decimal(38,0)") * col("surprisal_micro"))
          .as("ssum"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("ssum div n_bigrams").as("mean_surprisal_micro"))
      .orderBy(col("doc_id"))
  }

  // IVF-PQ ANN (the production 100 TB shape — q39's cell routing composed
  // with q88's compressed scoring, see Similarity.ivfPqTopK): 16 integer-
  // L2 cells, 4 probed per query, 16×16 md5-seeded codebooks, ADC only
  // for probed-cell members (~nProbe/nCells of the corpus vs q88's full-
  // corpus ADC), shortlist 30, integer-exact rerank to top-5. All-long
  // arithmetic, so the FULL ranking hash-matches the DuckDB twin; recall
  // vs exact L2 at these parameters is pinned in PQSpec.
  def q125KnnIvfPq(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfPqTopK(t(s, dir)("embeddings"),
      "vec_id", "embedding", nCells = 16, nProbe = 4, m = 16, kCodes = 16,
      scale = 1000000L, queryPred = col("id") < 8, rerank = 30, k = 5)
      .orderBy(col("qid"), col("rank"))

  // per-data-dir PQ index root (the Analytics.vindex recipe): regenerated
  // data fails the fingerprint and rebuilds; `role` separates mutating
  // queries' stores from the build/search pair's, like Analytics.vindex
  private def pqIndex(s: SparkSession, dir: String, role: String = "pq") =
    new graft.sources.PqIndex(s,
      s"target/graft_vindex/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}/$role")

  private def textIndex(s: SparkSession, dir: String,
                        role: String = "text") =
    new graft.sources.TextIndex(s,
      s"target/graft_vindex/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}/$role")

  // OFFLINE inverted-index build: the tokenize → tf → df → weight
  // pipeline q136 localCheckpoints per query runs ONCE and persists
  // (term-clustered posting lists + per-doc norms) — the sparse
  // counterpart of q143/q146's dense stores. Readout: per-df census read
  // back from disk; the twin replays the weight build from the raw text.
  def q150SparseBuildStored(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.sparseBuildStored(t(s, dir)("documents"),
      "doc_id", "text", index = textIndex(s, dir))

  // INCREMENTAL text-index ingest under the stale-IDF contract (the
  // production BM25 shape: corpus stats refresh per rebuild, not per
  // ingest): every 17th doc re-posted with two occurrences of an unseen
  // sentinel token appended — exercising BOTH arms (stale stored df for
  // known terms, df=1 optimistic-rarity for the unseen one) — ids offset
  // by max+1. Own index root: the ingest must never pollute q150's
  // census or q151's search. Readout: the updated per-df census.
  def q152SparseExtendStored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val idx = new graft.sources.TextIndex(s,
      s"target/graft_vindex/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}/textx")
    graft.operators.TfIdf.sparseEnsureStored(docs, "doc_id", "text", idx)
    val off = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
    val batch = docs.where(col("doc_id") % 17 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" xnewtok xnewtok")).as("text"))
    graft.operators.TfIdf.sparseExtendStored(batch, "doc_id", "text", idx)
  }

  // ONLINE sparse search over the stored index: q136's exact candidacy +
  // rescore + rank tail (ONE implementation) reading the prebuilt
  // relations — the plan has NO tokenize/df stages and never touches
  // document text (pinned in PlanSpec). Distinct query set from q136 so
  // the gates are independent.
  def q151SparseSearchStored(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.sparseSearchStored(t(s, dir)("documents"),
      "doc_id", "text", queryPred = col("id") % 89 === 3, k = 5,
      index = textIndex(s, dir), maxDf = 400L)
      .orderBy(col("qid"), col("rank"))

  // OFFLINE IVF-PQ build (q125's index half persisted): integer cell
  // grid + subspace codebooks + cid-clustered code rows through the
  // swap-write PqIndex store — the COMPRESSED production index (m codes
  // per vector instead of the vector; q143 stores raw postings, this
  // stores what a 100 TB deployment can actually hold in memory).
  // Readout: per-cell code census read back from disk; the twin replays
  // the build from the raw corpus.
  def q146IvfPqBuildStored(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfPqBuildStored(t(s, dir)("embeddings"),
      "vec_id", "embedding", nCells = 16, m = 16, kCodes = 16,
      scale = 1000000L, index = pqIndex(s, dir))

  // ONLINE IVF-PQ search over the stored index: plan = broadcast scans of
  // the prebuilt cells/codebooks + cid-pruned code scan + probe window +
  // ADC + k-bounded exact rerank, NO encode/assignment stages (pinned in
  // PlanSpec). Distinct query set from q125 so the gates are independent.
  def q147IvfPqSearchStored(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.ivfPqSearchStored(t(s, dir)("embeddings"),
      "vec_id", "embedding", nCells = 16, nProbe = 4, m = 16, kCodes = 16,
      scale = 1000000L, queryPred = col("id") >= 8 && col("id") < 16,
      rerank = 30, k = 5, index = pqIndex(s, dir))
      .orderBy(col("qid"), col("rank"))

  // INCREMENTAL PQ ingest (the q145/q152 contract for the compressed
  // store): the q145 clone batch (every 13th vector negated, ids offset
  // by max+1) is encoded against the STORED codebooks and assigned to the
  // STORED cell grid — no re-train, no re-encode of existing rows; only
  // the touched code bands rewrite. Own index root ("pqx"): the clones
  // must never pollute q146's census or q147's search. Readout: the
  // per-cell code census read back from disk.
  def q155IvfPqExtendStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = pqIndex(s, dir, "pqx")
    graft.operators.Similarity.ivfPqEnsureStored(emb, "vec_id", "embedding",
      nCells = 16, m = 16, kCodes = 16, scale = 1000000L, index = idx)
    val off = emb.agg(max(col("vec_id"))).first().getLong(0) + 1L
    val batch = emb.where(col("vec_id") % 13 === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    graft.operators.Similarity.ivfPqExtendStored(batch, "vec_id",
      "embedding", m = 16, scale = 1000000L, index = idx)
  }

  // PQ INDEX DELETION (the forget path for the compressed store,
  // mirroring q149): every 19th-mod-2 vector's code rows are physically
  // dropped — no re-encode, codes are per-vector — and the census read
  // back from disk proves it. Own root ("pqd"); idempotent.
  def q156IvfPqDeleteStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = pqIndex(s, dir, "pqd")
    graft.operators.Similarity.ivfPqEnsureStored(emb, "vec_id", "embedding",
      nCells = 16, m = 16, kCodes = 16, scale = 1000000L, index = idx)
    graft.operators.Similarity.ivfPqDeleteStored(
      emb.where(col("vec_id") % 19 === 2).select(col("vec_id").as("id")),
      idx)
  }

  // TEXT INDEX DELETION (the sparse forget path, completing
  // right-to-be-forgotten across all three stored families): every 13th
  // doc's posting rows vanish from every term list plus its norm row —
  // physically, wherever its terms hashed (found by an id-column scan of
  // the bucket dirs) — surviving rows keep build-time df/weights (the
  // stale-df contract). Own root ("textd"); idempotent.
  def q157SparseDeleteStored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val idx = textIndex(s, dir, "textd")
    graft.operators.TfIdf.sparseEnsureStored(docs, "doc_id", "text", idx)
    graft.operators.TfIdf.sparseDeleteStored(
      docs.where(col("doc_id") % 13 === 0).select(col("doc_id").as("id")),
      idx)
  }

  // HYBRID RETRIEVAL OVER STORED INDEXES — the production serving shape
  // for q138's flagship fusion: dense arm reads q143's prebuilt "base"
  // VectorIndex (nCentroids/portable match its fingerprint, so no build
  // when q143/q144 ran first; self-heals otherwise), sparse arm reads
  // q150/q151's "text" TextIndex — the online plan is index scans + keyed
  // joins with NO k-means/tokenize/df stages on EITHER arm (pinned in
  // PlanSpec). Distinct CONSTANT-SIZE query set from q138/q144/q151 (the
  // ANN suite's id-window convention — a modulus pred grows the query
  // side with the corpus, which multiplies the probed-cell rerank by SF:
  // measured 121 s at the 100× decade before this was fixed).
  def q158HybridStoredRrf(s: SparkSession, dir: String): DataFrame =
    graft.operators.HybridRetrieval.rrfStored(
      t(s, dir)("embeddings"), "vec_id", "embedding",
      nCentroids = 16, nProbe = 12, Analytics.vindex(s, dir, "base"),
      t(s, dir)("documents"), "doc_id", "text", textIndex(s, dir),
      maxDf = 400L, queryPred = col("id") >= 16 && col("id") < 24, k = 5,
      portable = true)
      .orderBy(col("qid"), col("rank"))

  // O(batch) text APPEND ingest (q152's rewrite-free sibling, and the
  // store where append matters most — a whole-document batch's terms
  // hash into every bucket, making the keyed upsert a full rewrite by
  // construction): every 29th doc with a fresh sentinel token, ids
  // offset by max+1, weighted under the SAME stale-IDF contract, files
  // landing inside their term buckets — BOTH tables and the token under
  // one commit marker. Own root ("texta"). Idempotent across driver
  // re-runs via the append-once contract (expectToken = the pre-batch
  // corpus version — q161's discipline).
  def q162SparseAppendStored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val idx = textIndex(s, dir, "texta")
    graft.operators.TfIdf.sparseEnsureStored(docs, "doc_id", "text", idx)
    val token = graft.operators.TfIdf.sparseCorpusToken(docs, "doc_id",
      "text", idx)
    val off = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
    val batch = docs.where(col("doc_id") % 29 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" xfreshtok xfreshtok")).as("text"))
    graft.operators.TfIdf.sparseAppendStored(batch, "doc_id", "text", idx,
      expectToken = Some(token))
  }

  // O(batch) PQ APPEND ingest (q155's rewrite-free sibling, completing
  // append across all three stored families): every 31st vector
  // negated, ids offset, encoded against the STORED codebooks, code
  // files landing inside their cid bands. Own root ("pqa").
  def q163IvfPqAppendStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = pqIndex(s, dir, "pqa")
    graft.operators.Similarity.ivfPqEnsureStored(emb, "vec_id", "embedding",
      nCells = 16, m = 16, kCodes = 16, scale = 1000000L, index = idx)
    val token = graft.operators.Similarity.ivfPqCorpusToken(emb, "vec_id",
      "embedding", nCells = 16, m = 16, kCodes = 16, scale = 1000000L,
      index = idx)
    val off = emb.agg(max(col("vec_id"))).first().getLong(0) + 1L
    val batch = emb.where(col("vec_id") % 31 === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    graft.operators.Similarity.ivfPqAppendStored(batch, "vec_id",
      "embedding", m = 16, scale = 1000000L, index = idx,
      expectToken = Some(token))
  }

  // COMPACTION for the text store, oracle-gated (q164's discipline
  // completed across the families): fold the append-accumulated
  // posting/norm files back into the clustered layout and read the
  // census from the compacted bytes — equality with q162's census (same
  // oracle text) proves the fold preserves every row. Shares q162's
  // "texta" role safely: append is idempotent and compact
  // row-preserving, so the two commute in any driver order.
  def q165SparseCompactStored(s: SparkSession, dir: String): DataFrame = {
    q162SparseAppendStored(s, dir).collect()
    val idx = textIndex(s, dir, "texta")
    idx.compact()
    idx.readPostings()
      .groupBy(col("df"))
      .agg(count_distinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"), sum(col("w")).as("sum_w"))
      .orderBy(col("df"))
  }

  // COMPACTION for the compressed store (same gate): append the %31
  // batch, fold the code files, read the census from the compacted
  // bytes — equality with q163's oracle proves every code row survives
  // the rewrite. Shares q163's "pqa" role under the same commutativity.
  def q166IvfPqCompactStored(s: SparkSession, dir: String): DataFrame = {
    q163IvfPqAppendStored(s, dir).collect()
    val idx = pqIndex(s, dir, "pqa")
    idx.compactCodes()
    idx.readCodes()
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("sum_ids"),
        sum(col("code")).as("sum_codes"))
      .orderBy(col("cid"))
  }

  // STATS-REFRESH REBUILD for the text store (q167's sparse twin): a %37
  // sentinel batch lands under the stale-IDF contract, then
  // sparseRebuildStored recomputes df over the index's OWN rows and
  // re-derives every weight from the stored tf — zero corpus access —
  // and the census must equal a from-scratch build on the MERGED corpus
  // (fresh df everywhere), proving the deferred stats refresh is a
  // callable op that converges to build-from-scratch. Own role
  // ("textr").
  def q168SparseRebuildStored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val idx = textIndex(s, dir, "textr")
    graft.operators.TfIdf.sparseEnsureStored(docs, "doc_id", "text", idx)
    val off = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
    val batch = docs.where(col("doc_id") % 37 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" xrebtok xrebtok")).as("text"))
    graft.operators.TfIdf.sparseExtendStored(batch, "doc_id", "text", idx)
      .collect()
    graft.operators.TfIdf.sparseRebuildStored(idx)
  }

  // TOKEN-GATED sparse serving (q169's contract for the text store): the
  // caller holds the corpus version token (sparseCorpusToken — memoized
  // under the corpus's file-manifest identity, so warm calls launch no
  // corpus job) and the search compares it O(1) against the index's
  // stored covered-corpus token. Shares q150/q151's read-only "text"
  // store; own CONSTANT-SIZE query window (40..46 — a modulus pred
  // would grow the query side with the corpus, the q158 scale trap)
  // keeps the gates independent of q151's %89 set.
  def q170SparseTokenSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val idx = textIndex(s, dir)
    val token = graft.operators.TfIdf.sparseCorpusToken(docs, "doc_id",
      "text", index = idx)
    graft.operators.TfIdf.sparseSearchStored(docs, "doc_id", "text",
      queryPred = col("id") >= 40 && col("id") < 46, k = 5, index = idx,
      maxDf = 400L, corpusToken = Some(token))
      .orderBy(col("qid"), col("rank"))
  }

  // TOKEN-GATED PQ serving (q169's contract for the compressed store):
  // caller-held ivfPqCorpusToken compared O(1) against the stored
  // covered-corpus token — no fingerprint scan on the fresh path.
  // Shares q146/q147's read-only "pq" store; query window 16..24 keeps
  // the gates independent (q147 owns 8..16).
  def q171IvfPqTokenSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = pqIndex(s, dir)
    val token = graft.operators.Similarity.ivfPqCorpusToken(emb, "vec_id",
      "embedding", nCells = 16, m = 16, kCodes = 16, scale = 1000000L,
      index = idx)
    graft.operators.Similarity.ivfPqSearchStored(emb, "vec_id",
      "embedding", nCells = 16, nProbe = 4, m = 16, kCodes = 16,
      scale = 1000000L, queryPred = col("id") >= 16 && col("id") < 24,
      rerank = 30, k = 5, index = idx, corpusToken = Some(token))
      .orderBy(col("qid"), col("rank"))
  }

  // Composed curation pass (q67 extended with the dedup ladder a training
  // corpus actually runs): re-crawl simulation (every 7th doc duplicated
  // under a shifted id) → quality gate (langId = en, quality ≥ 5000) →
  // exact dedup (min doc_id per distinct text) → SemDeDup over the
  // SURVIVORS' embeddings (so the adaptive K, seeds, and cells differ
  // from q95's full-corpus run — the oracle replays the whole ladder).
  // Per-doc verdict: quality_drop / exact_dup / semantic_dup / kept, with
  // the semantic cell + lower-id-dup count where the doc reached stage 3.
  //
  // Scale notes: the quality gate fuses into the corpus scan; the exact
  // stage keys on the DUAL text fingerprint (unhex(md5) ⊕ xxhash64 — the
  // Dedup.exactByFingerprint recipe: 24 B through the exchange where the
  // raw text would make the shuffle payload the corpus itself; the DuckDB
  // twin groups/joins by raw text, equivalent absent a joint md5+xxhash64
  // collision — < 2^-190 across 10^12 docs, and the hash gate itself
  // would catch one), and the verdict join reuses the same 24 B keys.
  // keeper IS NULL stands in for the quality verdict (same text ⇒ same
  // gate result, so a doc's fingerprint appears in `exact` iff the doc
  // passed — one corpus-pass saved); the survivor embedding frame is
  // localCheckpoint'ed because semanticDedup runs two eager sizing jobs
  // over its input (q67's pay-the-upstream-once pattern).
  def q127CurationPass(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    // re-crawl clone ids derived from max(doc_id)+1 (ADVICE r12: a fixed
    // +1e6 offset would silently collide with real ids past 1e6 docs per
    // copy and cross-attach the sem/verdict joins); one plan-time scalar
    // job, the oracle replays the identical scalar subquery
    val cloneOff = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + cloneOff).as("doc_id"), col("text")))
    // checkpointed proxy (r17): fpd is consumed twice (the keeper
    // aggregate and the final verdict join). Un-materialized, each
    // consumer re-ran the full text scan + md5/xxhash64/quality pass —
    // two corpus text scans and two hash passes per run. The proxy rows
    // are ~40 bytes (id + two hashes + a bool) regardless of document
    // size, so materializing it once and letting both consumers read it
    // is the §2.3 "shuffle keys, not payloads" move applied to a scan:
    // the text is now read and hashed exactly once at any corpus size.
    val fpd = corpus.select(col("doc_id"),
      unhex(md5(col("text"))).as("f1"), xxhash64(col("text")).as("f2"),
      (TextFunctions.langId(col("text")) === "en" &&
        TextFunctions.qualityScoreBp(col("text")) >= 5000).as("ok"))
      .localCheckpoint()
    val exact = fpd.where(col("ok")).groupBy(col("f1"), col("f2"))
      .agg(min(col("doc_id")).as("keeper"))
    val surv = exact.select(col("keeper").as("doc_id"))
    val se = t(s, dir)("embeddings").where(col("embedding").isNotNull)
      .join(surv, col("vec_id") === col("doc_id"), "left_semi")
      .localCheckpoint()
    val sem = graft.operators.Similarity.semanticDedup(
      se, "vec_id", "embedding",
      scale = 1000000L, targetCell = 64, minK = 8, thresholdPct = 45)
    fpd
      .join(exact, Seq("f1", "f2"), "left")
      .join(sem.select(col("id").as("doc_id"), col("cid"),
        col("n_dups_lower")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("keeper").isNull, "quality_drop")
          .when(col("keeper") =!= col("doc_id"), "exact_dup")
          .when(col("n_dups_lower") > 0, "semantic_dup")
          .otherwise("kept").as("stage"),
        col("cid").as("sem_cid"), col("n_dups_lower"))
      .orderBy(col("doc_id"))
  }

  // Deterministic weighted priority sampling (Efraimidis–Spirakis shape
  // with an md5 priority instead of RNG state — reproducible across
  // engines and runs): per source stratum, rank docs by
  // floor(h / n_chars) ascending (small hash, large weight first —
  // weight-proportional preference; the 60-bit h already carries far more
  // resolution than any weight, and pre-scaling h would push the quotient
  // past int64 — h·1e6/48 ≈ 2.4e22). One corpus map + a per-stratum
  // WindowGroupLimit top-k: each partition forwards at most k rows per
  // stratum before the single exchange, post-shuffle state O(strata · k).
  def q128PrioritySample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority"), col("doc_id"))
    t(s, dir)("documents")
      .select(col("source"), col("doc_id"), col("n_chars"),
        graft.functions.PortableHash.md5Head60(
          concat(lit("ps:"), col("doc_id").cast("string"))).as("h"))
      .select(col("source"), col("doc_id"), col("n_chars").as("weight"),
        expr("h div n_chars").as("priority"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("source"), col("rank"), col("doc_id"), col("weight"),
        col("priority"))
      .orderBy(col("source"), col("rank"))
  }

  // Multi-source 4-hop BFS over the q121 link graph (the reachability /
  // contamination-radius primitive), via [[graft.operators.Graphs.bfs]]:
  // seeds are doc_id % 97 == 0; each round a keyed frontier join + anti-
  // join against the visited set, each round's DELTA an eagerly
  // checkpointed leaf and the visited set only ever a lazy union of those
  // leaves (the round-11 shape re-checkpointed the full visited set every
  // round — O(V·rounds) wasted materialization, VERDICT r11; the operator
  // also carries CC's reliable-checkpoint mode for executor-loss
  // survival at cluster scale). Readout: per-distance population
  // checksums plus the unreached remainder as dist = -1.
  def q129Bfs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    val dist = graft.operators.Graphs.bfs(
      Analytics.blockEdges(docs),
      docs.where(col("id") % 97 === 0).select(col("id")),
      maxHops = 4)
    val unreached = docs.join(dist, Seq("id"), "left_anti")
      .select(col("id"), lit(-1).as("dist"))
    dist.union(unreached)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))
      .orderBy(col("dist"))
  }

  // Last-touch conversion attribution (the marketing-analytics readout
  // every event pipeline serves): each purchase attributes to the user's
  // most recent PRECEDING non-purchase event within 3600 s, else 'none'.
  // The carried (ts, type) pair rides two IGNORE-NULLS last() calls over
  // ONE partition-local (ts, event_id) window sort — the nulls align (both
  // null exactly on purchase rows), so the pair stays consistent without a
  // struct column; floor-second integer lateness keeps the cutoff exact.
  // Readout: per attributed touch type, conversion count + value cents.
  def q131Attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touchable = when(col("event_type") =!= "purchase",
      col("event_type"))
    val touchSec = when(col("event_type") =!= "purchase", col("sec"))
    t(s, dir)("events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), cents(col("value")).as("value_c"),
        unix_timestamp(col("ts")).as("sec"))
      .select(col("event_id"), col("event_type"), col("value_c"), col("sec"),
        last(touchable, ignoreNulls = true).over(w).as("t_type"),
        last(touchSec, ignoreNulls = true).over(w).as("t_sec"))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("value_c"),
        when(col("t_sec").isNotNull && col("sec") - col("t_sec") <= 3600L,
          col("t_type")).otherwise("none").as("touch_type"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value_c")).as("sum_value_c"))
      .orderBy(col("touch_type"))
  }

  // Per-group Pareto frontier (the 2-D skyline sweep): for each brand,
  // the strictly-undominated (price, size) staircase — a part is on the
  // frontier iff no cheaper-or-equal part has an equal-or-larger size.
  // Reduction: collapse to max size per (brand, price_c) first (kills
  // same-price dominance and bounds the window input to distinct prices),
  // then one partition-local sort by price with a strict running-max-size
  // test — the same sweep family as q124's interval coalesce, dominance
  // semantics instead of overlap. No unpartitioned window; state O(
  // distinct prices per brand).
  def q132ParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    val byPrice = t(s, dir)("part")
      .select(col("p_brand"), cents(col("p_retailprice")).as("price_c"),
        col("p_size"))
      .groupBy(col("p_brand"), col("price_c"))
      .agg(max(col("p_size")).as("max_size"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("price_c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byPrice
      .withColumn("pmax", max(col("max_size")).over(w))
      .where(col("pmax").isNull || col("max_size") > col("pmax"))
      .select(col("p_brand"), col("price_c"), col("max_size"))
      .orderBy(col("p_brand"), col("price_c"))
  }

  // Event-type transition matrix (the session-model readout): per user,
  // events ordered by (ts, event_id), adjacent-pair counts and the row-
  // normalized transition probability in ppb (integer floor — exact).
  // One partition-local window sort, one hash aggregate on the pair.
  def q130MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = t(s, dir)("events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
    val tot = tr.groupBy(col("from_type")).agg(sum(col("c")).as("n"))
    // c · 1e9 widens through decimal(38,0): a (from, to) pair count above
    // ~9.2e9 — plausible at 100 TB with few event types — would wrap long
    // arithmetic silently where the DuckDB twin errors (ADVICE r11); the
    // quotient itself is ≤ 1e9, comfortably long
    tr.join(tot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("c"),
        expr("CAST(c AS DECIMAL(38,0)) * 1000000000 div n").as("p_ppb"))
      .orderBy(col("from_type"), col("to_type"))
  }

  // Star-schema flatten (the wide-training-table denormalization): fact
  // lineitem joined through orders→customer→nation→region plus part and
  // supplier, then rolled up to a checksum readout that is sensitive to
  // every join column. nation/region ride broadcasts; orders/customer/
  // part/supplier are keyed shuffle joins at 100 TB (AQE may still
  // broadcast them at catalog SF — both are the right call at their
  // respective scales).
  def q133StarFlatten(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir)("lineitem")
    val ord = t(s, dir)("orders")
    val cust = t(s, dir)("customer")
    val nat = broadcast(t(s, dir)("nation"))
    val reg = broadcast(t(s, dir)("region"))
    val part = t(s, dir)("part")
    val supp = t(s, dir)("supplier")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("r_name"), col("l_returnflag"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_price_c"),
        sum(cents(col("p_retailprice"))).as("sum_retail_c"),
        sum(cents(col("s_acctbal"))).as("sum_acctbal_c"))
      .orderBy(col("r_name"), col("l_returnflag"), col("o_orderpriority"))
  }

  // Bounded-round min-label propagation over the q121 link graph (the
  // fixed-budget community-detection primitive — the run-to-fixpoint
  // sibling is Dedup.connectedComponents): 4 synchronous rounds via
  // Graphs.labelPropagation (per round one keyed join + map-side min +
  // left join back, each round an IterativeCheckpointer leaf). Readout:
  // per-label community census — hash-sensitive to every node's final
  // label.
  def q134LabelProp(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    graft.operators.Graphs
      .labelPropagation(Analytics.blockEdges(docs), docs, rounds = 4)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))
      .orderBy(col("label"))
  }

  // Exact global price quantiles WITHOUT a total sort (Quantiles.
  // exactQuantiles): two aggregation scans (domain, 4096-bin histogram)
  // + one range-filter-pushed refine scan that sorts only the target
  // bins partition-locally. The answer is the true k-th smallest cent
  // value, k = 1 + floor(p·(n-1)), byte-identical to the oracle's full
  // ORDER BY — which is exactly the plan this operator exists to avoid
  // at 100 TB.
  def q135ExactQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.exactQuantiles(
        t(s, dir)("lineitem"), cents(col("l_extendedprice")),
        quantilesBp = Seq(2500, 5000, 9000, 9900))
      .select(col("p_bp"), col("rank"), col("value").as("value_cents"))

  // Sparse tf·idf cosine retrieval (TfIdf.sparseCosineTopK): top-5
  // lexical neighbors per query doc (doc_id % 97 == 0) under integer
  // reciprocal-df weights, candidates from the df-capped inverted index,
  // exact integer rescore — the sparse sibling of the dense ANN suite
  // (q24/q39/q125), full ranking hash-matched.
  def q136SparseRetrieval(s: SparkSession, dir: String): DataFrame =
    // maxDf 400: the synthetic corpus draws from a ~30-term vocabulary
    // where typical df ≈ 300 of 500 docs per StressGen copy — the cap
    // excludes only the ubiquitous >400-df term (and, at stress scale,
    // keeps candidates copy-local since suffixed tokens never cross
    // copies); rescoring still sums EVERY shared term, capped or not
    graft.operators.TfIdf.sparseCosineTopK(
      t(s, dir)("documents"), "doc_id", "text",
      queryPred = col("id") % 97 === 0, k = 5, maxDf = 400L)
      .orderBy(col("qid"), col("rank"))

  // Deterministic random walks over the q121 link graph (Graphs.
  // randomWalks): 3 hops from each doc_id % 61 == 0 seed, next node =
  // portable-hash argmin over the current node's neighbors (md5-keyed on
  // walk/step/candidate — the distributed DeepWalk corpus-generation
  // shape, reproducible with no RNG state). Full trajectories, walks at
  // sink nodes end early.
  def q137RandomWalks(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    graft.operators.Graphs.randomWalks(
        Analytics.blockEdges(docs),
        docs.where(col("id") % 61 === 0), steps = 3)
      .orderBy(col("walk_id"), col("step"))
  }

  // Hybrid retrieval (the modern search/RAG mining shape): the dense
  // portable-IVF top-5 (q39's exact pipeline over embeddings) and the
  // sparse tf·idf cosine top-5 (q136's over the SAME ids in documents)
  // fused by integer reciprocal-rank — rrf = Σ coalesce(10⁶ div
  // (60 + rank), 0) over the two lists, a full-outer join on (query,
  // candidate) then one partitioned top-5 window. Every input rank is
  // hash-matched upstream, so the fusion is exact end to end; both
  // branches are k-bounded before the join, making the fusion's state
  // queries×(2k) regardless of corpus size.
  def q138HybridRrf(s: SparkSession, dir: String): DataFrame = {
    // The two arms are independent until the fusion join (dense reads
    // embeddings, sparse reads documents) and each runs eager driver
    // work at construction (k-means seed/assignment checkpoints; the
    // weight-relation checkpoint) — build the dense arm on a driver
    // thread so both arms' blocking jobs overlap (guide §2.6) instead of
    // serializing. Purely a scheduling change: each arm's plan, rows,
    // and the fused result are byte-identical.
    val denseT = graft.sources.Overlap.future(
      graft.operators.Similarity.ivfTopK(
          t(s, dir)("embeddings"), "vec_id", "embedding",
          nCentroids = 16, nProbe = 14, queryPred = col("id") < 8, k = 5,
          portable = true)
        .select(col("qid"), col("nid"), col("rank").as("dr")))
    val sparse = graft.operators.TfIdf.sparseCosineTopK(
        t(s, dir)("documents"), "doc_id", "text",
        queryPred = col("id") < 8, k = 5, maxDf = 400L)
      .select(col("qid"), col("nid"), col("rank").as("sr"))
    val dense = denseT()
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_micro").desc, col("nid"))
    dense.join(sparse, Seq("qid", "nid"), "full_outer")
      .select(col("qid"), col("nid"),
        (coalesce(expr("1000000 div (60 + dr)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + sr)"), lit(0L))).as("rrf_micro"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"), col("rrf_micro"))
      .orderBy(col("qid"), col("rank"))
  }

  // Hard-negative mining (contrastive-training data): for each anchor
  // (the ANN suite's id < 8 query convention — constant anchor count at
  // any SF), candidates are the anchor's OWN IVF cell members
  // (Similarity.ivfAssignments — same seeds/argmax as the search path,
  // one implementation) minus its exact-ranked top-5 (q39's pipeline)
  // and itself; 3 negatives drawn deterministically by portable-hash
  // order. Same-cell-but-not-nearest is exactly the "semantically close
  // yet not positive" band embedding training wants. Cell-confined
  // candidacy keeps the pair stream at anchors × cell size, never
  // anchors × corpus.
  def q139HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val top5 = graft.operators.Similarity.ivfTopK(emb, "vec_id",
        "embedding", nCentroids = 16, nProbe = 14,
        queryPred = col("id") < 8, k = 5, portable = true)
      .select(col("qid"), col("nid"))
    // materialized ONCE (r17): asg feeds both sides of the same-cell
    // join — un-checkpointed, the corpus-wide n·K assignment argmax ran
    // once per side. The rows are (id, cid), 16 bytes per vector.
    val asg = graft.operators.Similarity.ivfAssignments(emb, "vec_id",
      "embedding", nCentroids = 16, portable = true)
      .localCheckpoint()
    val cand = asg.where(col("id") < 8)
      .select(col("id").as("qid"), col("cid"))
      .join(asg.select(col("id").as("nid"), col("cid")), "cid")
      .where(col("qid") =!= col("nid"))
    val h = graft.functions.PortableHash.md5Head60(
      concat(lit("neg:"), col("qid").cast("string"),
        lit(":"), col("nid").cast("string")))
    val w = Window.partitionBy(col("qid")).orderBy(col("h"), col("nid"))
    cand.join(top5, Seq("qid", "nid"), "left_anti")
      .withColumn("h", h)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("nid"), col("cid"))
      .orderBy(col("qid"), col("rank"))
  }

  // Personalized PageRank over the q103 link graph (PageRank.
  // personalized): rank mass restarts ONLY to the doc_id % 97 == 0 seed
  // set — proximity-to-trusted-seeds, the graph-based data-selection
  // score (rank a crawl by closeness to curated roots). 3 iterations of
  // the same integer recurrence as q103, so the full vector hash-matches
  // the generated-round twin; the seed flag rides the node set and adds
  // no shuffle.
  def q140PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    graft.operators.PageRank.personalized(
        Analytics.linkEdges(docs), docs,
        docs.where(col("id") % 97 === 0),
        iters = 3, dampingPct = 85, scale = 1000000L)
      .orderBy(col("id"))
  }

  // Perceptual-hash near-dup over binary payloads (image-dedup shape):
  // Multimodal.dhash63 over the media corpus PLUS re-encode clones of
  // every 7th payload (first byte perturbed — the same content with a
  // one-sample brightness change; the corpus's own payloads are all
  // byte-distant, so the clones make the gate non-vacuous), then
  // Dedup.hammingNearDupPairs' pigeonhole banding at Hamming ≤ 3 with
  // the posting-list cap at 400: stress corpora CLUSTER (perturbed
  // copies share band values — measured Σbucket² 2.7e8 at 100×, the
  // uncapped join failed outright at 1000×), and the cap bounds the
  // band join at cap·N. The oracle replays the SAME banding + cap, so
  // the gate stays exact under the cappedBuckets contract (a pair whose
  // every shared band is over-cap is out of scope for both engines).
  // Clone ids ride max(doc_id)+1 (the q127 offset recipe).
  def q141PhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val cloneOff = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
    val media = docs
      .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("b"))
      .unionAll(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + cloneOff).as("id"),
          encode(expr("'x' || substring(text, 2)"), "UTF-8").as("b")))
    graft.operators.Dedup.hammingNearDupPairs(
        graft.operators.Multimodal.dhash63(media, "id", "b"),
        maxHamming = 3, maxBucket = 400)
      .orderBy(col("id1"), col("id2"))
  }

  // Leakage-safe train/val/test split (the contamination mode
  // benchmark-aware pipelines guard hardest): near-dup CLUSTERS — not
  // documents — draw the split, so two near-duplicates can never
  // straddle train and val. Clusters come from the q121 link graph's
  // connected components (min-id reps, isolated docs their own
  // singleton); the split is the q52/q128 deterministic-md5 recipe on
  // 'split:' + the cluster REP, 80/10/10. Readout: per-split doc count,
  // cluster count, id checksum — hash-sensitive to every assignment.
  // Scale shape: CC (the log-rounds star operator) + one broadcast-free
  // keyed join + a pure-map draw; nothing quadratic anywhere.
  def q142LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    val cc = graft.operators.Dedup.connectedComponents(
      Analytics.blockEdges(docs))
    val withCluster = docs.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    val bucket = pmod(graft.functions.PortableHash.md5Head60(
      concat(lit("split:"), col("cluster").cast("string"))), lit(10L))
    withCluster
      .withColumn("split",
        when(bucket < 8, "train").when(bucket === 8, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("cluster")).as("n_clusters"),
        sum(col("id")).as("sum_id"))
      .orderBy(col("split"))
  }
}
