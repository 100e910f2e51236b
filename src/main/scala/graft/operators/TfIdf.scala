package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** TF-IDF scoring over a document corpus (SURVEY §7.5 text-analysis
  * extension): three partial-aggregatable passes — term frequency per
  * (doc, term), document frequency per term, corpus size — joined on the
  * term (hash-partitioned; the corpus-size scalar broadcasts). Top-k terms
  * per doc ranked by smoothed tf·idf.
  */
object TfIdf {

  def topTerms(docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame = {
    // tf as a per-row scalar projection (codegen'd TermCounts — a doc's
    // tokens arrive in one row), so the (id, term) relation never
    // exchanges; df aggregates the exploded projection map-side-combined
    // to vocabulary cardinality. See bm25TopTerms for the measured plan
    // this replaces (tf's exchange used to feed multiple consumers with
    // only partial reuse).
    val tf = docs
      .select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.termCounts(
          tokens(col(textCol)))).as("tc"))
      .select(col("id"), col("tc.term").as("term"),
        col("tc.tf").cast("long").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count_distinct(col(idCol)).as("n_docs"))
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(total))
      .select(col("id"), col("term"), col("tf"), col("df"),
        (col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
          .as("tfidf"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 4).as("tfidf"))
  }

  /** BM25 top-k terms per doc (Robertson/Sparck Jones; the retrieval-grade
    * upgrade of [[topTerms]]): idf·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Same three partial-aggregatable passes as tf-idf plus a per-doc length
    * join — dl comes from the (doc, term) tf relation (one row per pair, so
    * sum(tf) = token count) rather than a second tokenize scan, and the
    * corpus scalars (N, total tokens) broadcast. Float portability: every
    * input to the score is an exact integer; avgdl enters as the exact
    * integer ratio dl·N/Σdl computed in one double division, so both
    * engines evaluate the identical IEEE expression tree (same class as
    * [[topTerms]]' ln — hash-matched since round 4).
    */
  def bm25TopTerms(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // A doc's tokens arrive in ONE row, so (doc, term, tf) and dl are
    // per-row SCALAR projections (codegen'd TermCounts kernel) — no
    // explode → groupBy(id, term) corpus exchange at all. The old shape
    // shuffled that relation three times at the 100× dir (exchange reuse
    // deduplicated only one of tf's three consumers) plus a fourth
    // exchange joining dl back by id: measured 22 s at 100×, 5.9 s after
    // this rewrite (e: 0.72 → 0.44). Only df (corpus-level, per-term)
    // still aggregates — map-side-combined to vocabulary cardinality —
    // and the top-k window k-bounds its exchange via WindowGroupLimit.
    val toksCol = tokens(col(textCol))
    val perDoc = docs.select(col(idCol).as("id"),
      graft.functions.TextFunctions.termCounts(toksCol).as("tcs"),
      size(toksCol).cast("long").as("dl"))
    val exploded = perDoc
      .select(col("id"), col("dl"), explode(col("tcs")).as("tc"))
      .select(col("id"), col("dl"), col("tc.term").as("term"),
        col("tc.tf").cast("long").as("tf"))
    val dfreq = exploded.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = perDoc.agg(sum(col("dl")).as("tot_tok"),
      count(lit(1)).as("n_docs"))
    // dl·N stays integral (exact at any SF: ≤ 2^63 up to ~10^15 doc·tokens)
    // and the length norm is a single double division of exact longs
    val lenNorm = (col("dl") * col("n_docs")) / col("tot_tok")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val score = idf * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * lenNorm))
    val scored = exploded
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .select(col("id"), col("term"), col("tf"), col("df"), col("dl"),
        score.as("bm25"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("bm25").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("tf"), col("df"),
        col("dl"), round(col("bm25"), 4).as("bm25"))
  }

  /** Sparse-vector cosine retrieval: top-k nearest corpus documents per
    * query document under integer tf·idf weights — the SPARSE sibling of
    * [[Similarity]]'s dense ANN paths (dense embeddings get IVF/PQ/LSH;
    * bag-of-words feature vectors get THIS inverted-index join — the
    * production shape for lexical near-match mining at 100 TB, where a
    * dense k-NN over vocabulary-sized one-hots is unthinkable).
    *
    * Weights are integer-portable: w(d, t) = tf · (idfScale div df) — the
    * reciprocal-df surrogate whose div floors ultra-common terms
    * (df > idfScale) to zero weight, i.e. built-in stopword suppression;
    * every downstream product stays exact integer arithmetic, so the full
    * ranking hash-matches a SQL twin (no float logs to drift last-ulp).
    *
    * Candidacy is Broder-asymmetric like [[Dedup]]'s containment join: a
    * (query, candidate) pair must share ≥ 1 term with 2 ≤ df ≤ `maxDf` —
    * inverted-index buckets, NEVER all-pairs; pairs sharing only
    * ultra-common terms are out of scope by design. The exact dot then
    * re-scores each candidate over ALL shared terms (absent terms
    * contribute 0, so the candidate-confined rescore IS the full sparse
    * dot). Score = truncated cos²·10⁶ = dot²·10⁶ div (‖q‖²·‖d‖²), all in
    * decimal(38,0) — exact cross-engine, monotone in cosine since dots
    * are non-negative.
    *
    * Plan: tf from the per-row codegen'd TermCounts kernel (no tokenize
    * shuffle), weights checkpointed once on hash(term) (the diamond
    * apex), candidates keyed on term then distinct on (query, candidate),
    * rescore keyed on doc id, top-k via the partial WindowGroupLimit
    * row_number. */
  def sparseCosineTopK(docs: DataFrame, idCol: String, textCol: String,
                       queryPred: org.apache.spark.sql.Column, k: Int,
                       maxDf: Long = 100L,
                       idfScale: Long = 10000L,
                       prune: Boolean = false): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.termCounts(
          tokens(col(textCol)))).as("tc"))
      .select(col("id"), col("tc.term").as("term"),
        col("tc.tf").cast("long").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // integer weight; (idfScale div df) == 0 for df > idfScale by design.
    // w is the diamond's shared apex (norms, candidate postings ×2, and
    // both rescore sides all read it): materialize it ONCE through an
    // eager localCheckpoint (the q126/q67 pay-the-upstream-once pattern —
    // without it the tokenize→tf→df→w pipeline re-executes per consumer,
    // 17 corpus scans in the 100× dump). The LogicalRDD keeps the df
    // join's hash(term) partitioning, so the term-keyed candidate join
    // needs no re-exchange; cost is a corpus-token-shaped executor-storage
    // footprint for the query's duration, the documented q126 trade.
    val w = tf.join(dfreq, "term")
      .select(col("id"), col("term"), col("df"),
        (col("tf") * expr(s"$idfScale div df")).as("w"))
      .localCheckpoint()
    val n2 = w.groupBy(col("id"))
      .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("n2"))
    sparseRank(w, n2, queryPred, k, maxDf, prune)
  }

  /** The candidacy + rescore + rank tail of [[sparseCosineTopK]], over
    * any (id, term, df, w) weight relation and (id, n2) norms — the
    * inline path materializes them per query (localCheckpoint apex); the
    * stored path ([[sparseSearchStored]]) reads them from the persisted
    * inverted index. ONE implementation so the two cannot drift. */
  private def sparseRank(w: DataFrame, n2: DataFrame,
                         queryPred: org.apache.spark.sql.Column, k: Int,
                         maxDf: Long, prune: Boolean): DataFrame = {
    // Candidates first, THEN the rescore — measured against the
    // "obvious" fusion (one postings join + a single (qid, nid) aggregate
    // carrying sum(wq·wn) and a max(df-in-range) candidacy flag): the
    // fused aggregate's input arrives partitioned by TERM, so each
    // (qid, nid) pair straddles one partition per shared term and the
    // partial agg combines almost nothing — the exchange carries the raw
    // product stream anyway, now funneled into one spilling hash
    // aggregate (one-session A/B at 100×: fused 33.4 s vs 5.1 s for this
    // shape; the fused 1000× run was killed at 10+ min vs 136 s). Keeping
    // candidacy (a distinct over the df-capped postings join) separate
    // from the rescore keeps every exchange k-bounded or pair-bounded.
    val rare = w.where(col("df") >= 2 && col("df") <= maxDf)
    // MAXSCORE-family upper-bound pruning (WAND's batch cousin), applied
    // BEFORE the exact rescore — the rescore's candidate×query-terms
    // product stream is the operator's 1000×-decade tail, so skipping
    // candidates that provably cannot reach the top-k is the lever.
    //
    // OPT-IN (default off) — RECORDED NEGATIVE on the catalog corpus:
    // one-session A/B at 100× (3 alternating rounds, local[32]):
    // prune_on 12.2–12.8 s vs prune_off 8.6–10.3 s, with only 945 of
    // 63,993 candidate pairs pruned (1.5%). The synthetic corpus draws
    // from a ~30-term per-copy vocabulary with near-uniform df ≈ 300, so
    // candidate scores cluster tightly and the k-th lower bound separates
    // almost nothing, while the bound machinery re-walks the pair stream
    // three more times (norms ×2, θ, residuals). On a Zipfian real corpus
    // — where rare-term overlap is discriminative and candidates per
    // query are deep — the same bound prunes aggressively; hence the
    // param, not a deletion. Pruning is SCORE-SAFE (proof below), so
    // flipping it can never change the output, only the cost:
    //   - rare_dot: the pair's partial dot over its SHARED RARE terms —
    //     free, it rides the candidacy join's exchange (the same (qid,
    //     nid)-keyed pass the old distinct() paid) as one more decimal sum.
    //   - residual bound: the remaining dot mass lives on COMMON terms
    //     (maxDf < df, w > 0). For a doc d, res(d) = Σ_t w(d,t)·ubw(t)
    //     with ubw(t) the corpus-max weight of t bounds any partner's
    //     common overlap with d, so common_dot ≤ least(res(q), res(n)) —
    //     exact integer arithmetic (no float sqrt anywhere, unlike a
    //     Cauchy-Schwarz cap).
    //   - θ(q): the k-th best LOWER bound (rare_dot alone is a valid
    //     score floor). true kth-best ≥ θ, and a pruned pair has
    //     ub < θ, hence true score STRICTLY below the kth — ties cannot
    //     be displaced, the pruned top-k is bit-identical (q136/q138's
    //     hash gates prove it on every run).
    // Overflow honesty: a null from decimal overflow in ub/θ must KEEP
    // the pair (cannot prune on unknown), hence the null-tolerant filter.
    val cand =
      if (!prune)
        rare.where(queryPred)
          .select(col("id").as("qid"), col("term"))
          .join(rare.select(col("id").as("nid"), col("term")), "term")
          .where(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid")).distinct()
      else {
        val cand0 = rare.where(queryPred)
          .select(col("id").as("qid"), col("term"), col("w").as("wq"))
          .join(rare.select(col("id").as("nid"), col("term"),
            col("w").as("wn")), "term")
          .where(col("qid") =!= col("nid"))
          .groupBy(col("qid"), col("nid"))
          .agg(sum(col("wq").cast("decimal(38,0)") * col("wn"))
            .as("rare_dot"))
        val common = w.where(col("df") > maxDf && col("w") > 0)
        val ubw = common.groupBy(col("term")).agg(max(col("w")).as("ubw"))
        val res = common.join(ubw, "term")
          .groupBy(col("id"))
          .agg(sum(col("w").cast("decimal(38,0)") * col("ubw")).as("res"))
        val lb = cand0
          .join(n2.select(col("id").as("qid"), col("n2").as("nq")), Seq("qid"))
          .join(n2.select(col("id").as("nid"), col("n2").as("nn")), Seq("nid"))
          .withColumn("lb",
            expr("rare_dot * rare_dot * 1000000 div (nq * nn)"))
        // θ(q): value of the k-th largest lower bound — the row_number
        // form keeps the exchange k-bounded (partial WindowGroupLimit)
        val theta = lb
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("lb").desc, col("nid"))))
          .where(col("rn") === k)
          .select(col("qid"), col("lb").as("theta"))
        lb
          .join(res.select(col("id").as("qid"), col("res").as("resq")),
            Seq("qid"), "left")
          .join(res.select(col("id").as("nid"), col("res").as("resn")),
            Seq("nid"), "left")
          .join(theta, Seq("qid"), "left")
          .withColumn("ub", expr(
            """(rare_dot + least(coalesce(resq, 0), coalesce(resn, 0))) *
              |(rare_dot + least(coalesce(resq, 0), coalesce(resn, 0))) *
              |1000000 div (nq * nn)""".stripMargin))
          .where(col("theta").isNull || col("ub").isNull ||
            col("ub") >= col("theta"))
          .select(col("qid"), col("nid"))
      }
    // exact rescore: full sparse dot over shared terms, keyed joins only
    val dot = cand
      .join(w.select(col("id").as("qid"), col("term"), col("w").as("wq")),
        Seq("qid"))
      .join(w.select(col("id").as("nid"), col("term"), col("w").as("wn")),
        Seq("nid", "term"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("wq").cast("decimal(38,0)") * col("wn")).as("dot"))
    val scored = dot
      .join(n2.select(col("id").as("qid"), col("n2").as("nq")), Seq("qid"))
      .join(n2.select(col("id").as("nid"), col("n2").as("nn")), Seq("nid"))
      .select(col("qid"), col("nid"),
        expr("dot * dot * 1000000 div (nq * nn)").as("sim2_ppm"))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("sim2_ppm").desc, col("nid"))
    scored
      .withColumn("rank", row_number().over(win))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim2_ppm"))
  }

  /** Build fingerprint: cardinality + id checksum + CONTENT checksum (a
    * commutative sum of per-row xxhash64(id, text) over docs WITH text —
    * without it, edited text under unchanged ids would pass the
    * freshness gate and silently serve a stale index) + params. This is
    * the AUDIT scan form; the serving path uses [[sparseCorpusToken]]
    * (memoized under the corpus's file-manifest identity) or a
    * caller-held token. The same per-row hash is stored as `fp` on the
    * norm ledger so maintenance token folds never re-read text. */
  private[graft] def textScanToken(docs: DataFrame, idCol: String,
                                   textCol: String, idfScale: Long,
                                   buckets: Int): String =
    graft.sources.CorpusToken.render("text3",
      graft.sources.CorpusToken.terms(docs.where(col(textCol).isNotNull),
        col(idCol), xxhash64(col(idCol), col(textCol))),
      s"idf=$idfScale|buckets=$buckets")

  /** The corpus version token for (docs, params) —
    * [[graft.operators.Similarity.ivfCorpusToken]]'s contract for the
    * text store. */
  def sparseCorpusToken(docs: DataFrame, idCol: String, textCol: String,
                        index: graft.sources.TextIndex,
                        idfScale: Long = 10000L): String =
    textMeta(docs, idCol, textCol, idfScale, index)

  /** The memo key for (docs, params) — ONE definition shared by the scan
    * path ([[textMeta]]) and the build's ledger-derived fold
    * ([[sparseBuildStored]]), so the two can never populate different
    * cache slots for the same corpus. */
  private def textKey(idCol: String, textCol: String, idfScale: Long,
                      index: graft.sources.TextIndex): String =
    s"text3|$idCol|$textCol|idf=$idfScale|buckets=${index.nBuckets}"

  private def textMeta(docs: DataFrame, idCol: String, textCol: String,
                       idfScale: Long,
                       index: graft.sources.TextIndex): String =
    graft.sources.CorpusToken.cachedToken(docs,
      textKey(idCol, textCol, idfScale, index))(
      textScanToken(docs, idCol, textCol, idfScale, index.nBuckets))

  /** OFFLINE inverted-index build: run the tokenize → tf → df → integer
    * weight pipeline once and persist the weighted posting lists + per-doc
    * norms into `index` — the sparse counterpart of the dense stored-ANN
    * split (the inline [[sparseCosineTopK]] re-derives and
    * localCheckpoints this relation on every query; the stored path pays
    * it once per corpus version). The rare-band cap (`maxDf`) is NOT
    * baked in: df rides every posting row, so searches choose their own
    * band at scan time. Returns the per-df census read back from disk. */
  def sparseBuildStored(docs: DataFrame, idCol: String, textCol: String,
                        index: graft.sources.TextIndex,
                        idfScale: Long = 10000L): DataFrame = {
    // ONE corpus text pass (r17): the pre-r17 build read the text three
    // times — the tokenize→tf pipeline, normLedger's fingerprint scan,
    // and (memo-cold) textScanToken's corpus checksum. Tokenization,
    // the ledger fp, and the token's fingerprint terms all derive from
    // this one checkpointed per-doc projection instead; at 100 TB that
    // is one corpus read where there were three.
    val perDoc = perDocPass(docs, idCol, textCol)
    val tf = tfOf(perDoc)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // materialized ONCE: the weight relation feeds the norms write, the
    // range-partitioner's SAMPLING pass, and the postings shuffle — an
    // unmaterialized plan would re-run the explode → tf → df pipeline
    // three times (the inline path's localCheckpoint lesson, applied to
    // the offline build)
    val w = tf.join(dfreq, "term")
      .select(col("term"), col("id"), col("df"), col("tf"),
        (col("tf") * expr(s"$idfScale div df")).as("w"))
      .localCheckpoint(true)
    // the token's fingerprint terms fold from the checkpointed per-doc
    // rows — identical by the fold-invariance contract to textScanToken
    // over the corpus (ONE render/terms implementation, so the formats
    // cannot drift; sparseRebuildStored reconstructs from the ledger the
    // same way). Still routed through the session memo under the CORPUS
    // frame's identity, so later audit-path searches hit without a scan.
    // `def`: evaluated by writeIndex on a driver thread overlapped with
    // its two table swaps (guide §2.6) — reads only checkpointed perDoc.
    def meta = graft.sources.CorpusToken.cachedToken(docs,
      textKey(idCol, textCol, idfScale, index))(
      graft.sources.CorpusToken.render("text3",
        graft.sources.CorpusToken.terms(perDoc, col("id"), col("fp")),
        s"idf=$idfScale|buckets=${index.nBuckets}"))
    index.writeIndex(w, ledgerOf(perDoc, w), meta)
    sparseCensus(index)
  }

  /** Per-df census read BACK from the stored posting lists — the
    * disk-verifying readout every text-index lifecycle op gates on. */
  private def sparseCensus(index: graft.sources.TextIndex): DataFrame =
    index.readPostings()
      .groupBy(col("df"))
      .agg(count_distinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"), sum(col("w")).as("sum_w"))
      .orderBy(col("df"))

  /** TEXT INDEX DELETION — the sparse store's forget path: a forgotten
    * doc's posting rows vanish from every term list they lived in and its
    * norm row is dropped, physically (a deleted doc can never be a
    * candidate, never contributes a dot product). Surviving rows keep
    * their build-time df/weights — the stale-df contract shared with
    * [[sparseExtendStored]]; df drift is absorbed at the next full
    * rebuild. Idempotent; returns the per-df census read back from
    * disk. */
  def sparseDeleteStored(ids: DataFrame,
                         index: graft.sources.TextIndex): DataFrame = {
    index.delete(ids)
    sparseCensus(index)
  }

  /** Build `index` from `docs` iff its fingerprint does not match the
    * corpus + idfScale (the [[graft.operators.Similarity.ivfEnsureStored]]
    * contract for the text store). */
  def sparseEnsureStored(docs: DataFrame, idCol: String, textCol: String,
                         index: graft.sources.TextIndex,
                         idfScale: Long = 10000L): Unit =
    index.ensureCovers(None,
      textMeta(docs, idCol, textCol, idfScale, index), "sparseCorpusToken")(
      sparseBuildStored(docs, idCol, textCol, index, idfScale))

  /** One checkpointed text pass over a doc frame — (id, fp, term
    * counts) — feeding tokenization AND the ledger fingerprint: the
    * corpus at build time, the batch at ingest (pre-r17 each read the
    * text two or three times). */
  private def perDocPass(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        xxhash64(col(idCol), col(textCol)).as("fp"),
        graft.functions.TextFunctions.termCounts(tokens(col(textCol)))
          .as("tcs"))
      .localCheckpoint(true)

  private def tfOf(perDoc: DataFrame): DataFrame =
    perDoc.select(col("id"), explode(col("tcs")).as("tc"))
      .select(col("id"), col("tc.term").as("term"),
        col("tc.tf").cast("long").as("tf"))

  /** The per-doc norm LEDGER rows — one row per doc of `perDoc` (id, fp)
    * (n2 = 0 when the doc has no weighted terms in `w`) carrying the
    * fingerprint term fp = xxhash64(id, text), read by token folds and
    * rebuilds instead of the corpus — derived from a checkpointed per-doc
    * pass (or the stored ledger, on a rebuild), so no second text scan.
    * ONE implementation behind the build, both ingests and the
    * rebuild. */
  private def ledgerOf(perDoc: DataFrame, w: DataFrame): DataFrame = {
    val n2 = w.groupBy(col("id"))
      .agg(sum(col("w").cast("decimal(38,0)") * col("w")).as("n2"))
    perDoc.select(col("id"), col("fp"))
      .join(n2, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n2"), lit(0).cast("decimal(38,0)")).as("n2"),
        col("fp"))
  }

  /** INCREMENTAL index ingest under the STALE-IDF contract — exactly how
    * production lexical search absorbs documents between statistics
    * refreshes (BM25/idf corpus stats are recomputed periodically, not
    * per ingest): the batch's term weights are computed against the
    * STORED df table (one aggregate over the index, no corpus re-scan);
    * terms the index has never seen get df = 1 — maximum idf, the
    * optimistic-rarity default — and existing posting rows keep their
    * build-time weights (df drift is absorbed at the next full
    * [[sparseBuildStored]]). Upsert is keyed on doc id: a re-ingested doc
    * evicts its old rows from every term list. Returns the per-df census
    * read back from disk. */
  def sparseExtendStored(newDocs: DataFrame, idCol: String, textCol: String,
                         index: graft.sources.TextIndex,
                         idfScale: Long = 10000L): DataFrame = {
    val (perDoc, w) = staleIdfBatch(newDocs, idCol, textCol, index, idfScale)
    // eviction keys from the BATCH, not the ledger: a doc re-posted with
    // NULL text produces no ledger row (it leaves the covered corpus)
    // but its old rows must still be evicted — so they come from newDocs
    // (an id-only column-pruned scan), never from the text-filtered pass
    index.upsert(w, ledgerOf(perDoc, w),
      evictIds = Some(newDocs.select(col(idCol).as("id"))))
    sparseCensus(index)
  }

  /** A batch's checkpointed per-doc pass and its posting rows weighted
    * against the STORED df (unseen terms df = 1) — ONE implementation
    * behind the keyed and the append ingest. `w` is materialized
    * batch-sized: its plan READS the stored postings (for the stale df)
    * that the ingest then replaces or appends to, and a lazy `w`
    * re-executed after a swap would read just-deleted part files. */
  private def staleIdfBatch(newDocs: DataFrame, idCol: String,
                            textCol: String, index: graft.sources.TextIndex,
                            idfScale: Long): (DataFrame, DataFrame) = {
    val perDoc = perDocPass(newDocs, idCol, textCol)
    // one row per term: every posting of a term carries the same build df
    val storedDf = index.readPostings()
      .groupBy(col("term")).agg(max(col("df")).as("df"))
    val w = tfOf(perDoc).join(storedDf, Seq("term"), "left")
      .select(col("term"), col("id"),
        coalesce(col("df"), lit(1L)).as("df"), col("tf"),
        (col("tf") * expr(s"$idfScale div coalesce(df, 1)")).as("w"))
      .localCheckpoint(true)
    (perDoc, w)
  }

  /** O(batch) text ingest for genuinely-new doc ids —
    * [[sparseExtendStored]] without the eviction rewrite, under the same
    * STALE-IDF contract (batch weights from the stored df, unseen terms
    * df = 1): the batch's posting and norm files APPEND inside their
    * buckets. This is the path that matters for text: a whole-document
    * batch's terms hash into EVERY bucket, so the keyed upsert is a
    * full index rewrite by construction, while the append writes
    * exactly the batch's rows. Re-posted ids must use
    * [[sparseExtendStored]]; periodic
    * [[graft.sources.TextIndex.compact]] folds the files back. Returns
    * the per-df census read back from disk. */
  def sparseAppendStored(newDocs: DataFrame, idCol: String, textCol: String,
                         index: graft.sources.TextIndex,
                         idfScale: Long = 10000L,
                         expectToken: Option[String] = None): DataFrame = {
    // [[graft.operators.Similarity.ivfAppendStored]]'s append-once
    // contract: apply only while the index still covers the caller's
    // pre-batch corpus version (O(1) token-file read)
    if (expectToken.exists(t => !index.isCurrent(t)))
      return sparseCensus(index)
    val (perDoc, w) = staleIdfBatch(newDocs, idCol, textCol, index, idfScale)
    index.appendDocs(w, ledgerOf(perDoc, w))
    sparseCensus(index)
  }

  /** STATS-REFRESH REBUILD WITH CARRY-OVER — the "next full rebuild" the
    * stale-IDF contract ([[sparseExtendStored]]/[[sparseAppendStored]])
    * defers df drift to, as a callable op: recompute df over the index's
    * OWN posting rows, re-derive every weight from the stored tf under
    * the fresh df, recompute norms, and swap. No corpus access at all —
    * tf rides each posting row and the per-doc fp ledger reconstructs
    * the fingerprint — so after the rebuild the index reads FRESH for
    * the merged corpus and its census equals a from-scratch build on it
    * (q168's oracle gate). Returns the per-df census read back from
    * disk. */
  def sparseRebuildStored(index: graft.sources.TextIndex,
                          idfScale: Long = 10000L): DataFrame = {
    val p = index.readPostings()
    // the ledger is read AFTER the postings swap — materialize first; on
    // a driver thread overlapped with the weight checkpoint below (guide
    // §2.6: different tables, both reads strictly before any swap)
    val nT = graft.sources.Overlap.future(
      index.readNorms().localCheckpoint(true))
    // df as a count() window over the SAME term-hashed pass that derives
    // the weights (r18; the pre-r18 shape was groupBy(term) + an SMJ
    // rejoin — TWO postings parquet scans and two sorted join inputs for
    // the same per-term count): one scan, one exchange, one sort. The
    // window buffers one term's run at a time (spillable) — bounded by
    // the hottest term's postings, the same run SMJ buffered on its
    // build side.
    val dfW = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("term")))
    // materialized: feeds the norms, the range-partitioner's sampling
    // pass, and the postings shuffle — and its plan reads the posting
    // dirs writeIndex replaces
    val w = p.select(col("term"), col("id"), col("tf"))
      .withColumn("df", dfW)
      .select(col("term"), col("id"), col("df"), col("tf"),
        (col("tf") * expr(s"$idfScale div df")).as("w"))
      .localCheckpoint(true)
    val n = nT()
    // fingerprint reconstructed from the ledger — identical by the
    // fold-invariance contract to textScanToken over the merged corpus
    // (ONE render implementation, so the formats cannot drift). `def`:
    // evaluated by writeIndex overlapped with its swaps (guide §2.6) —
    // reads only the checkpointed ledger frame `n`.
    def meta = graft.sources.CorpusToken.render("text3",
      graft.sources.CorpusToken.terms(n, col("id"), col("fp")),
      s"idf=$idfScale|buckets=${index.nBuckets}")
    index.writeIndex(w, ledgerOf(n, w), meta)
    sparseCensus(index)
  }

  /** ONLINE sparse search over a stored inverted index: the identical
    * candidacy + rescore + rank tail as [[sparseCosineTopK]] (ONE
    * implementation — [[sparseRank]]), but the weight relation and norms
    * come from `index`'s parquet — the executed plan contains index scans
    * and keyed joins, no tokenize/df stages, and never touches document
    * text. Queries are the stored docs matching `queryPred` (over the
    * posting `id` column). A missing or stale index self-heals with one
    * synchronous build. */
  def sparseSearchStored(docs: DataFrame, idCol: String, textCol: String,
                         queryPred: org.apache.spark.sql.Column, k: Int,
                         index: graft.sources.TextIndex,
                         maxDf: Long = 100L, idfScale: Long = 10000L,
                         prune: Boolean = false,
                         corpusToken: Option[String] = None): DataFrame = {
    index.ensureCovers(corpusToken,
      textMeta(docs, idCol, textCol, idfScale, index), "sparseCorpusToken")(
      sparseBuildStored(docs, idCol, textCol, index, idfScale))
    sparseRank(index.readPostings(), index.readNorms(), queryPred, k,
      maxDf, prune)
  }
}
