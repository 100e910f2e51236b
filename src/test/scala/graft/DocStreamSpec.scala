package graft

import graft.streaming.DocStream

/** Incremental near-dup admission: in-batch dedup, cross-batch dedup
  * against the accumulated index, distinct docs always admitted. */
class DocStreamSpec extends SparkSpec {
  import sqlImplicits._

  private val base =
    "the quick brown fox jumps over the lazy dog again and again today ok"
  private val neardup =
    "the quick brown fox jumps over the lazy dog again and again tonight ok"
  private val other =
    "completely different content about spark query engines and shuffles here"
  private val third =
    "a totally unrelated document discussing benchmarks and storage formats"

  test("admitBatch: in-batch min-id wins; cross-batch rejects vs index") {
    val index = tmpDir("doc-index") + "/idx"
    // batch 1: near-dup pair inside the batch → min id admitted; plus one
    // distinct doc
    val b1 = Seq((5L, base), (9L, neardup), (7L, other)).toDF("doc_id", "text")
    val a1 = DocStream.admitBatch(spark, b1, index).collect()
      .map(_.getLong(0)).sorted
    assert(a1.toSeq == Seq(5L, 7L))

    // batch 2: near-dup of an ALREADY-ADMITTED doc is rejected across
    // batches; a genuinely new doc is admitted
    val b2 = Seq((20L, neardup), (21L, third)).toDF("doc_id", "text")
    val a2 = DocStream.admitBatch(spark, b2, index).collect()
      .map(_.getLong(0)).sorted
    assert(a2.toSeq == Seq(21L))

    // batch 3: exact re-delivery of everything → nothing admitted
    val b3 = Seq((30L, base), (31L, other), (32L, third)).toDF("doc_id", "text")
    assert(DocStream.admitBatch(spark, b3, index).count() == 0)
  }

  test("retry idempotence: re-running a partially-committed batch repeats its decision") {
    val index = tmpDir("doc-index-retry") + "/idx"
    val b1 = Seq((5L, base), (7L, other)).toDF("doc_id", "text")
    val first = DocStream.admitBatch(spark, b1, index).collect()
      .map(_.getLong(0)).sorted
    assert(first.toSeq == Seq(5L, 7L))
    // simulate foreachBatch retry AFTER the index append succeeded: the
    // same batch must admit the same docs (not self-reject against its own
    // first attempt) and must not duplicate index rows
    val retry = DocStream.admitBatch(spark, b1, index).collect()
      .map(_.getLong(0)).sorted
    assert(retry.toSeq == Seq(5L, 7L))
    val idx = spark.read.parquet(index)
    assert(idx.count() == idx.distinct().count())

    // and the index still rejects a near-dup from a genuinely new batch
    val b2 = Seq((20L, neardup)).toDF("doc_id", "text")
    assert(DocStream.admitBatch(spark, b2, index).count() == 0)
  }

  test("invalid input throws instead of vanishing; compaction preserves the index") {
    val index = tmpDir("doc-index-guard") + "/idx"
    val nullText = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, base), org.apache.spark.sql.Row(2L, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    intercept[IllegalArgumentException](
      DocStream.admitBatch(spark, nullText, index))
    val dupIds = Seq((7L, base), (7L, other)).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      DocStream.admitBatch(spark, dupIds, index))

    // several small batches → many files; compaction folds them without
    // changing the rejection behavior
    DocStream.admitBatch(spark, Seq((5L, base)).toDF("doc_id", "text"), index)
    DocStream.admitBatch(spark, Seq((6L, other)).toDF("doc_id", "text"), index)
    DocStream.admitBatch(spark, Seq((8L, third)).toDF("doc_id", "text"), index)
    val before = spark.read.parquet(index).collect().toSet
    DocStream.compactIndex(spark, index, targetPartitions = 1)
    assert(spark.read.parquet(index).collect().toSet == before)
    assert(DocStream.admitBatch(spark,
      Seq((30L, neardup)).toDF("doc_id", "text"), index).count() == 0)

    // an empty batch is a legal no-op, not an NPE
    assert(DocStream.admitBatch(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), index).count() == 0)

    // crash between compaction's two renames: the index dir is absent and
    // only the .old copy exists — the next admission must RESTORE it and
    // keep rejecting, not see an empty corpus and re-admit the near-dup
    java.nio.file.Files.move(
      java.nio.file.Paths.get(index),
      java.nio.file.Paths.get(index + ".old-simulated"))
    assert(DocStream.admitBatch(spark,
      Seq((31L, neardup)).toDF("doc_id", "text"), index).count() == 0,
      "recovery must restore the index before probing")
    assert(new java.io.File(index).exists() &&
      !new java.io.File(index + ".old-simulated").exists())
  }

  test("compaction killed between its renames: admission sees the pre-swap index, a retry folds it") {
    import graft.sources.IndexStore
    val index = tmpDir("doc-index-swapcrash") + "/idx"
    Seq((5L, base), (6L, other), (8L, third)).foreach { d =>
      DocStream.admitBatch(spark, Seq(d).toDF("doc_id", "text"), index)
    }
    val before = spark.read.parquet(index).collect().toSet
    IndexStore.crashAt = (_ == "swap:DocStream")
    try intercept[IndexStore.InjectedCrash](
      DocStream.compactIndex(spark, index, targetPartitions = 1))
    finally IndexStore.crashAt = _ => false
    val parent = new java.io.File(index).getParentFile
    assert(!new java.io.File(index).exists() &&
      parent.list().exists(_.startsWith("idx.old-")),
      "the crash must leave the index parked between the renames")
    // admission recovers before probing: the near-dup is still rejected
    assert(DocStream.admitBatch(spark,
      Seq((31L, neardup)).toDF("doc_id", "text"), index).count() == 0)
    assert(spark.read.parquet(index).collect().toSet == before)
    DocStream.compactIndex(spark, index, targetPartitions = 1)
    assert(spark.read.parquet(index).collect().toSet == before)
    assert(parent.list().toSeq == Seq("idx"), "swap remnants left behind")
  }

  test("admission index is bkt-partitioned and the probe scan prunes") {
    val index = tmpDir("doc-index-part") + "/idx"
    // seed enough distinct docs that several bkt directories materialize
    val seed = (0L until 40L).map(i =>
      (i, s"seed document number $i holding its own words alpha$i beta$i " +
        s"gamma$i delta$i epsilon$i zeta$i")).toDF("doc_id", "text")
    DocStream.admitBatch(spark, seed, index)

    // the layout on disk is directory partitioning on bkt
    val dirs = new java.io.File(index).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bkt="))
    assert(dirs.length > 1, s"expected bkt= partition dirs, got ${dirs.toSeq}")

    // the probe-side scan must carry a PartitionFilter on bkt — the
    // per-batch probe reads colliding partitions, not the whole index
    val pruned = DocStream.probeScan(spark, index, Seq(dirs.head.drop(4).toInt))
    val scan = pruned.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("bkt"),
      s"expected bkt partition filter in:\n$scan")
    assert(pruned.count() > 0)

    // pruning must not open a recall hole: a re-delivery of a seeded doc's
    // text (Hamming 0 — deterministically within any band budget) under a
    // new id must be rejected via the pruned probe, before and after
    // compaction
    val nd = seed.collect().head.getString(1)
    assert(DocStream.admitBatch(spark,
      Seq((90L, nd)).toDF("doc_id", "text"), index).count() == 0)
    DocStream.compactIndex(spark, index, targetPartitions = 4)
    val dirs2 = new java.io.File(index).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bkt=")).sorted
    assert(dirs2.toSeq == dirs.sorted.toSeq, "compaction changed the layout")
    assert(DocStream.admitBatch(spark,
      Seq((91L, nd)).toDF("doc_id", "text"), index).count() == 0)
  }

  test("batch equivalence: streamed admission replays the batch operator's pair verdict") {
    // End-to-end equivalence of the incremental index to the batch
    // operator: stream a corpus through admitBatch in id-ordered waves,
    // then recompute the admission set by replaying the DOCUMENTED policy
    // (cross-batch: reject on any pair with an admitted doc; in-batch:
    // greedy min-id over the corpus-surviving docs) over
    // simhashNearDupPairs' verdict on the FULL corpus. Any recall hole in
    // the persisted band layout / bkt pruning, or any spurious rejection,
    // breaks the set-equality.
    val index = tmpDir("doc-index-equiv") + "/idx"
    // 8 clusters of base + one-word-variant texts spread across waves,
    // plus deterministic hamming-0 duplicates (see below) so both reject
    // modes provably fire regardless of where each variant's distance lands
    def text(c: Int, v: String) =
      s"cluster$c quick brown fox jumps over the lazy dog again and again $v ok"
    val corpus: Seq[(Long, String)] = Seq(
      // wave 1: ids 0-9
      0L -> text(0, "today"), 1L -> text(1, "today"), 2L -> text(2, "today"),
      3L -> text(0, "tonight"),          // likely in-batch near-dup of 0
      4L -> text(3, "today"), 5L -> text(4, "today"),
      6L -> text(4, "today"),            // hamming 0 vs 5: in-batch reject
      7L -> text(5, "today"), 8L -> text(6, "today"), 9L -> text(7, "today"),
      // wave 2: ids 10-16
      10L -> text(1, "tonight"),         // likely cross-batch near-dup of 1
      11L -> text(2, "today"),           // hamming 0 vs 2: cross-batch reject
      12L -> text(8, "today"), 13L -> text(9, "today"),
      14L -> text(3, "tonight"), 15L -> text(10, "today"),
      16L -> text(10, "tonight"),        // in-batch near-dup candidate
      // wave 3: ids 17-21
      17L -> text(5, "tonight"), 18L -> text(11, "today"),
      19L -> text(11, "today"),          // hamming 0 vs 18 in-batch
      20L -> text(6, "today"),           // hamming 0 vs 8 cross-batch
      21L -> text(12, "today"))
    val waves = Seq(corpus.take(10), corpus.slice(10, 17), corpus.drop(17))

    val streamed = waves.flatMap { w =>
      DocStream.admitBatch(spark, w.toDF("doc_id", "text"), index)
        .collect().map(_.getLong(0))
    }.toSet

    val pairs = graft.operators.Dedup
      .simhashNearDupPairs(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def conflict(a: Long, b: Long): Boolean =
      pairs((math.min(a, b), math.max(a, b)))
    var admitted = Set.empty[Long]
    var crossRejects, inBatchRejects = 0
    for (w <- waves) {
      val ids = w.map(_._1).sorted
      val corpusRej = ids.filter(i => admitted.exists(conflict(_, i))).toSet
      val survivors = ids.filterNot(corpusRej)
      val batchRej =
        survivors.filter(y => survivors.exists(x => x < y && conflict(x, y)))
      crossRejects += corpusRej.size
      inBatchRejects += batchRej.size
      admitted ++= survivors.filterNot(batchRej.toSet)
    }
    assert(streamed == admitted,
      s"streamed ${streamed.toSeq.sorted} != replay ${admitted.toSeq.sorted}")
    // the equivalence must have been exercised on both reject paths (the
    // hamming-0 plants guarantee at least ids 11/20 cross and 6/19 in-batch)
    assert(crossRejects >= 2 && inBatchRejects >= 2,
      s"cross=$crossRejects inBatch=$inBatchRejects — corpus too easy")
  }

  test("streaming run: two waves through one staging dir and checkpoint") {
    // production shape: ONE staging dir receiving files, ONE checkpoint —
    // the second run resumes file tracking and batch numbering, so each
    // batch's output partition is unique (per-batch overwrite = retry
    // safety, not cross-run clobbering)
    val staging = tmpDir("doc-staging")
    val index = tmpDir("doc-index2") + "/idx"
    val out = tmpDir("doc-out")
    val ckpt = tmpDir("doc-ckpt")
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tmpDir(s"doc-wave-$name")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").json(tmp)
      scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { s =>
        s.filter(_.toString.endsWith(".json")).forEachOrdered(p =>
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(staging, s"$name.json")))
      }
    }
    stage("w1", Seq((5L, base), (9L, neardup)))
    DocStream.run(spark, staging, index, out, ckpt)
    stage("w2", Seq((20L, neardup), (21L, third)))
    DocStream.run(spark, staging, index, out, ckpt)
    val admitted = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).sorted
    assert(admitted.toSeq == Seq(5L, 21L))
  }

  // ---- curation admission (the q127 streaming twin) -------------------

  // gate-passing corpus-style texts forming a simhash CHAIN at h ≤ 3:
  // A~B (3), B~C (3), A¬~C (6) — the shape that distinguishes the greedy
  // maximal-independent-set policy (C survives: its only collider B was
  // itself rejected) from admitBatch's conservative reject-on-any policy
  private val curBase = "the fast key order sort table scan merge part " +
    "window small hash scan join order batch batch batch stream spark " +
    "window window"
  private val chainA = s"$curBase line"
  private val chainB = s"$curBase vector"
  private val chainC = s"$curBase customer"
  private val lowQuality = // en but quality below the 5000 gate
    "the quick brown fox jumps over the lazy dog again and again today ok"

  private def verdicts(rows: Seq[(Long, String)], stateDir: String,
                       splits: Seq[Seq[Long]]): Map[Long, String] =
    splits.flatMap { ids =>
      val keep = ids.toSet
      DocStream.curateBatch(spark,
          rows.filter(r => keep(r._1)).toDF("doc_id", "text"), stateDir)
        .collect().map(r => r.getLong(0) -> r.getString(1))
    }.toMap

  test("curateBatch: multi-batch ≡ single-batch on an id-ordered split") {
    val rows = Seq(
      (1L, lowQuality),  // quality_drop
      (2L, chainA),      // kept
      (3L, chainA),      // exact_dup of 2
      (4L, chainB),      // near_dup (collides with admitted 2)
      (5L, chainC),      // KEPT — its only collider 4 was itself rejected
      (6L, "completely different content about spark query engines and " +
        "shuffles here today with more words than the quality gate needs " +
        "to pass the corpus style threshold"))
    val expected = Map(1L -> "quality_drop", 2L -> "kept", 3L -> "exact_dup",
      4L -> "near_dup", 5L -> "kept", 6L -> "kept")
    val single = verdicts(rows, tmpDir("cur-single") + "/st",
      Seq(rows.map(_._1)))
    val multi = verdicts(rows, tmpDir("cur-multi") + "/st",
      Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L)))
    assert(single == expected, s"single-batch: $single")
    assert(multi == single,
      s"multi-batch diverged: $multi vs $single")
  }

  test("curateBatch: retry repeats its decisions without duplicating state") {
    val st = tmpDir("cur-retry") + "/st"
    val b = Seq((2L, chainA), (4L, chainB), (6L, chainC))
      .toDF("doc_id", "text")
    val first = DocStream.curateBatch(spark, b, st)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val retry = DocStream.curateBatch(spark, b, st)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(retry == first)
    val fp = spark.read.parquet(s"$st/fp")
    val sh = spark.read.parquet(s"$st/sh")
    assert(fp.count() == fp.distinct().count())
    assert(sh.count() == sh.distinct().count())
    // the state still gates a later batch
    val next = DocStream.curateBatch(spark,
        Seq((10L, chainA)).toDF("doc_id", "text"), st)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(next == Map(10L -> "exact_dup"))
  }

  test("curation state compaction preserves verdicts and row sets") {
    val st = tmpDir("cur-compact") + "/st"
    DocStream.curateBatch(spark,
      Seq((2L, chainA), (6L, chainC)).toDF("doc_id", "text"), st).collect()
    DocStream.curateBatch(spark,
      Seq((10L, chainB)).toDF("doc_id", "text"), st).collect()
    val fpBefore = spark.read.parquet(s"$st/fp").collect().toSet
    val shBefore = spark.read.parquet(s"$st/sh").collect().toSet
    DocStream.compactCurationState(spark, st, targetPartitions = 2)
    assert(spark.read.parquet(s"$st/fp").collect().toSet == fpBefore)
    assert(spark.read.parquet(s"$st/sh").collect().toSet == shBefore)
    // the compacted state still gates: exact re-delivery rejected
    val next = DocStream.curateBatch(spark,
        Seq((20L, chainA)).toDF("doc_id", "text"), st)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(next == Map(20L -> "exact_dup"))
  }

  test("streaming curation stage-partitions like batch q127 on its corpus") {
    // Run the streaming ladder over q127's own composed corpus (docs +
    // re-crawl clones) in three id-ordered batches and pin the stage
    // alignment: quality and exact verdicts are IDENTICAL; the third
    // stage judges text (simhash) where q127 judges embeddings
    // (SemDeDup), so those partitions match as UNIONS — a doc reaches
    // stage 3 streaming iff it reaches stage 3 in the batch pass.
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.{col, max}
    val docs = graft.sources.Tables(spark, dir, "documents")
    val cloneOff = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + cloneOff).as("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val cut1 = corpus(corpus.size / 3)._1
    val cut2 = corpus(2 * corpus.size / 3)._1
    val streamed = verdicts(corpus, tmpDir("cur-q127") + "/st", Seq(
      corpus.map(_._1).filter(_ <= cut1),
      corpus.map(_._1).filter(id => id > cut1 && id <= cut2),
      corpus.map(_._1).filter(_ > cut2)))
    val batch = graft.queries.Curation.q127CurationPass(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed.keySet == batch.keySet)
    def ids(m: Map[Long, String], ss: Set[String]) =
      m.collect { case (id, s) if ss(s) => id }.toSet
    assert(ids(streamed, Set("quality_drop")) == ids(batch, Set("quality_drop")))
    assert(ids(streamed, Set("exact_dup")) == ids(batch, Set("exact_dup")))
    assert(ids(streamed, Set("kept", "near_dup")) ==
      ids(batch, Set("kept", "semantic_dup")))
    // the fixture must exercise every streaming arm
    assert(Set("quality_drop", "exact_dup", "kept")
      .subsetOf(streamed.values.toSet))
  }

  test("runCuration: verdicts land per batch through staging + checkpoint") {
    val staging = tmpDir("cur-staging")
    val st = tmpDir("cur-state") + "/st"
    val out = tmpDir("cur-out")
    val ckpt = tmpDir("cur-ckpt")
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tmpDir(s"cur-wave-$name")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").json(tmp)
      scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { s =>
        s.filter(_.toString.endsWith(".json")).forEachOrdered(p =>
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(staging, s"$name.json")))
      }
    }
    stage("w1", Seq((2L, chainA), (3L, lowQuality)))
    DocStream.runCuration(spark, staging, st, out, ckpt)
    stage("w2", Seq((10L, chainA), (11L, chainB)))
    DocStream.runCuration(spark, staging, st, out, ckpt)
    val got = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "kept", 3L -> "quality_drop",
      10L -> "exact_dup", 11L -> "near_dup"))
  }

  // -------------------------------------------------------------------
  // round 15: arrival-time EMBEDDING admission against a stored grid

  /** Fixed grid: two orthogonal anchors — every fixture vector's cell is
    * unambiguous. */
  private def buildGrid(name: String): graft.sources.VectorIndex = {
    val grid = new graft.sources.VectorIndex(spark, tmpDir(name))
    graft.operators.Similarity.ivfBuildStored(
      Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 2, index = grid, portable = true)
      .collect()
    grid
  }

  // chain at τ = 0.93: cos(A,B) = cos(B,C) = 0.962964 ≥ τ,
  // cos(A,C) = 0.854599 < τ; D sits in the other anchor's cell
  private val embA = Seq(1f, 0f, 0.28f, 0f)
  private val embB = Seq(1f, 0f, 0f, 0f)
  private val embC = Seq(1f, 0f, -0.28f, 0f)
  private val embD = Seq(0f, 1f, 0f, 0.2f)

  private def embVerdicts(rows: Seq[(Long, Seq[Float])],
                          grid: graft.sources.VectorIndex, st: String,
                          splits: Seq[Seq[Long]]): Map[Long, String] =
    splits.flatMap { ids =>
      val keep = ids.toSet
      DocStream.admitEmbBatch(spark,
          rows.filter(r => keep(r._1)).toDF("doc_id", "embedding"),
          grid, st, tauPpm = 930000L)
        .collect().map(r => r.getLong(0) -> r.getString(1))
    }.toMap

  test("admitEmbBatch: multi-batch ≡ single-batch; greedy-by-admitted chain") {
    val rows = Seq((10L, embA), (11L, embB), (12L, embC), (13L, embD))
    // 10 kept; 11 rejected vs admitted 10; 12 KEPT — its only collider 11
    // was itself rejected and cos(10,12) is under τ (the greedy-by-
    // admitted signature the simhash chain test pins for text)
    val expected = Map(10L -> "kept", 11L -> "semantic_dup",
      12L -> "kept", 13L -> "kept")
    val single = embVerdicts(rows, buildGrid("emb-grid-s"),
      tmpDir("emb-single") + "/st", Seq(rows.map(_._1)))
    val multi = embVerdicts(rows, buildGrid("emb-grid-m"),
      tmpDir("emb-multi") + "/st", Seq(Seq(10L, 11L), Seq(12L, 13L)))
    assert(single == expected, s"single-batch: $single")
    assert(multi == single, s"multi-batch diverged: $multi vs $single")
  }

  test("admitEmbBatch: retry repeats decisions; state gates later batches") {
    val grid = buildGrid("emb-grid-r")
    val st = tmpDir("emb-retry") + "/st"
    val b = Seq((10L, embA), (11L, embB)).toDF("doc_id", "embedding")
    val first = DocStream.admitEmbBatch(spark, b, grid, st, 930000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == Map(10L -> "kept", 11L -> "semantic_dup"))
    val retry = DocStream.admitEmbBatch(spark, b, grid, st, 930000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(retry == first, "retry must reproduce, not self-reject")
    val state = spark.read.parquet(s"$st/emb")
    assert(state.count() == state.distinct().count() && state.count() == 1)
    // the accumulated state gates an exact re-arrival under a new id
    val next = DocStream.admitEmbBatch(spark,
        Seq((20L, embA)).toDF("doc_id", "embedding"), grid, st, 930000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(next == Map(20L -> "semantic_dup"))
  }

  test("emb state: all-rejected batch stays readable; compaction folds files") {
    val grid = buildGrid("emb-grid-c")
    val st = tmpDir("emb-compact") + "/st"
    // three single-doc batches accumulate per-batch files; A and C share
    // a cell bucket (cos(A,C) = 0.8546 < τ, both admitted) so that
    // bucket holds two files for compaction to fold
    for ((id, v) <- Seq((10L, embA), (12L, embC), (13L, embD)))
      DocStream.admitEmbBatch(spark,
        Seq((id, v)).toDF("doc_id", "embedding"), grid, st, 930000L)
        .collect()
    // an all-rejected batch appends ZERO rows (no count() guard job any
    // more) — the state dir must stay readable afterwards
    val rej = DocStream.admitEmbBatch(spark,
        Seq((20L, embA)).toDF("doc_id", "embedding"), grid, st, 930000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rej == Map(20L -> "semantic_dup"))
    def files(): Int = {
      val fs = new org.apache.hadoop.fs.Path(st).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$st/emb/cbkt=*/*")).length
    }
    val before = files()
    DocStream.compactEmbState(spark, st, targetPartitions = 1)
    val after = files()
    assert(after < before, s"compaction must fold files: $before -> $after")
    // verdicts unchanged against the compacted state: B collides with
    // admitted A; E shares D's cell but cos(D,E) = 0.8 < τ
    val embE = Seq(0f, 1f, 0.5f, 0f)
    val next = DocStream.admitEmbBatch(spark,
        Seq((21L, embB), (22L, embE)).toDF("doc_id", "embedding"),
        grid, st, 930000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(next == Map(21L -> "semantic_dup", 22L -> "kept"), s"$next")
  }

  test("curateBatchFull: embedding gate downgrades only text-kept docs") {
    val grid = buildGrid("emb-grid-f")
    val st = tmpDir("cur-full") + "/st"
    val longOk = "completely different content about spark query engines " +
      "and shuffles here today with more words than the quality gate " +
      "needs to pass the corpus style threshold"
    val rows = Seq(
      (1L, lowQuality, embD),  // quality_drop — never reaches the gate
      (2L, chainA, embA),      // kept through all four stages
      (3L, chainA, embB),      // exact_dup — its near-dup embedding must NOT enter state
      (4L, chainC, embB),      // semantic_dup: text-kept (no text collision
                               // with admitted chainA), cos(A,B) ≥ τ
      (5L, longOk, embD))      // kept: other cell
    def run(ids: Seq[Long], dir: String) = DocStream.curateBatchFull(spark,
        rows.filter(r => ids.contains(r._1))
          .toDF("doc_id", "text", "embedding"),
        grid, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Map(1L -> "quality_drop", 2L -> "kept",
      3L -> "exact_dup", 4L -> "semantic_dup", 5L -> "kept")
    val single = run(rows.map(_._1), st)
    assert(single == expected, s"single-batch: $single")
    // id-ordered split reproduces the verdict sequence
    val st2 = tmpDir("cur-full-multi") + "/st"
    val multi = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)).flatMap { ids =>
      run(ids, st2).toSeq
    }.toMap
    assert(multi == single, s"multi-batch diverged: $multi vs $single")
  }

  test("runCurationFull: four-stage verdicts land through staging + checkpoint") {
    val grid = buildGrid("emb-grid-run")
    val staging = tmpDir("curf-staging")
    val st = tmpDir("curf-state") + "/st"
    val out = tmpDir("curf-out")
    val ckpt = tmpDir("curf-ckpt")
    def stage(name: String, rows: Seq[(Long, String, Seq[Float])]): Unit = {
      val tmp = tmpDir(s"curf-wave-$name")
      rows.toDF("doc_id", "text", "embedding").coalesce(1)
        .write.mode("overwrite").json(tmp)
      scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { s =>
        s.filter(_.toString.endsWith(".json")).forEachOrdered(p =>
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(staging, s"$name.json")))
      }
    }
    val longOk = "completely different content about spark query engines " +
      "and shuffles here today with more words than the quality gate " +
      "needs to pass the corpus style threshold"
    stage("w1", Seq((2L, chainA, embA), (3L, lowQuality, embD)))
    DocStream.runCurationFull(spark, staging, grid, st, out, ckpt)
    // wave 2: a text near-dup, an embedding near-dup of admitted 2, and
    // a doc clean on every stage
    stage("w2", Seq((10L, chainB, embD), (11L, chainC, embB),
      (12L, longOk, embD)))
    DocStream.runCurationFull(spark, staging, grid, st, out, ckpt)
    val got = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "kept", 3L -> "quality_drop",
      10L -> "near_dup", 11L -> "semantic_dup", 12L -> "kept"), s"$got")
  }
}
