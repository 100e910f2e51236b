package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.VectorIndex

/** The stored-IVF split ([[Similarity.ivfBuildStored]] /
  * [[Similarity.ivfSearchStored]] / [[Similarity.ivfExtendStored]] over a
  * [[VectorIndex]]): the offline/online separation must lose nothing vs
  * the inline path, the posting upsert must stay keyed, and the
  * fingerprint must gate staleness and crashed builds. */
class StoredIndexSpec extends SparkSpec {
  import sqlImplicits._

  // 40 vectors in 8 dims, deterministic, mildly clustered (two anchor
  // directions plus an id-dependent wobble) so cells are non-trivial
  private lazy val emb = (0L until 40L).map { i =>
    val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    else Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
    (i, base.zipWithIndex.map { case (x, d) =>
      x + ((i * 7 + d * 3) % 11).toFloat / 23f }.toSeq)
  }.toDF("vec_id", "embedding")

  private def census(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("stored search ≡ inline ivfTopK at identical parameters") {
    val idx = new VectorIndex(spark, tmpDir("vidx-eq"))
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val stored = rows(Similarity.ivfSearchStored(emb, "vec_id", "embedding",
        nCentroids = 5, nProbe = 3, queryPred = col("id") < 4, k = 3,
        index = idx, portable = true)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
      .orderBy(col("qid"), col("rank")))
    val inline = rows(Similarity.ivfTopK(emb, "vec_id", "embedding",
        nCentroids = 5, nProbe = 3, queryPred = col("id") < 4, k = 3,
        portable = true)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
      .orderBy(col("qid"), col("rank")))
    assert(stored.nonEmpty && stored == inline)
  }

  test("fingerprint: absent → stale corpus → stale params all rebuild-gate") {
    val idx = new VectorIndex(spark, tmpDir("vidx-meta"))
    // search on an ABSENT index self-heals (one synchronous build)
    val r = Similarity.ivfSearchStored(emb, "vec_id", "embedding",
      nCentroids = 5, nProbe = 3, queryPred = col("id") < 2, k = 3,
      index = idx, portable = true).collect()
    assert(r.nonEmpty)
    // grown corpus and changed params must both read as stale; the
    // original build must read as fresh (ivfEnsureStored is then a no-op
    // aggregate — pinned via postings file mtimes staying put)
    val grown = emb.unionByName(
      Seq((99L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding"))
    def freshFor(e: org.apache.spark.sql.DataFrame, k: Int): Boolean = {
      // probe freshness through the public ensure path: a rebuild against
      // a different corpus changes the postings row count, a no-op doesn't
      val before = idx.readPostings().count()
      Similarity.ivfEnsureStored(e, "vec_id", "embedding", nCentroids = k,
        index = idx, portable = true)
      idx.readPostings().count() == before
    }
    assert(freshFor(emb, 5), "unchanged corpus+params must not rebuild")
    assert(!freshFor(grown, 5), "grown corpus must rebuild")
    // after the rebuild-on-grown, the original corpus is stale again
    assert(!freshFor(emb, 5))
  }

  test("extend: keyed upsert — idempotent re-extend, moved id evicted") {
    val idx = new VectorIndex(spark, tmpDir("vidx-ext"))
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val c1 = census(Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx))
    val c2 = census(Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx))
    assert(c1 == c2, "re-extending the same batch must be a no-op")
    assert(c1.map(_._2).sum == 44, s"40 base + 4 clones: $c1")
    // re-ingest an EXISTING id with a different vector: exactly one row
    // for that id survives, in the new vector's cell
    val moved = Seq((100L, Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfExtendStored(moved, "vec_id", "embedding", idx).collect()
    val rows100 = idx.readPostings().where(col("id") === 100L).collect()
    assert(rows100.length == 1)
    assert(idx.readPostings().count() == 44)
  }

  test("stored PQ search ≡ inline ivfPqTopK at identical parameters") {
    val idx = new graft.sources.PqIndex(spark, tmpDir("pqidx-eq"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("qid"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    val stored = rows(graft.operators.Similarity.ivfPqSearchStored(
      emb, "vec_id", "embedding", nCells = 5, nProbe = 2, m = 4, kCodes = 6,
      scale = 1000000L, queryPred = col("id") < 4, rerank = 8, k = 3,
      index = idx))
    val inline = rows(graft.operators.Similarity.ivfPqTopK(
      emb, "vec_id", "embedding", nCells = 5, nProbe = 2, m = 4, kCodes = 6,
      scale = 1000000L, queryPred = col("id") < 4, rerank = 8, k = 3))
    assert(stored.nonEmpty && stored == inline)
    // census gate over what's on disk: m code rows per vector
    val census = graft.operators.Similarity.ivfPqBuildStored(
      emb, "vec_id", "embedding", nCells = 5, m = 4, kCodes = 6,
      scale = 1000000L, index = idx)
    assert(census.collect().map(_.getLong(1)).sum == 40 * 4)
  }

  test("delete: physical removal, idempotent, search never returns the id") {
    val idx = new VectorIndex(spark, tmpDir("vidx-del"))
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val doomed = Seq(2L, 3L).toDF("id")
    val c1 = census(Similarity.ivfDeleteStored(doomed, idx))
    assert(c1.map(_._2).sum == 38)
    assert(idx.readPostings().where(col("id").isin(2L, 3L)).count() == 0)
    // idempotent: deleting again (plus a never-present id) is a no-op
    val c2 = census(Similarity.ivfDeleteStored(
      Seq(2L, 3L, 999L).toDF("id"), idx))
    assert(c2 == c1)
    // the deleted ids can never surface as search candidates
    val got = Similarity.ivfSearchStored(emb, "vec_id", "embedding",
        nCentroids = 5, nProbe = 5, queryPred = col("id") < 4, k = 10,
        index = idx, portable = true)
      .collect().map(_.getLong(2)).toSet
    assert(got.nonEmpty && !got.contains(2L) && !got.contains(3L))
  }

  // -------------------------------------------------------------------
  // round-15 partitioned physical layout + the completed forget paths

  /** (band dir name → sorted (file, length) pairs) for a partitioned
    * table — the change-detection snapshot the touched-bands assertions
    * diff. */
  private def bandFiles(root: String, table: String): Map[String, Seq[(String, Long)]] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$root/$table/*=*"))
    (if (dirs == null) Array[org.apache.hadoop.fs.FileStatus]() else dirs)
      .map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath).filterNot(_.getPath.getName.startsWith("_"))
            .map(f => (f.getPath.getName, f.getLen)).sortBy(_._1).toSeq
      }.toMap
  }

  test("partitioned maintenance rewrites ONLY touched bands") {
    val root = tmpDir("vidx-bands")
    val idx = new VectorIndex(spark, root)
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val before = bandFiles(root, "postings")
    assert(before.size >= 2, s"need >1 band to prove pruning: $before")
    // single-vector ingest: exactly one band (the new row's cell band)
    // may change; every other band dir's files must be byte-identical
    val one = Seq((500L, Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfExtendStored(one, "vec_id", "embedding", idx).collect()
    val after = bandFiles(root, "postings")
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(changed.size == 1, s"one ingest row must touch one band: $changed")
    assert(idx.readPostings().where(col("id") === 500L).count() == 1)
    // single-id delete: only the band holding that id changes
    val before2 = bandFiles(root, "postings")
    Similarity.ivfDeleteStored(Seq(7L).toDF("id"), idx).collect()
    val after2 = bandFiles(root, "postings")
    val changed2 = (before2.keySet ++ after2.keySet)
      .filter(k => before2.get(k) != after2.get(k))
    assert(changed2.size == 1, s"one delete id must touch one band: $changed2")
  }

  test("per-partition crashed swap recovers from the .old marker") {
    val root = tmpDir("vidx-pcrash")
    val idx = new VectorIndex(spark, root)
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val n = idx.readPostings().count()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bands = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$root/postings/cid_band=*"))
    assert(bands.nonEmpty)
    val victim = bands.head.getPath // e.g. postings/cid_band=3
    // simulate a kill between a band's two renames: live dir moved to the
    // .old marker, replacement never renamed in
    assert(fs.rename(victim, new org.apache.hadoop.fs.Path(
      s"$root/postings/.old-simcrash-${victim.getName}")))
    assert(idx.readPostings().count() == n,
      "read after a crashed band swap must restore the pre-swap rows")
    // and a stray .tmp dir is swept, not read
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/postings/.tmp-zzz"))
    assert(idx.readPostings().count() == n)
  }

  test("per-partition upsert killed between a band's renames: reads see the pre-swap rows, a retry converges") {
    import graft.sources.IndexStore
    // new ids plus a re-ingested id that moves cells: existing bands are
    // rewritten, so the first committed slot has a live dir to park
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
      .unionByName(Seq((3L, Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f)))
        .toDF("vec_id", "embedding"))
    def build(root: String): VectorIndex = {
      val idx = new VectorIndex(spark, root)
      Similarity.ivfBuildStored(emb, "vec_id", "embedding",
        nCentroids = 5, index = idx, portable = true).collect()
      idx
    }
    def rows(i: VectorIndex) = i.readPostings().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ctrl = build(tmpDir("vidx-swapcrash-ctrl"))
    Similarity.ivfExtendStored(batch, "vec_id", "embedding", ctrl).collect()
    val root = tmpDir("vidx-swapcrash")
    val idx = build(root)
    val before = rows(idx)
    val tokBefore = idx.storedToken()
    IndexStore.crashAt = (_ == "swap:postings")
    try intercept[IndexStore.InjectedCrash](
      Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx))
    finally IndexStore.crashAt = _ => false
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$root/postings/.old-*-cid_band=*")).nonEmpty,
      "the crash must leave a band parked between its renames")
    // the commit marker was written: a bare read rolls every band AND the
    // folded token forward together
    assert(rows(idx) != before)
    assert(rows(idx) == rows(ctrl), "a bare read must see the committed rows")
    assert(idx.storedToken() != tokBefore)
    assert(idx.storedToken() == ctrl.storedToken(),
      "the token must move with the data")
    Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx).collect()
    assert(rows(idx) == rows(ctrl))
    assert(idx.storedToken() == ctrl.storedToken())
  }

  test("IVF upsert and delete killed at swap:postings converge with zero " +
      "self-healing rebuilds") {
    import graft.sources.IndexStore
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
      .unionByName(Seq((3L, Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f)))
        .toDF("vec_id", "embedding"))
    val upserted = emb.where(col("vec_id") =!= 3L).unionByName(batch)
    val doomed = Seq(4L, 9L, 17L).toDF("id")
    val deleted = emb.where(!col("vec_id").isin(4L, 9L, 17L))
    def build(root: String): VectorIndex = {
      val idx = new VectorIndex(spark, root)
      Similarity.ivfBuildStored(emb, "vec_id", "embedding",
        nCentroids = 5, index = idx, portable = true).collect()
      idx
    }
    def rows(i: VectorIndex) = i.readPostings().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def centroidFiles(root: String) = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/centroids"))
        .map(_.getPath.getName).toSet
    }
    Seq[(String, VectorIndex => Unit, org.apache.spark.sql.DataFrame)](
      ("upsert", i => Similarity.ivfExtendStored(batch, "vec_id", "embedding", i)
        .collect(), upserted),
      ("delete", i => Similarity.ivfDeleteStored(doomed, i).collect(), deleted)
    ).foreach { case (op, run, corpus) =>
      val ctrl = build(tmpDir(s"vidx-$op-ctrl"))
      run(ctrl)
      val root = tmpDir(s"vidx-$op-crash")
      val idx = build(root)
      val grid = centroidFiles(root)
      IndexStore.crashAt = (_ == "swap:postings")
      try intercept[IndexStore.InjectedCrash](run(idx))
      finally IndexStore.crashAt = _ => false
      // the token a caller maintaining the corpus holds after the op
      val tok = Similarity.ivfCorpusToken(corpus, "vec_id", "embedding",
        nCentroids = 5, index = idx, portable = true)
      assert(ctrl.isCurrent(tok), s"[$op] the control must cover the new corpus")
      // a token-gated search right after the crash: the read rolls the
      // commit forward, the token matches, and no rebuild runs
      Similarity.ivfSearchStored(corpus, "vec_id", "embedding",
        nCentroids = 5, nProbe = 2, queryPred = col("vec_id") < 5L, k = 3,
        index = idx, portable = true, corpusToken = Some(tok)).collect()
      assert(idx.isCurrent(tok), s"[$op] token must converge")
      assert(rows(idx) == rows(ctrl), s"[$op] rows must converge")
      // a rebuild would have swapped in a fresh centroid table
      assert(centroidFiles(root) == grid,
        s"[$op] recovery must never trigger a rebuild")
      run(idx)
      assert(idx.isCurrent(tok) && rows(idx) == rows(ctrl),
        s"[$op] a retry must be a no-op")
    }
  }

  test("stale CONTENT rebuild-gates even when ids are unchanged") {
    val idx = new VectorIndex(spark, tmpDir("vidx-content"))
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    // same ids, one vector's content edited: count+sum(id) are identical,
    // so only the content checksum can catch it
    val edited = emb.select(col("vec_id"),
      when(col("vec_id") === 3L,
        org.apache.spark.sql.functions.transform(col("embedding"), x => x + 1f))
        .otherwise(col("embedding")).as("embedding"))
    val nrmBefore = idx.readPostings().where(col("id") === 3L)
      .select(col("nrm")).head().getDouble(0)
    Similarity.ivfEnsureStored(edited, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true)
    // rebuild happened: id 3's stored row now carries the EDITED vector's
    // norm (count and sum(id) were identical, so only the content
    // checksum in the fingerprint could have caught the staleness)
    val nrmAfter = idx.readPostings().where(col("id") === 3L)
      .select(col("nrm")).head().getDouble(0)
    assert(math.abs(nrmAfter - nrmBefore) > 1e-9,
      "content edit must trigger a rebuild against the edited corpus")
  }

  test("PQ extend + delete: keyed, idempotent, bands-confined") {
    val root = tmpDir("pqidx-lifecycle")
    val idx = new graft.sources.PqIndex(spark, root)
    Similarity.ivfPqBuildStored(emb, "vec_id", "embedding",
      nCells = 5, m = 4, kCodes = 6, scale = 1000000L, index = idx).collect()
    assert(idx.readCodes().count() == 40 * 4)
    // ingest clones under offset ids, encoded against the STORED books
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    def pqCensus(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val c1 = pqCensus(Similarity.ivfPqExtendStored(batch, "vec_id",
      "embedding", m = 4, scale = 1000000L, index = idx))
    val c2 = pqCensus(Similarity.ivfPqExtendStored(batch, "vec_id",
      "embedding", m = 4, scale = 1000000L, index = idx))
    assert(c1 == c2, "re-extending the same batch must be a no-op")
    assert(c1.map(_._2).sum == 44 * 4, s"44 vectors x 4 code rows: $c1")
    // the forget path drops exactly the doomed ids' rows, idempotently
    val d1 = pqCensus(Similarity.ivfPqDeleteStored(
      Seq(100L, 2L).toDF("id"), idx))
    assert(d1.map(_._2).sum == 42 * 4)
    assert(idx.readCodes().where(col("id").isin(100L, 2L)).count() == 0)
    val d2 = pqCensus(Similarity.ivfPqDeleteStored(
      Seq(100L, 2L, 9999L).toDF("id"), idx))
    assert(d2 == d1, "re-deleting (plus a never-present id) is a no-op")
    // a deleted vector can never be ADC-scored again
    val got = Similarity.ivfPqSearchStored(emb.where(col("vec_id") =!= 2L),
      "vec_id", "embedding", nCells = 5, nProbe = 5, m = 4, kCodes = 6,
      scale = 1000000L, queryPred = col("id") < 4, rerank = 40, k = 40,
      index = idx).collect().map(_.getLong(2)).toSet
    assert(got.nonEmpty && !got.contains(2L) && !got.contains(100L))
  }

  test("text delete: postings + norm rows physically gone, idempotent") {
    val docs = Seq(
      (1L, "alpha beta gamma common"), (2L, "alpha beta delta common"),
      (3L, "epsilon zeta eta common"), (4L, "theta iota kappa common"),
      (5L, "alpha kappa zeta common")).toDF("doc_id", "text")
    val idx = new graft.sources.TextIndex(spark, tmpDir("tidx-del"))
    graft.operators.TfIdf.sparseBuildStored(docs, "doc_id", "text", idx)
      .collect()
    def census(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val c1 = census(graft.operators.TfIdf.sparseDeleteStored(
      Seq(2L).toDF("id"), idx))
    assert(idx.readPostings().where(col("id") === 2L).count() == 0)
    assert(idx.readNorms().where(col("id") === 2L).count() == 0)
    assert(idx.readNorms().count() == 4)
    // surviving rows keep BUILD-time df (stale-df contract): 'alpha' had
    // df=3 at build; doc 2's eviction leaves 2 rows still carrying df=3
    val alpha = idx.readPostings().where(col("term") === "alpha")
      .select(col("df")).collect().map(_.getLong(0)).toSeq
    assert(alpha == Seq(3L, 3L), s"stale-df contract: $alpha")
    val c2 = census(graft.operators.TfIdf.sparseDeleteStored(
      Seq(2L, 777L).toDF("id"), idx))
    assert(c2 == c1, "re-deleting (plus a never-present id) is a no-op")
  }

  test("append: O(batch) file landing ≡ keyed upsert for new ids; compact folds") {
    val rootA = tmpDir("vidx-append")
    val idxA = new VectorIndex(spark, rootA)
    val idxU = new VectorIndex(spark, tmpDir("vidx-append-twin"))
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idxA, portable = true).collect()
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idxU, portable = true).collect()
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    // the pre-batch corpus version — the append-once guard
    val base = Similarity.ivfCorpusToken(emb, "vec_id", "embedding",
      nCentroids = 5, index = idxA, portable = true)
    val a1 = census(Similarity.ivfAppendStored(batch, "vec_id", "embedding",
      idxA, expectToken = Some(base)))
    val u1 = census(Similarity.ivfExtendStored(batch, "vec_id", "embedding", idxU))
    assert(a1 == u1, "append and upsert must be disk-indistinguishable " +
      s"for new ids: $a1 vs $u1")
    // append-once: a re-run guarded by the PRE-BATCH token is an O(1)
    // no-op — the stored token moved past it when the batch committed
    // (the production retry discipline; no id-presence scan runs)
    val a2 = census(Similarity.ivfAppendStored(batch, "vec_id", "embedding",
      idxA, expectToken = Some(base)))
    assert(a2 == a1)
    // an UNguarded append of a further new id still lands
    Similarity.ivfAppendStored(
      Seq((300L, Seq(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", idxA).collect()
    assert(idxA.readPostings().where(col("id") === 300L).count() == 1)
    // compaction: row set identical, file count back down
    def files(root: String) = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$root/postings/cid_band=*/*")).length
    }
    val before = idxA.readPostings().collect().toSet
    val filesBefore = files(rootA)
    idxA.compactPostings()
    assert(idxA.readPostings().collect().toSet == before,
      "compaction must preserve the row set byte for byte")
    assert(files(rootA) <= filesBefore,
      s"compaction must not grow the file count: $filesBefore -> ${files(rootA)}")
    // search over the appended+compacted index still never fabricates
    val got = Similarity.ivfSearchStored(emb, "vec_id", "embedding",
        nCentroids = 5, nProbe = 5, queryPred = col("id") < 2, k = 50,
        index = idxA, portable = true)
      .collect().map(_.getLong(2)).toSet
    assert(got.nonEmpty)
  }

  test("text append ≡ upsert for new docs; compact preserves both tables") {
    val docs = Seq(
      (1L, "alpha beta gamma common"), (2L, "alpha beta delta common"),
      (3L, "epsilon zeta eta common"), (4L, "theta iota kappa common"))
      .toDF("doc_id", "text")
    val idxA = new graft.sources.TextIndex(spark, tmpDir("tidx-app"))
    val idxU = new graft.sources.TextIndex(spark, tmpDir("tidx-app-twin"))
    graft.operators.TfIdf.sparseBuildStored(docs, "doc_id", "text", idxA)
      .collect()
    graft.operators.TfIdf.sparseBuildStored(docs, "doc_id", "text", idxU)
      .collect()
    val batch = Seq((10L, "alpha omega fresh common")).toDF("doc_id", "text")
    def cens(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val base = graft.operators.TfIdf.sparseCorpusToken(docs, "doc_id",
      "text", idxA)
    val a = cens(graft.operators.TfIdf.sparseAppendStored(batch, "doc_id",
      "text", idxA, expectToken = Some(base)))
    val u = cens(graft.operators.TfIdf.sparseExtendStored(batch, "doc_id",
      "text", idxU))
    assert(a == u, s"append ≡ upsert for a new doc: $a vs $u")
    assert(cens(graft.operators.TfIdf.sparseAppendStored(batch, "doc_id",
      "text", idxA, expectToken = Some(base))) == a,
      "a re-append guarded by the pre-batch token must be a no-op")
    assert(idxA.readNorms().count() == 5)
    val pBefore = idxA.readPostings().collect().toSet
    val nBefore = idxA.readNorms().collect().toSet
    idxA.compact()
    assert(idxA.readPostings().collect().toSet == pBefore)
    assert(idxA.readNorms().collect().toSet == nBefore)
  }

  test("targeted compaction folds ONLY fragmented partitions") {
    // a single appended doc fragments exactly its terms' posting buckets
    // and its id's norm bucket — compact(minFiles = 2) must rewrite
    // those and leave every other bucket's files LITERALLY untouched
    // (same names: the steady-state compaction cost is ∝ fragmented
    // partitions, not the table)
    val docs = Seq(
      (1L, "alpha beta gamma common"), (2L, "alpha beta delta common"),
      (3L, "epsilon zeta eta common"), (4L, "theta iota kappa common"))
      .toDF("doc_id", "text")
    val root = tmpDir("tidx-targeted")
    val idx = new graft.sources.TextIndex(spark, root)
    graft.operators.TfIdf.sparseBuildStored(docs, "doc_id", "text", idx)
      .collect()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(table: String): Map[String, Seq[String]] =
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/$table/*=*"))
        .map { d =>
          d.getPath.getName ->
            fs.listStatus(d.getPath).map(_.getPath.getName)
              .filterNot(n => n.startsWith("_") || n.startsWith("."))
              .sorted.toSeq
        }.toMap
    graft.operators.TfIdf.sparseAppendStored(
      Seq((10L, "alpha omega fresh")).toDF("doc_id", "text"),
      "doc_id", "text", idx).collect()
    val pAfterApp = listing("postings")
    val nAfterApp = listing("norms")
    val pFrag = pAfterApp.filter(_._2.size >= 2).keySet
    val nFrag = nAfterApp.filter(_._2.size >= 2).keySet
    assert(pFrag.nonEmpty && pFrag.size < pAfterApp.size,
      s"fixture must fragment a strict subset of posting buckets: $pFrag")
    val pRows = idx.readPostings().collect().toSet
    val nRows = idx.readNorms().collect().toSet

    idx.compact(minFiles = 2)
    val pAfter = listing("postings")
    val nAfter = listing("norms")
    // rows preserved, fragmented buckets folded, untouched buckets
    // byte-identical (same file names — never rewritten)
    assert(idx.readPostings().collect().toSet == pRows)
    assert(idx.readNorms().collect().toSet == nRows)
    pFrag.foreach(b => assert(pAfter(b).size < pAfterApp(b).size,
      s"fragmented bucket $b must fold: ${pAfterApp(b)} -> ${pAfter(b)}"))
    (pAfterApp.keySet -- pFrag).foreach(b =>
      assert(pAfter(b) == pAfterApp(b),
        s"unfragmented bucket $b must not be rewritten"))
    (nAfterApp.keySet -- nFrag).foreach(b =>
      assert(nAfter(b) == nAfterApp(b),
        s"unfragmented norm bucket $b must not be rewritten"))
    // a second targeted pass is a no-op (nothing left at the threshold)
    val snap = (listing("postings"), listing("norms"))
    idx.compact(minFiles = 2)
    assert((listing("postings"), listing("norms")) == snap,
      "targeted compaction must be idempotent at the threshold")
    // the full fold still works after a targeted pass
    idx.compact()
    assert(idx.readPostings().collect().toSet == pRows)
    assert(idx.readNorms().collect().toSet == nRows)
  }

  test("text store: per-bucket crashed swap recovers from the .old marker") {
    val root = tmpDir("tidx-pcrash")
    val docs = Seq(
      (1L, "alpha beta gamma common"), (2L, "alpha beta delta common"),
      (3L, "epsilon zeta eta common")).toDF("doc_id", "text")
    val idx = new graft.sources.TextIndex(spark, root)
    graft.operators.TfIdf.sparseBuildStored(docs, "doc_id", "text", idx)
      .collect()
    val n = idx.readPostings().count()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$root/postings/term_bucket=*"))
    assert(buckets.nonEmpty)
    val victim = buckets.head.getPath
    assert(fs.rename(victim, new org.apache.hadoop.fs.Path(
      s"$root/postings/.old-simcrash-${victim.getName}")))
    assert(idx.readPostings().count() == n,
      "read after a crashed bucket swap must restore the pre-swap rows")
  }

  test("layout marker: a raised band constant cannot fragment an index") {
    val root = tmpDir("vidx-layout")
    val idx4 = new VectorIndex(spark, root, nBands = 4)
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx4, portable = true).collect()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def layout(): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        s"$root/postings/_layout"))
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    }
    def bandDirs(): Seq[Int] =
      fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$root/postings/cid_band=*"))
        .map(_.getPath.getName.stripPrefix("cid_band=").toInt).toSeq.sorted
    assert(layout() == "bands=4")
    assert(bandDirs().forall(_ < 4), s"built at 4: ${bandDirs()}")
    // reopen at a RAISED deployment constant: maintenance must derive its
    // partition arithmetic from the persisted _layout, not the constant —
    // otherwise upsert/append would compute bands that don't match the
    // on-disk dirs and silently fragment the layout
    val idx8 = new VectorIndex(spark, root, nBands = 8)
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Similarity.ivfAppendStored(batch, "vec_id", "embedding", idx8).collect()
    Similarity.ivfExtendStored(
      Seq((100L, Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx8).collect()
    assert(layout() == "bands=4", "maintenance must not rewrite the layout")
    assert(bandDirs().forall(_ < 4),
      s"changed constant fragmented the layout: ${bandDirs()}")
    assert(idx8.readPostings().count() == 44)
    // a fresh BUILD at the raised constant rewrites the whole layout
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx8, portable = true).collect()
    assert(layout() == "bands=8", s"rebuild must adopt the new count")
    assert(idx8.readPostings().count() == 40)
  }

  test("atomic append: a crash at EVERY publish step converges to the " +
      "committed state with zero self-healing rebuilds") {
    import graft.sources.IndexStore
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    def build(root: String): VectorIndex = {
      val idx = new VectorIndex(spark, root)
      Similarity.ivfBuildStored(emb, "vec_id", "embedding",
        nCentroids = 5, index = idx, portable = true).collect()
      idx
    }
    def rows(i: VectorIndex) = i.readPostings().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def centroidFiles(root: String) = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/centroids"))
        .map(_.getPath.getName).toSet
    }
    // control: a clean append fixes the committed token + row set (the
    // token is corpus-content-derived, so it is root-independent)
    val ctrl = build(tmpDir("vidx-atom-ctrl"))
    Similarity.ivfAppendStored(batch, "vec_id", "embedding", ctrl).collect()
    val wantTok = ctrl.storedToken().get
    val wantRows = rows(ctrl)
    // kill at every step of the publish protocol: before the commit
    // marker ("staged"), right after it ("marker"), after EVERY file
    // move, and after the token publish but before cleanup ("token")
    val steps = Seq("staged", "marker") ++
      (0 until 8).map(i => s"move-$i") :+ "token"
    val fired = scala.collection.mutable.Set[String]()
    steps.foreach { step =>
      val root = tmpDir(s"vidx-atom")
      val idx = build(root)
      val grid = centroidFiles(root)
      val base = idx.storedToken().get
      IndexStore.crashAt = (_ == step)
      val crashed =
        try {
          Similarity.ivfAppendStored(batch, "vec_id", "embedding", idx,
            expectToken = Some(base)).collect()
          false
        } catch { case _: IndexStore.InjectedCrash => true }
        finally IndexStore.crashAt = _ => false
      if (step == "staged") {
        assert(crashed, "the staged crash point must exist")
        // PRE-commit crash: the append never happened — base token
        // intact, no batch row on disk; the guarded retry applies it
        assert(idx.isCurrent(base),
          s"[$step] a pre-commit crash must leave the base token")
        assert(rows(idx) != wantRows)
        Similarity.ivfAppendStored(batch, "vec_id", "embedding", idx,
          expectToken = Some(base)).collect()
      } else if (crashed) {
        fired += step
        // POST-commit crash: the next READ rolls the marker forward —
        // data AND token land together, no maintenance call needed; a
        // guarded retry is then an O(1) no-op
        assert(idx.storedToken().contains(wantTok),
          s"[$step] roll-forward must publish the committed token")
        Similarity.ivfAppendStored(batch, "vec_id", "embedding", idx,
          expectToken = Some(base)).collect()
      }
      assert(idx.storedToken().contains(wantTok),
        s"[$step] token must converge to the committed value")
      assert(rows(idx) == wantRows,
        s"[$step] rows must converge to the committed state")
      // ZERO self-healing rebuilds: a rebuild would have swapped in a
      // fresh centroid table (new file names) — the grid never moved
      assert(centroidFiles(root) == grid,
        s"[$step] recovery must never trigger a rebuild")
    }
    assert(fired.contains("marker") && fired.contains("move-0") &&
      fired.contains("token"),
      s"the sweep must actually exercise the commit protocol: $fired")
  }

  test("text atomic append: one commit covers BOTH tables — a crash " +
      "can never land norms without postings") {
    import graft.sources.IndexStore
    val docs = Seq(
      (1L, "alpha beta gamma common"),
      (2L, "epsilon zeta eta common")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha omega fresh common")).toDF("doc_id", "text")
    val idx = new graft.sources.TextIndex(spark, tmpDir("tidx-atom"))
    graft.operators.TfIdf.sparseBuildStored(docs, "doc_id", "text", idx)
      .collect()
    val base = graft.operators.TfIdf.sparseCorpusToken(docs, "doc_id",
      "text", idx)
    // kill after the FIRST file move: the pre-r17 two-append design
    // landed the norms append before the postings one, so this crash
    // stranded a norm row with no posting rows until a retry scan
    IndexStore.crashAt = (_ == "move-0")
    intercept[IndexStore.InjectedCrash] {
      graft.operators.TfIdf.sparseAppendStored(batch, "doc_id", "text",
        idx, expectToken = Some(base))
    }
    IndexStore.crashAt = _ => false
    // the first READ of EITHER table rolls the whole commit forward:
    // both tables complete together, token included
    assert(idx.readPostings().where(col("id") === 10L).count() == 4,
      "roll-forward must land the batch's posting rows")
    assert(idx.readNorms().where(col("id") === 10L).count() == 1,
      "roll-forward must land the batch's norm-ledger row")
    assert(!idx.isCurrent(base), "the token must have moved with the data")
    // a guarded retry is a no-op — no duplicate rows
    graft.operators.TfIdf.sparseAppendStored(batch, "doc_id", "text",
      idx, expectToken = Some(base))
    assert(idx.readPostings().where(col("id") === 10L).count() == 4)
    assert(idx.readNorms().where(col("id") === 10L).count() == 1)
  }

  test("PQ atomic append: a committed crash rolls forward all of an " +
      "id's subspace rows together") {
    import graft.sources.IndexStore
    val idx = new graft.sources.PqIndex(spark, tmpDir("pqidx-atom"))
    Similarity.ivfPqBuildStored(emb, "vec_id", "embedding",
      nCells = 5, m = 4, kCodes = 6, scale = 1000000L, index = idx).collect()
    val base = idx.storedToken().get
    // an id's 4 subspace rows can straddle a writer file boundary; the
    // single commit marker is what keeps them atomic
    val full = (0 until 4).map(s =>
        (3L, 500L, s, (s % 6).toLong, if (s == 0) Some(99L) else None))
      .toDF("cid", "id", "s", "code", "fp")
    IndexStore.crashAt = (_ == "marker")
    intercept[IndexStore.InjectedCrash] { idx.appendCodes(full) }
    IndexStore.crashAt = _ => false
    assert(idx.readCodes().where(col("id") === 500L).count() == 4,
      "roll-forward must land every subspace row of the batch")
    assert(!idx.isCurrent(base), "token moves atomically with the rows")
  }

  test("maintenance lease: a live second writer is refused; an expired " +
      "lease (dead maintainer) is broken") {
    val root = tmpDir("vidx-lease")
    val idx = new VectorIndex(spark, root)
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$root/_lease")
    def plant(expiresAt: Long): Unit = {
      val out = fs.create(lease, true)
      try out.write(s"other-writer|$expiresAt".getBytes("UTF-8"))
      finally out.close()
    }
    // a LIVE foreign lease refuses the op with an actionable error
    plant(System.currentTimeMillis() + 3600L * 1000)
    val e = intercept[IllegalStateException] {
      idx.deletePostings(Seq(39L).toDF("id"))
    }
    assert(e.getMessage.contains("another writer"), e.getMessage)
    assert(idx.readPostings().where(col("id") === 39L).count() == 1,
      "the refused op must not have touched the index")
    // an EXPIRED lease (maintainer died without releasing) is broken
    plant(System.currentTimeMillis() - 1)
    idx.deletePostings(Seq(39L).toDF("id"))
    assert(idx.readPostings().where(col("id") === 39L).count() == 0)
    assert(!fs.exists(lease), "the op must release its own lease")
  }

  test("text upsert: evictIds narrower than the batch cannot drop rows " +
      "or run the token ahead of the data") {
    val docs = Seq(
      (1L, "alpha beta gamma common"),
      (2L, "epsilon zeta eta common")).toDF("doc_id", "text")
    val idx = new graft.sources.TextIndex(spark, tmpDir("tidx-narrow"))
    val twin = new graft.sources.TextIndex(spark, tmpDir("tidx-narrow-tw"))
    graft.operators.TfIdf.sparseBuildStored(docs, "doc_id", "text", idx)
      .collect()
    graft.operators.TfIdf.sparseBuildStored(docs, "doc_id", "text", twin)
      .collect()
    // two new docs in DIFFERENT norm buckets (10 mod 16 ≠ 11 mod 16)
    val p = Seq(("alpha", 10L, 1L, 1L, 100L), ("omega", 11L, 1L, 1L, 200L))
      .toDF("term", "id", "df", "tf", "w")
    val n = Seq((10L, BigDecimal(10000), 77L), (11L, BigDecimal(40000), 88L))
      .toDF("id", "n2", "fp")
    // caller passes evictIds covering only id 10: the batch's own ids
    // must still drive the touched-bucket arithmetic, or id 11's rows
    // are silently dropped while its token terms fold in (token AHEAD —
    // the forbidden direction)
    idx.upsert(p, n, evictIds = Some(Seq(10L).toDF("id")))
    twin.upsert(p, n, evictIds = None)
    assert(idx.readNorms().where(col("id") === 11L).count() == 1,
      "a narrow evictIds must not drop batch rows outside its buckets")
    assert(idx.readPostings().where(col("id") === 11L).count() == 1)
    assert(idx.storedToken() == twin.storedToken(),
      "the token must agree with the batch the data actually holds")
  }

  test("pure-eviction delete removes the partition dir, no .old residue") {
    val root = tmpDir("vidx-evict")
    val idx = new VectorIndex(spark, root)
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pick one live band and delete EVERY id in it — the swap then has
    // no replacement content for that partition
    val bands = idx.readPostings()
      .select(pmod(col("cid"), lit(16L)).cast("int").as("b"), col("id"))
    val victim = bands.groupBy(col("b")).agg(count(lit(1)).as("n"))
      .orderBy(col("n"), col("b")).first().getInt(0)
    val doomedIds = bands.where(col("b") === victim)
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSeq
    Similarity.ivfDeleteStored(doomedIds.toDF("id"), idx).collect()
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/postings/cid_band=$victim")),
      "a fully-evicted partition dir must be gone from disk")
    // the eviction must be a DIRECT delete: a rename-to-.old here would
    // let a crash-recovery pass restore forgotten rows
    val olds = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$root/postings/.old-*"))
    assert(olds == null || olds.isEmpty, "no restorable .old residue")
    // idempotent re-delete over the now-absent partition
    Similarity.ivfDeleteStored(doomedIds.toDF("id"), idx).collect()
    assert(idx.readPostings()
      .where(col("id").isin(doomedIds.map(java.lang.Long.valueOf): _*))
      .count() == 0)
  }

  test("crashed swap recovers: absent table restores from the .old copy") {
    val root = tmpDir("vidx-crash")
    val idx = new VectorIndex(spark, root)
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val n = idx.readPostings().count()
    // simulate a kill between the two swap renames: dest moved aside,
    // tmp never renamed in
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/postings"),
      new org.apache.hadoop.fs.Path(s"$root/postings.old-sim")))
    assert(idx.readPostings().count() == n,
      "read after a crashed swap must restore the pre-swap postings")
  }
}
