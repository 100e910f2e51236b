package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** One physically-partitioned index table, described by the only things
  * the maintenance verbs need that differ between index families: its
  * name, its partition column, its schema, its band function (`key` —
  * hashed for string keys — mod the band count), its sort key (`key`
  * again: rows cluster by what they band on), and which rows carry the
  * covered-corpus token's per-row `fp` term (`tokenRows`; None when the
  * table carries no token term at all). A table banded on `id` itself
  * keeps a key's rows in that key's own band, so its touched set is
  * derived from the keys without a scan. */
private[sources] final case class IndexTable(
    name: String, partCol: String, key: String, schema: StructType,
    hashKey: Boolean = false, tokenRows: Option[Column] = None) {

  /** The band of a row under an `n`-band layout. */
  def band(n: Int): Column =
    pmod(if (hashKey) xxhash64(col(key)) else col(key), lit(n.toLong))
      .cast("int")

  /** The schema plus the partition column, as written. */
  def full: StructType =
    StructType(schema.fields :+ StructField(partCol, IntegerType))

  /** Partition-clustered, row-balanced shuffle for a write of this table:
    * RANGE-partition on (partCol, key, id) — every task gets a
    * contiguous, row-balanced slice, so full cluster parallelism with
    * zero hash-collision skew — then sort (partCol, key) within tasks.
    * Three write layouts lost A/Bs to this one: `repartition(dataKey)`
    * scatters every dir across every task (tasks-per-dir small files the
    * next maintenance read pays for); `repartition(partCol)` collapses to
    * nParts tasks (the 1000× text build tripled); hash on a partCol×subs
    * composite throws ~256 balls into 256 bins — a third of the tasks
    * empty, the loaded ones 2–3×. The id spread gives ranges a
    * high-cardinality tiebreak so even a single hot partition value
    * splits across tasks; each dir still receives ~tasks/nParts
    * contiguous key-sorted files, and the leading partCol sort satisfies
    * the dynamic-partition writer's ordering requirement — no extra
    * (unstable) sort node to break the key run lengths. */
  def clustered(df: DataFrame): DataFrame =
    df.repartitionByRange(col(partCol), col(key), col("id"))
      .sortWithinPartitions(col(partCol), col(key))
}

/** Shared parquet-directory machinery for prebuilt index stores — the
  * offline half of the production architecture (build once, maintain
  * incrementally, search many). Every family ([[VectorIndex]],
  * [[PqIndex]], [[TextIndex]]) runs ONE lifecycle written here once,
  * parameterized only by its [[IndexTable]] descriptions:
  *
  *   - build publish ([[publishBuild]]): clear `_meta`/`_token`, stage
  *     every table (overlapped), fold the fingerprint on a driver thread
  *     alongside, then commit the tables, token and meta together;
  *   - keyed upsert ([[upsertRows]]) and delete ([[deleteRows]]) by `id`:
  *     rewrite only the partitions holding the batch's rows or prior rows
  *     of its ids, committed with the folded token (added terms in,
  *     evicted out);
  *   - atomic append ([[appendRows]]): batch files land inside the live
  *     partitions, moved by the commit that also carries the token;
  *   - targeted compaction ([[compactRows]]): refold only partitions at a
  *     file-count threshold.
  *
  * Every op commits through ONE [[DirSwap]] marker: whatever tables,
  * partitions, files and `_token`/`_meta` it changes land together or not
  * at all, and a crash after the marker rolls forward on the next read.
  * Large tables are PHYSICALLY PARTITIONED (`<table>/<col>=<n>/` dirs) so
  * incremental maintenance rewrites only the partitions a batch touches —
  * the production layout: an ingest/delete over a 100 TB index must cost
  * ∝ touched cells, not ∝ corpus. Partition maintenance writes every
  * replacement partition in ONE job into a dot-prefixed temp dir
  * (invisible to Spark's file listing), each partition one slot of the
  * staged copy ([[DirSwap.stageParts]]).
  * Every mutating verb runs under the store's single-writer lease. */
private[sources] abstract class IndexStore(spark: SparkSession,
                                           root: String) {

  private type Delta = (Long, BigInt, BigInt)
  private val NoDelta: Delta = (0L, BigInt(0), BigInt(0))
  private def plus(a: Delta, b: Delta): Delta =
    (a._1 + b._1, a._2 + b._2, a._3 + b._3)

  private def path(table: String) = s"$root/$table"
  private val rootPath = new Path(root)
  private def fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Partition count NEW layouts of this store are written with. */
  protected def configuredBands: Int

  /** The band/bucket count an EXISTING partitioned table was built with,
    * read from its `_layout` marker ([[stageTable]] writes the marker into
    * the temp dir, so it rides the same atomic rename as the data).
    * Maintenance ops derive their partition arithmetic from THIS value,
    * never the compile-time constant: raising the constant for a bigger
    * deployment must not silently fragment an index built at the old
    * count — new BUILDS pick up the new constant; existing layouts keep
    * their own until rebuilt. Pre-marker indexes fall back to the
    * configured constant (their fingerprints rebuild-gate them anyway
    * on the next ensure). */
  private def liveBands(table: String): Int = {
    val m = new Path(s"${path(table)}/_layout")
    if (!fs.exists(m)) configuredBands
    else {
      val in = fs.open(m)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      require(s.startsWith("bands="),
        s"unreadable layout marker $m: '$s'")
      s.stripPrefix("bands=").trim.toInt
    }
  }

  /** Stage a whole-table replacement of `table`, sweeping its crashed
    * writes' stages first (a leased op is a writer entry point). */
  private def stageTable(table: String, df: DataFrame, schema: StructType,
                         partitionBy: Option[String] = None): DirSwap.Staged = {
    DirSwap.recover(fs, rootPath, table, sweep = true)
    DirSwap.stage(fs, rootPath, table, table) { tmp =>
      val w = df.select(schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
        .write.mode("errorifexists")
      partitionBy.fold(w)(w.partitionBy(_)).parquet(tmp.toString)
      // the layout marker rides the data's atomic rename, so _layout can
      // never disagree with the dirs beside it (underscore names are
      // invisible to Spark's file listing)
      if (partitionBy.isDefined) {
        val outS = fs.create(new Path(tmp, "_layout"), true)
        try outS.write(s"bands=$configuredBands".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally outS.close()
      }
    }
  }

  protected def read(table: String, schema: StructType): DataFrame = {
    DirSwap.recover(fs, rootPath, table)
    require(fs.exists(new Path(path(table))),
      s"index table $table missing under $root — build the index first")
    spark.read.schema(schema).parquet(path(table))
  }

  // ------------------------------------------------------------------
  // physically-partitioned tables

  /** Read a whole partitioned table; the returned frame carries `partCol`
    * from the directory names (callers filtering on it get partition
    * pruning — only the named dirs' files are listed and read). */
  protected def readTable(t: IndexTable): DataFrame = {
    DirSwap.recover(fs, rootPath, t.name, Some(t.partCol))
    require(fs.exists(new Path(path(t.name))),
      s"index table ${t.name} missing under $root — build the index first")
    spark.read.schema(t.full).parquet(path(t.name))
  }

  /** A leased op's recovery of `t` before it writes: pending commits roll
    * forward, crashed swaps heal, and the stages crashed writes left in
    * and beside `t` are swept ([[DirSwap.recover]]). */
  private def recoverForWrite(t: IndexTable): Unit =
    DirSwap.recover(fs, rootPath, t.name, Some(t.partCol), sweep = true)

  /** Stage the full replacement rows (`content`) of exactly the `parts`
    * partitions of `t` into the table's `.tmp-<uuid>` dir, clustered, in
    * ONE job. The plan may read the live partitions, and so may any
    * concurrent pre-swap read job — no live byte moves until `commit()`,
    * and every overlapped read MUST be joined before it. Maintenance cost
    * is ∝ touched partitions: one job over their bytes + O(touched)
    * renames — never a whole-table rewrite. Callers have just recovered
    * `t` ([[recoverForWrite]]). */
  private def stageParts(t: IndexTable, parts: Seq[Int],
                         content: DataFrame): DirSwap.Staged =
    DirSwap.stageParts(fs, rootPath, t.name, t.partCol, parts, t.name)(
      writeParts(t, content))

  /** Write `df` clustered and `partCol`-partitioned into the stage `tmp`. */
  private def writeParts(t: IndexTable, df: DataFrame)(tmp: Path): Unit =
    t.clustered(df)
      .select(t.full.fields.map(f => col(f.name).cast(f.dataType)): _*)
      .write.mode("errorifexists").partitionBy(t.partCol).parquet(tmp.toString)

  // ------------------------------------------------------------------
  // the maintenance verbs

  /** Persist a full build: every table is staged, then all of them, the
    * token and the fingerprint commit under one marker. `partitioned`
    * tables are banded under the CONFIGURED count and clustered
    * ([[IndexTable.clustered]]); `flat` (name, schema, rows) tables are
    * broadcast-sized and written whole. Overlapped independent jobs (guide
    * §2.6): the stages write different directories, the build paths hand
    * in frames that read only checkpointed corpus/batch rows, never these
    * tables, and `meta` (by-name: the builds pass the token fold over
    * their already-checkpointed rows) reads no index table — the small
    * writes and the fingerprint aggregate back-fill the corpus-sized
    * write's tail instead of serializing after it. Crash safety:
    * `_meta`/`_token` were cleared first, so a crash before the marker
    * reads as stale and rebuild-gates. */
  protected def publishBuild(meta: => String,
                             partitioned: Seq[(IndexTable, DataFrame)],
                             flat: Seq[(String, StructType, DataFrame)] = Nil)
      : Unit = withLease("writeIndex") {
    clearMeta()
    val tok = Overlap.future(meta)
    // guarding: the fold must not outlive the lease if a write fails
    val staged = Overlap.guarding(tok)(DirSwap.stageAll(
      partitioned.map { case (t, df) => () =>
        Some(stageTable(t.name,
          t.clustered(df.withColumn(t.partCol, t.band(configuredBands))),
          t.full, partitionBy = Some(t.partCol)))
      } ++ flat.map { case (name, schema, df) => () =>
        Some(stageTable(name, df, schema))
      }))
    val m = tok()
    staged.get.commit("_token" -> m, "_meta" -> m)
  }

  /** A batch projected onto `t`'s columns and banded under the table's
    * LIVE layout — batch-sized and materialized once, because the
    * maintenance plan reads it for the band census, the token delta and
    * the written content (and a plan deriving it from this store's own
    * tables must never re-read a just-replaced directory). */
  private def banded(t: IndexTable, df: DataFrame): DataFrame =
    df.select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .withColumn(t.partCol, t.band(liveBands(t.name)))
      .localCheckpoint(true)

  /** Keyed upsert by `id`: replace-or-add each table's `batches` rows —
    * new ids land in their bands, re-ingested ids' old rows are evicted
    * wherever they lived (a changed row may MOVE bands). Touched
    * partitions per table = the batch's own bands ∪ the bands holding
    * prior rows of its ids (an (id, band)-only column scan, skipped when
    * the batch's bands already cover every live one); ONLY those are
    * rewritten. `_meta` is untouched: it vouches for the BASE build, and
    * [[isFresh]] deliberately keeps answering true — the extension is
    * additive, not staleness. The covered-corpus `_token` IS folded
    * (batch terms in, evicted rows' terms out, read from the stored `fp`
    * column), so [[isCurrent]] keeps tracking exactly what the index
    * covers.
    *
    * The eviction set is the ids of the token-carrying table's batch,
    * UNIONED with `evictIds` when given — never `evictIds` alone: this
    * set drives the touched-partition arithmetic, and a set narrower than
    * the batch would leave batch rows in partitions outside the touched
    * set — silently dropped by the swap while their token terms still
    * fold in, putting the token AHEAD of the data. `evictIds` exists for ids that
    * leave the covered corpus (a doc re-posted with no text yields no
    * ledger row, but its old rows must still go). */
  protected def upsertRows(op: String, batches: Seq[(IndexTable, DataFrame)],
                           evictIds: Option[DataFrame] = None): Unit =
    withLease(op) {
      val incs = batches.map { case (t, df) => t -> banded(t, df) }
      val batchIds = incs.collectFirst {
        case (t, inc) if t.tokenRows.isDefined => inc }.get
        .select(col("id")).distinct()
      val ids = evictIds
        .map(_.select(col("id")).unionByName(batchIds).distinct()
          .localCheckpoint(true))
        .getOrElse(batchIds)
      rewrite(incs.map { case (t, inc) => t -> Some(inc) }, ids)
    }

  /** Delete by `id` — the right-to-be-forgotten path: `ids0`'s rows are
    * physically removed from every listed table (not tombstoned), so a
    * later search can never return them. Only the partitions holding
    * doomed rows are rewritten; absent ids are a no-op, so the call is
    * idempotent. `_meta` stays (the base build it vouches for is still
    * the index's lineage); the `_token` drops the forgotten rows'
    * terms. */
  protected def deleteRows(op: String, ids0: DataFrame,
                           tables: IndexTable*): Unit = withLease(op) {
    val ids = ids0.select(col("id")).distinct().localCheckpoint(true)
    rewrite(tables.map(_ -> None), ids)
  }

  /** The keyed rewrite behind upsert and delete. Overlapped independent
    * jobs (guide §2.6): each table's side (touched partitions, token
    * deltas, staged write) reads and stages only its own table — every
    * batch frame and `ids` are checkpointed — and nothing is renamed
    * before every side has joined. Then every side's partitions and the
    * folded token commit under one marker, so the token never falls
    * behind or runs ahead of the data: a crash before the marker leaves
    * both as they were, one after it rolls both forward. */
  private def rewrite(sides: Seq[(IndexTable, Option[DataFrame])],
                      ids: DataFrame): Unit = {
    val deltas = Array.fill(sides.size)((NoDelta, NoDelta))
    val staged = DirSwap.stageAll(sides.zipWithIndex.map { case ((t, inc), i) =>
      () => { val (st, d) = rewriteTable(t, inc, ids); deltas(i) = d; st }
    })
    val removed = deltas.map(_._1).reduce(plus)
    val added = deltas.map(_._2).reduce(plus)
    staged.foreach(_.commit(storedToken().map(t =>
      "_token" -> foldedOf(t, added, removed)).toSeq: _*))
  }

  /** One table's side of [[rewrite]]: stage the touched partitions with
    * `ids` evicted and `inc` added. Returns the staged copy (None when
    * nothing is touched) and the (removed, added) token terms. The deltas
    * overlap the staged write ([[stageParts]]): they read the SAME live
    * partitions the content plan reads (read-read, safe) or the
    * checkpointed batch, and are joined before the copy is returned. */
  private def rewriteTable(t: IndexTable, inc: Option[DataFrame],
                           ids: DataFrame)
      : (Option[DirSwap.Staged], (Delta, Delta)) = {
    recoverForWrite(t)
    val live = readTable(t)
    val touched = touchedParts(t, live, inc, ids)
    val inTouched =
      live.where(col(t.partCol).isin(touched.map(Integer.valueOf): _*))
    val removedT = t.tokenRows.map(r => Overlap.future(deltaOf(
      inTouched.where(r).join(ids, Seq("id"), "left_semi"))))
    val addedT = for (r <- t.tokenRows; i <- inc)
      yield Overlap.future(deltaOf(i.where(r)))
    def joined() = (removedT.fold(NoDelta)(_()), addedT.fold(NoDelta)(_()))
    if (touched.isEmpty) return (None, joined())
    val kept = inTouched.join(ids, Seq("id"), "left_anti")
    val staged = Overlap.guarding(removedT.toSeq ++ addedT.toSeq: _*)(
      stageParts(t, touched, inc.fold(kept)(kept.unionByName(_))))
    val out =
      try joined() catch { case e: Throwable => staged.discard(); throw e }
    (Some(staged), out)
  }

  /** The partitions a keyed rewrite must replace: for an id-banded table,
    * the ids' own bands (derived, no scan); otherwise the batch's bands ∪
    * the bands holding prior rows of `ids` — found by an (id, band)-only
    * column scan that parquet prunes to two columns, and skipped when the
    * batch's bands already cover every live partition (any evicted row
    * necessarily lives in a covered one; a broad-vocabulary text batch
    * touches every bucket by construction and pays zero lookup). */
  private def touchedParts(t: IndexTable, live: DataFrame,
                           inc: Option[DataFrame],
                           ids: DataFrame): Seq[Int] = {
    def parts(df: DataFrame) =
      df.select(col(t.partCol)).distinct().collect().map(_.getInt(0))
    if (t.key == "id")
      parts(ids.select(t.band(liveBands(t.name)).as(t.partCol))).sorted.toSeq
    else {
      val newB = inc.fold(Array.empty[Int])(parts)
      val oldB =
        if (existingParts(t).subsetOf(newB.toSet)) Array.empty[Int]
        else parts(live.select(col(t.partCol), col("id"))
          .join(ids, Seq("id"), "left_semi"))
      (newB ++ oldB).distinct.sorted.toSeq
    }
  }

  /** O(batch) ingest for GENUINELY-NEW ids — the LSM/segment-style
    * append: the batches' files land INSIDE their live partitions
    * without reading or rewriting ANY existing byte (the keyed upsert's
    * kept-side rewrite exists to EVICT re-ingested ids; with nothing to
    * evict it is pure waste). Every table's files are staged
    * ([[DirSwap.stageFiles]], tables overlapped: each writes only its own
    * stage from checkpointed batch rows), then their moves and the
    * post-append token commit under ONE marker, so the append either
    * fully happened (token folded) or not at all — a crash between any
    * two moves, or before the token publish, rolls forward on the next
    * read with zero self-healing rebuilds. The token is computed BEFORE
    * the marker and recorded in it verbatim, so a replay republishes and
    * never re-folds (a re-fold would double-count the batch). The
    * caller's retry discipline is the O(1) token check (`expectToken` on
    * the operator entry points), with no id-presence scan. The caller
    * owns the new-ids guarantee (its corpus versioning already knows); a
    * changed row under an existing id must go through [[upsertRows]].
    * Appends accumulate small files per partition; [[compactRows]] folds
    * them back. */
  protected def appendRows(op: String,
                           batches: Seq[(IndexTable, DataFrame)]): Unit =
    withLease(op) {
      val incs = batches.map { case (t, df) => t -> banded(t, df) }
      val added = incs.collect {
        case (t, inc) if t.tokenRows.isDefined =>
          deltaOf(inc.where(t.tokenRows.get))
      }.reduce(plus)
      DirSwap.stageAll(incs.map { case (t, df) => () =>
        recoverForWrite(t)
        Some(DirSwap.stageFiles(fs, rootPath, t.name, t.partCol)(
          writeParts(t, df)))
      }).get.commit(storedToken().map(t =>
        "_token" -> foldedOf(t, added, NoDelta)).toSeq: _*)
    }

  /** Fold append-accumulated files back into the clustered layout — the
    * selected partitions of every table staged (tables overlapped: each
    * fold reads and stages only its own table), then committed under one
    * marker. The default (`minFiles = 1`) folds every live partition —
    * the rebuild-cadence whole-table form; `minFiles >= 2` folds only
    * partitions whose file count reached the threshold
    * ([[fragmentedParts]], file metadata only), so steady-state
    * compaction cost is ∝ the partitions appends actually fragmented.
    * Rows and censuses are unchanged either way; untouched partitions'
    * files are not rewritten. */
  protected def compactRows(op: String, minFiles: Int,
                            tables: IndexTable*): Unit = withLease(op) {
    DirSwap.stageAll(tables.map { t => () =>
      val parts = fragmentedParts(t, minFiles)
      if (parts.isEmpty) None
      else Some(stageParts(t, parts, readTable(t)
        .where(col(t.partCol).isin(parts.map(Integer.valueOf): _*))))
    }).foreach(_.commit())
  }

  /** Partition values currently present on disk — one directory listing,
    * no data read. */
  private def existingParts(t: IndexTable): Set[Int] = {
    val glob = fs.globStatus(new Path(s"${path(t.name)}/${t.partCol}=*"))
    if (glob == null) Set.empty
    else glob.map(_.getPath.getName.substring(t.partCol.length + 1).toInt).toSet
  }

  /** Partitions holding at least `minFiles` data files — the targeted-
    * compaction candidate set. File METADATA only (one listing per live
    * dir, no data read): at production scale appends fragment only the
    * partitions their batches touched, and a compaction that rewrites
    * every partition to fold a few is a whole-table job for O(touched)
    * work. `minFiles <= 1` degenerates to every live partition (the
    * full-fold rebuild-cadence form). */
  private def fragmentedParts(t: IndexTable, minFiles: Int): Seq[Int] = {
    // recover FIRST even on the full-fold path: a partition sitting in a
    // crashed-swap .old-* state has no live dir and would be invisible
    // to the listing — the fold would silently skip it this round
    recoverForWrite(t)
    if (minFiles <= 1) return existingParts(t).toSeq.sorted
    val dirs = fs.globStatus(new Path(s"${path(t.name)}/${t.partCol}=*"))
    (if (dirs == null) Array[org.apache.hadoop.fs.FileStatus]() else dirs)
      .filter { d =>
        // a dir can vanish between the glob and this listing (a
        // concurrent delete emptied the partition) — treat it as 0
        // files (not fragmented this round) instead of aborting the op
        val files =
          try fs.listStatus(d.getPath)
          catch {
            case _: java.io.FileNotFoundException =>
              Array.empty[org.apache.hadoop.fs.FileStatus]
          }
        files.count { f =>
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        } >= minFiles
      }
      .map(_.getPath.getName.substring(t.partCol.length + 1).toInt)
      .sorted.toSeq
  }

  /** True iff a complete index built under exactly `meta` is present —
    * the online path's freshness gate (corpus changed, params changed, or
    * build crashed pre-fingerprint → false). */
  def isFresh(meta: String): Boolean = {
    val m = new Path(path("_meta"))
    fs.exists(m) && {
      val in = fs.open(m)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) == meta
      finally in.close()
    }
  }

  /** A build's first step: with `_meta`/`_token` gone, any partial
    * state reads as stale until the build's own commit republishes both
    * (pending commits were already rolled forward by the lease). */
  private def clearMeta(): Unit = {
    fs.delete(new Path(path("_meta")), false)
    fs.delete(new Path(path("_token")), false)
  }

  // ------------------------------------------------------------------
  // covered-corpus version token
  //
  // `_meta` vouches for the BASE build and is untouched by maintenance
  // (isFresh keeps answering true for the base corpus — extensions are
  // additive, not staleness). `_token` is the COVERED-CORPUS version:
  // initialized to the build fingerprint and kept equal to what a fresh
  // fingerprint scan over the corpus-as-maintained WOULD compute, by
  // folding each maintenance batch's delta into the commutative terms
  // (n, Σid, Σhash). A caller that maintains its corpus version token
  // (every ingestion pipeline does — it is the thing writing the corpus)
  // gets an O(1) freshness check on the serving path: compare tokens,
  // no corpus scan.

  /** The covered-corpus version token, or None when absent (legacy index,
    * or a build crashed before its commit — conservative: a token-gated
    * search treats None as stale). The token commits with the data it
    * describes, under the same marker. */
  def storedToken(): Option[String] = {
    // roll any pending commit forward FIRST: the token gate must answer
    // for the committed state, not a crash's leftovers (one root listing
    // — still corpus-independent)
    DirSwap.replay(fs, rootPath)
    val t = new Path(path("_token"))
    if (!fs.exists(t)) None
    else {
      val in = fs.open(t)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** O(1) freshness: does this index cover exactly the corpus version the
    * caller holds? One small file read; no job over any table. */
  def isCurrent(token: String): Boolean = storedToken().contains(token)

  /** The stored-search freshness gate, shared by every family's search
    * and ensure entry points: make this index cover the caller's corpus,
    * running `build` (one synchronous rebuild — the self-healing default;
    * a production deployment would page instead) when it does not.
    * With a caller-held `corpusToken` the check is O(1) — one token-file
    * read against the covered-corpus token, zero corpus jobs on the
    * fresh path — and a token the rebuild still does not reproduce
    * fails, naming `tokenFn`, the function that should have computed it.
    * Without one (audit mode) the corpus fingerprint `meta` (memoized per
    * session under the corpus's file-manifest identity) is compared with
    * the base build's. */
  private[graft] def ensureCovers(corpusToken: Option[String],
                                  meta: => String, tokenFn: String)(
      build: => DataFrame): Unit =
    corpusToken match {
      case Some(tok) =>
        if (!isCurrent(tok)) {
          build.collect()
          require(isCurrent(tok),
            "caller corpus token does not match this corpus + params — " +
              s"was it computed by $tokenFn with the same arguments?")
        }
      case None => if (!isFresh(meta)) build.collect()
    }

  /** (rows, Σid, Σhash) of a maintenance delta — the commutative terms
    * [[foldedOf]] adds/subtracts, read from the stored per-row `fp`
    * (the same hash the family's fingerprint scan uses). */
  private def deltaOf(df: DataFrame): Delta =
    CorpusToken.terms(df, col("id"), col("fp"))

  private val tokenRe =
    """^([^|]+)\|n=(-?\d+)\|sumid=(-?\d+)\|chk=(-?\d+)\|(.*)$""".r

  /** Pure token fold: n/Σid/Σhash move by (added − removed); the params
    * suffix is untouched. */
  private def foldedOf(cur: String, added: Delta, removed: Delta): String =
    cur match {
      case tokenRe(tag, n, sumid, chk, rest) =>
        s"$tag|n=${n.toLong + added._1 - removed._1}" +
          s"|sumid=${BigInt(sumid) + added._2 - removed._2}" +
          s"|chk=${BigInt(chk) + added._3 - removed._3}|$rest"
      case other =>
        throw new IllegalStateException(s"unparseable _token: '$other'")
    }

  // ------------------------------------------------------------------
  // single-writer lease
  //
  // The commit protocol assumes ONE maintainer per index at a time (two
  // concurrent upserts could each fold the token from the same base, or
  // one could sweep the other's stages). The lease makes that contract
  // enforced instead of assumed: every mutating op runs under
  // `_lease` — acquired with an atomic create-if-absent, so two
  // maintainers racing on the same store get one winner and one
  // actionable error, never interleaved writes. A maintainer that DIED
  // holding the lease (no finally ran) is healed by the TTL: the next
  // acquirer breaks an expired lease. Readers never touch the lease —
  // searches stay lock-free on the swapped-in state.

  /** Run `body` holding this store's maintenance lease. Throws (does not
    * wait) when another live maintainer holds it: maintenance is batch
    * work — the caller's scheduler owns queueing, not a file lock. */
  private def withLease[T](op: String)(body: => T): T = {
    val lease = new Path(path("_lease"))
    val me = java.util.UUID.randomUUID().toString
    def readLease(): Option[String] =
      if (!fs.exists(lease)) None
      else
        try {
          val in = fs.open(lease)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        } catch { case _: java.io.FileNotFoundException => None }
    def tryAcquire(): Boolean =
      try {
        // overwrite = false: atomic create-if-absent — the lock
        val out = fs.create(lease, false)
        try out.write(
          s"$me|${System.currentTimeMillis() + IndexStore.LeaseTtlMs}"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def acquire(attempt: Int): Unit =
      if (!tryAcquire()) {
        val cur = readLease()
        val expired = cur.forall { s =>
          val i = s.lastIndexOf('|')
          i < 0 || scala.util.Try(s.substring(i + 1).trim.toLong)
            .toOption.forall(_ < System.currentTimeMillis())
        }
        if (expired && attempt < 3) {
          cur.foreach(_ => fs.delete(lease, false)) // break a dead lease
          acquire(attempt + 1)
        } else throw new IllegalStateException(
          s"$op: index at $root is being maintained by another writer " +
            s"(lease ${cur.getOrElse("vanished mid-check")}); retry after " +
            "it finishes or its lease expires " +
            s"(TTL ${IndexStore.LeaseTtlMs / 60000} min)")
      }
    acquire(0)
    try {
      // the writer entry point: roll pending commits forward and sweep
      // marker writes that never landed
      DirSwap.replay(fs, rootPath, sweep = true)
      body
    }
    finally {
      // release only OUR lease: an expiry-breaker may have replaced it
      if (readLease().exists(_.startsWith(me + "|")))
        fs.delete(lease, false)
    }
  }
}

private[graft] object IndexStore {
  /** Maintenance-lease TTL — how long a DEAD maintainer (crashed without
    * running its release) blocks the next one. */
  private[graft] val LeaseTtlMs: Long = 15L * 60 * 1000

  /** Test-only failpoint: every [[DirSwap]] commit calls
    * `maybeCrash(step)` before its marker ("staged") and after it
    * ("marker"), and its replay after each file move ("move-<i>"), after
    * publishing `_token` ("token") or `_meta` ("meta"), and between each
    * swap slot's two renames ("swap:<label>", the label being the table
    * or "DocStream"); a spec sets this predicate to kill the op at an
    * exact step and then proves recovery converges. Always false outside
    * specs. */
  @volatile private[graft] var crashAt: String => Boolean = _ => false

  private[graft] final class InjectedCrash(step: String)
      extends RuntimeException(s"injected crash at $step")

  private[sources] def maybeCrash(step: String): Unit =
    if (crashAt(step)) throw new InjectedCrash(step)

}

object VectorIndex {
  /** Physical posting partitions (`cid_band = cid mod PostingBands`).
    * Sized so single-node tests keep per-band files non-trivial; a
    * 1000-executor deployment raises it (bands are independent, so the
    * constant only trades maintenance granularity against file count).
    * The count an index was BUILT with is persisted in its `_layout`
    * marker and governs all maintenance on it — raising this default
    * affects new builds only. */
  val PostingBands = 16
}

/** Stored IVF index — see [[graft.operators.Similarity.ivfBuildStored]].
  *
  * Layout under `root/`:
  *   - `centroids/`  (cid, cv array<double>, cn) — K rows, broadcast-sized.
  *   - `postings/cid_band=N/`  (cid, id, v array<double>, nrm, fp) — the
  *     inverted lists, directory-partitioned on cid mod
  *     [[VectorIndex.PostingBands]] and cid-sorted within files, so a
  *     probe of p cells row-group-prunes to ~p/K of the bytes AND an
  *     ingest/delete batch rewrites only the bands holding its cells —
  *     maintenance ∝ touched cells, not corpus (the q149/q152 lesson:
  *     the round-14 flat layout measured corpus-linear at the 1000×
  *     decade).
  */
final class VectorIndex(spark: SparkSession, root: String,
                        val nBands: Int = VectorIndex.PostingBands)
    extends IndexStore(spark, root) {
  override protected def configuredBands: Int = nBands

  private val centroidSchema = StructType.fromDDL(
    "cid BIGINT, cv ARRAY<DOUBLE>, cn DOUBLE")
  private val postings = IndexTable("postings", "cid_band", "cid",
    StructType.fromDDL(
      "cid BIGINT, id BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE, fp BIGINT"),
    tokenRows = Some(lit(true)))

  /** Per-row content hash, identical to the fingerprint scan's term
    * (the scan hashes (id, toDouble(vec)); v IS toDouble(vec)) — stored
    * on every posting row so maintenance deltas and rebuilds read an
    * 8-byte column instead of re-hashing vectors. */
  private def fpOf(df: DataFrame): DataFrame =
    df.withColumn("fp", xxhash64(col("id"), col("v")))

  def readCentroids(): DataFrame = read("centroids", centroidSchema)
  def readPostings(): DataFrame = readTable(postings).drop("cid_band")

  /** Persist a full build ([[IndexStore.publishBuild]]): postings
    * range-clustered on (band, cid) — whole cells per task, tight cid
    * min/max row-group stats per band dir. */
  def writeIndex(centroids: DataFrame, postings: DataFrame,
                 meta: => String): Unit =
    publishBuild(meta, Seq(this.postings -> fpOf(postings)),
      Seq(("centroids", centroidSchema, centroids)))

  /** Keyed upsert of (cid, id, v, nrm) rows into the posting lists
    * ([[IndexStore.upsertRows]]): an id whose vector changed may MOVE
    * cells; the eviction finds the stale row wherever it lived. */
  def upsertPostings(incoming: DataFrame): Unit =
    upsertRows("upsertPostings", Seq(postings -> fpOf(incoming)))

  /** O(batch) append of genuinely-new (cid, id, v, nrm) rows
    * ([[IndexStore.appendRows]]); a CHANGED vector under an existing id
    * must go through [[upsertPostings]], and [[compactPostings]] folds
    * the accumulated files back on the rebuild cadence. */
  def appendPostings(incoming: DataFrame): Unit =
    appendRows("appendPostings", Seq(postings -> fpOf(incoming)))

  /** Fold append-accumulated posting files
    * ([[IndexStore.compactRows]]). */
  def compactPostings(minFiles: Int = 1): Unit =
    compactRows("compactPostings", minFiles, postings)

  /** Remove `ids` (one column, `id`) from the posting lists
    * ([[IndexStore.deleteRows]]). Centroids are untouched (they are
    * summaries, not member data — exactly how production IVF handles
    * deletes between rebuilds). */
  def deletePostings(ids: DataFrame): Unit =
    deleteRows("deletePostings", ids, postings)
}

object TextIndex {
  /** Physical posting partitions (`term_bucket = xxhash64(term) mod
    * TermBuckets`) and norm partitions (`id_bucket = id mod TermBuckets`).
    * Internal layout only — bucket values never reach query output, so
    * the Spark-specific hash is fine. */
  val TermBuckets = 16
}

/** Stored inverted text index — see
  * [[graft.operators.TfIdf.sparseBuildStored]]. The sparse-retrieval
  * counterpart of the dense stores: the tokenize → tf → df → weight
  * pipeline (the inline path's localCheckpoint apex) runs once offline
  * and persists; online searches join the prebuilt relations and never
  * touch document text.
  *
  * Layout under `root/`:
  *   - `postings/term_bucket=N/` (term, id, df, tf, w) — the weighted
  *     inverted lists, directory-partitioned on the term hash and
  *     term-sorted within files, so a narrow-term-set probe
  *     row-group-prunes and an ingest/delete rewrites only the buckets
  *     holding its terms; df rides each row (the search-time rare-band
  *     filter is a scan-level predicate, not a join), and tf rides it so
  *     a stats-refresh rebuild can recompute weights under fresh df
  *     without the corpus (w alone is lossy: terms with df > idfScale
  *     weigh 0).
  *   - `norms/id_bucket=N/` (id, n2 decimal(38,0), fp) — the per-doc
  *     LEDGER: one row per ingested doc (n2 = 0 for a term-less doc)
  *     carrying fp = xxhash64(id, text), the fingerprint term token folds
  *     and rebuilds reconstruct without re-reading text; partitioned on
  *     the doc id so keyed maintenance touches ~|batch| buckets.
  */
final class TextIndex(spark: SparkSession, root: String,
                      val nBuckets: Int = TextIndex.TermBuckets)
    extends IndexStore(spark, root) {
  override protected def configuredBands: Int = nBuckets

  private val postings = IndexTable("postings", "term_bucket", "term",
    StructType.fromDDL(
      "term STRING, id BIGINT, df BIGINT, tf BIGINT, w BIGINT"),
    hashKey = true)
  private val norms = IndexTable("norms", "id_bucket", "id",
    StructType.fromDDL("id BIGINT, n2 DECIMAL(38,0), fp BIGINT"),
    tokenRows = Some(lit(true)))

  def readPostings(): DataFrame = readTable(postings).drop("term_bucket")
  def readNorms(): DataFrame = readTable(norms).drop("id_bucket")

  def writeIndex(postings: DataFrame, norms: DataFrame,
                 meta: => String): Unit =
    publishBuild(meta, Seq(this.postings -> postings, this.norms -> norms))

  /** Keyed ingest ([[IndexStore.upsertRows]]): replace-or-add `postings`
    * and `norms` rows by doc id — a re-ingested doc's old posting rows
    * are evicted from every term list they lived in. Both batches are
    * materialized before any swap, so a plan deriving the batch weights
    * from this store's own postings (the stale-IDF contract) can never
    * re-read a just-replaced directory. `evictIds` is unioned with the
    * batch's doc ids (a doc re-posted with NULL text yields no norm row
    * but must still be evicted). */
  def upsert(postings: DataFrame, norms: DataFrame,
             evictIds: Option[DataFrame] = None): Unit =
    upsertRows("upsert", Seq(this.postings -> postings, this.norms -> norms),
      evictIds)

  /** O(batch) ingest for GENUINELY-NEW doc ids
    * ([[IndexStore.appendRows]]) — the store where it matters most: a
    * broad-vocabulary batch touches every term bucket, so the keyed
    * [[upsert]] degenerates to a full rewrite by construction, while this
    * append writes exactly the batch's rows. Both tables' files and the
    * token publish under ONE commit marker. Re-posted docs must go
    * through [[upsert]] for eviction. */
  def appendDocs(postings: DataFrame, norms: DataFrame): Unit =
    appendRows("appendDocs",
      Seq(this.norms -> norms, this.postings -> postings))

  /** Fold append-accumulated files in BOTH tables
    * ([[IndexStore.compactRows]]). */
  def compact(minFiles: Int = 1): Unit =
    compactRows("compact", minFiles, postings, norms)

  /** Remove documents ([[IndexStore.deleteRows]]): every posting row of
    * `ids`, wherever their terms hashed, and their norm rows. Per-term df
    * values on SURVIVING rows keep their build-time counts (the stale-df
    * contract, same as ingest — df drift is absorbed at the next full
    * rebuild). */
  def delete(ids: DataFrame): Unit =
    deleteRows("delete", ids, postings, norms)
}

object PqIndex {
  /** Physical code partitions (`cid_band = cid mod CodeBands`) — the
    * [[VectorIndex.PostingBands]] discipline for the compressed store. */
  val CodeBands = 16
}

/** Stored IVF-PQ index — see
  * [[graft.operators.Similarity.ivfPqBuildStored]]. The compressed
  * production layout: raw vectors never leave the corpus; the index holds
  * the integer cell grid, the per-subspace codebooks (both
  * broadcast-sized), and the m-byte-shaped code rows clustered by cell so
  * an nProbe-cell search row-group-prunes the code scan.
  *
  * Layout under `root/`:
  *   - `cells/`     (cid, cv array<bigint>) — fixed-point cell centers.
  *   - `codebooks/` (s, ccid, csub array<bigint>) — m × kCodes sub-vectors.
  *   - `codes/cid_band=N/` (cid, id, s, code, fp) — one row per
  *     (vector, subspace), directory-partitioned on cid mod
  *     [[PqIndex.CodeBands]] and cid-sorted within files, so searches
  *     prune to probed cells and keyed maintenance rewrites only touched
  *     bands. fp = xxhash64(id, raw vector) is set ONLY on the s = 0 row
  *     of each id (null elsewhere — RLE-cheap): the per-VECTOR term the
  *     covered-corpus token folds; raw vectors never enter this store, so
  *     the hash is computed at encode time and rides the codes.
  */
final class PqIndex(spark: SparkSession, root: String,
                    val nBands: Int = PqIndex.CodeBands)
    extends IndexStore(spark, root) {
  override protected def configuredBands: Int = nBands

  private val cellSchema = StructType.fromDDL(
    "cid BIGINT, cv ARRAY<BIGINT>")
  private val codebookSchema = StructType.fromDDL(
    "s INT, ccid BIGINT, csub ARRAY<BIGINT>")
  private val codes = IndexTable("codes", "cid_band", "cid",
    StructType.fromDDL("cid BIGINT, id BIGINT, s INT, code BIGINT, fp BIGINT"),
    tokenRows = Some(col("s") === 0))

  def readCells(): DataFrame = read("cells", cellSchema)
  def readCodebooks(): DataFrame = read("codebooks", codebookSchema)
  def readCodes(): DataFrame = readTable(codes).drop("cid_band")

  def writeIndex(cells: DataFrame, codebooks: DataFrame, codes: DataFrame,
                 meta: => String): Unit =
    publishBuild(meta, Seq(this.codes -> codes),
      Seq(("cells", cellSchema, cells),
        ("codebooks", codebookSchema, codebooks)))

  /** Keyed code ingest of (cid, id, s, code, fp) rows by vector id
    * ([[IndexStore.upsertRows]]) — a re-ingested id's old code rows are
    * evicted wherever they lived. `_meta` untouched — additive extension
    * over the base build's grid and codebooks. */
  def upsertCodes(incoming: DataFrame): Unit =
    upsertRows("upsertCodes", Seq(codes -> incoming))

  /** O(batch) code ingest for GENUINELY-NEW ids
    * ([[IndexStore.appendRows]]): an id's m subspace rows can straddle a
    * writer file boundary, and the commit marker's roll-forward is what
    * guarantees a crash can never strand a prefix of them. Re-encoded
    * existing ids must go through [[upsertCodes]]. */
  def appendCodes(incoming: DataFrame): Unit =
    appendRows("appendCodes", Seq(codes -> incoming))

  /** Fold append-accumulated code files ([[IndexStore.compactRows]]). */
  def compactCodes(minFiles: Int = 1): Unit =
    compactRows("compactCodes", minFiles, codes)

  /** Remove `ids` from the stored code rows ([[IndexStore.deleteRows]]).
    * No re-encode: codes are per-vector, so dropping a vector's m rows is
    * complete removal (cells and codebooks are summaries, untouched
    * between rebuilds). */
  def deleteCodes(ids: DataFrame): Unit =
    deleteRows("deleteCodes", ids, codes)
}
