package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The engine's one commit protocol — its replacement for SQLite's atomic
  * transaction (reference tasks.py:124-128) and its one genuinely custom
  * physical piece (SURVEY §4.3). [[TableStore]], the index stores
  * ([[IndexStore]]) and DocStream's index compaction all stage, commit
  * and recover through it.
  *
  * Writers first STAGE: every staged directory is a dot- or
  * suffix-named sibling no reader lists —
  *   - a whole directory ([[stage]]) at `<live>.tmp-<uuid>`, its old copy
  *     parked at `<live>.old-<uuid>` while it swaps;
  *   - a table's replaced `<col>=<n>` partitions ([[stageParts]]) under one
  *     `<table>/.tmp-<uuid>`, old copies parked at
  *     `<table>/.old-<uuid>-<col>=<n>`;
  *   - new files for existing partitions ([[stageFiles]], the append path)
  *     under one `<table>/.tmp-<uuid>`.
  *
  * A COMMIT ([[Staged.commit]]) then writes one `_commit-<uuid>` marker
  * under the store root — atomically: written aside, then renamed — and
  * replays it. The marker lists every entry of every staged copy it
  * covers, any mix of tables: swap slots (live → old, staged → live, drop
  * old), drop slots (a partition whose every row was evicted is deleted
  * directly — a rename to `.old-*` would open a window where recovery
  * resurrects forgotten rows), file moves, and small-file publishes
  * (`_token`, `_meta`). Each entry's replay is idempotent, so once the
  * marker is durable the commit is certain: a crash anywhere later rolls
  * FORWARD on the next [[recover]] or [[replay]], which replays every
  * marker it finds before anything else, under a per-root lock. Before the
  * marker lands, nothing happened; the unreferenced stages are swept by
  * the next writer entry point (`sweep = true`). Readers never sweep: a
  * stage with no marker yet may belong to a commit still being written.
  *
  * Marker-less `.old-*` states (left by the two-rename swap this protocol
  * replaced, or built by hand) are still healed as before: an `.old-*`
  * whose live directory is missing is restored, and the rest of that live
  * directory's remnants go with it.
  *
  * The object holds no state but the per-root locks: every call names its
  * own directories, and every rename is `require`d (Hadoop reports a
  * failed rename by returning false, not by throwing). */
private[graft] object DirSwap {

  private val Header = "graft-commit-v2"

  /** A staged copy: the marker entries it commits (tab-separated fields,
    * paths relative to `root`) and the stage directories it owns. */
  final class Staged private[DirSwap] (fs: FileSystem, private val root: Path,
      private val entries: Seq[Seq[String]], private val dirs: Seq[String]) {

    /** One copy covering both this one's entries and `o`'s. */
    def ++(o: Staged): Staged = {
      require(o.root == root, s"one commit spans one root: $root, ${o.root}")
      new Staged(fs, root, entries ++ o.entries, dirs ++ o.dirs)
    }

    /** Commit every entry, then `publish` each (name, content) small file
      * under the root, all under ONE marker. Test failpoints
      * ([[IndexStore.maybeCrash]]): `staged` before the marker, `marker`
      * right after it, then the replay's own. */
    def commit(publish: (String, String)*): Unit = {
      // a discarded (or swept) copy must not commit: a swap slot whose
      // staged directory is gone reads as "already renamed in"
      dirs.foreach(d => require(fs.exists(new Path(root, d)),
        s"commit: staged copy $d under $root is gone"))
      val lines = entries ++ publish.map { case (n, c) =>
        require(!c.exists(ch => ch == '\n' || ch == '\t'),
          s"publish($n): content must be one tab-free line")
        Seq("publish", n, c)
      } ++ dirs.map(d => Seq("clean", d))
      IndexStore.maybeCrash("staged")
      val marker = s"_commit-${UUID.randomUUID()}"
      writeFile(fs, root, marker, (Header +: lines.map(_.mkString("\t")))
        .mkString("\n"))
      IndexStore.maybeCrash("marker")
      lockFor(fs, root).synchronized(replayOne(fs, root, new Path(root, marker)))
    }

    /** Drop the staged directories (a copy that will never commit). */
    def discard(): Unit = dirs.foreach(d => fs.delete(new Path(root, d), true))
  }

  /** Stage a whole-directory replacement of `<root>/<live>`: `write` fills
    * `<live>.tmp-<uuid>`. `label` names the failpoint `swap:<label>`
    * between the slot's two renames. */
  def stage(fs: FileSystem, root: Path, live: String, label: String)(
      write: Path => Unit): Staged = {
    val uuid = UUID.randomUUID()
    val d = s"$live.tmp-$uuid"
    written(fs, root, d, write)
    new Staged(fs, root, Seq(Seq("swap", label, d, live, s"$live.old-$uuid")),
      Seq(d))
  }

  /** Stage a replacement of the `parts` partitions of the `partCol`-
    * partitioned `<root>/<table>`: `write` fills `<table>/.tmp-<uuid>`
    * with the full replacement rows of exactly those partitions,
    * partitioned by `partCol`; a listed partition it leaves without rows
    * becomes a drop slot. */
  def stageParts(fs: FileSystem, root: Path, table: String, partCol: String,
                 parts: Seq[Int], label: String)(write: Path => Unit): Staged = {
    val uuid = UUID.randomUUID()
    val d = s"$table/.tmp-$uuid"
    written(fs, root, d, write)
    new Staged(fs, root, parts.map { b =>
      val n = s"$partCol=$b"
      if (fs.exists(new Path(root, s"$d/$n")))
        Seq("swap", label, s"$d/$n", s"$table/$n", s"$table/.old-$uuid-$n")
      else Seq("drop", s"$table/$n")
    }, Seq(d))
  }

  /** Stage new data files for the `partCol`-partitioned `<root>/<table>`:
    * `write` fills `<table>/.tmp-<uuid>` partitioned by `partCol`; each
    * data file becomes a move into its live partition (created if absent),
    * no existing byte read or rewritten. Failpoint `move-<i>` follows the
    * i-th move of a commit. */
  def stageFiles(fs: FileSystem, root: Path, table: String, partCol: String)(
      write: Path => Unit): Staged = {
    val d = s"$table/.tmp-${UUID.randomUUID()}"
    written(fs, root, d, write)
    val moves = for {
      p <- list(fs.globStatus(new Path(root, s"$d/$partCol=*"))).toSeq
      f <- fs.listStatus(p.getPath).toSeq
      n = f.getPath.getName
      if !n.startsWith("_") && !n.startsWith(".")
      part = p.getPath.getName
    } yield Seq("move", s"$d/$part/$n", s"$table/$part/$n")
    new Staged(fs, root, moves, Seq(d))
  }

  private def written(fs: FileSystem, root: Path, d: String,
                      write: Path => Unit): Unit = {
    val p = new Path(root, d)
    try write(p)
    catch { case e: Throwable => fs.delete(p, true); throw e }
  }

  /** Run `writes` concurrently ([[Overlap.jobs]]) and merge what they
    * staged into one copy, in `writes` order; when any write fails, the
    * others' copies are dropped before the failure is rethrown. */
  def stageAll(writes: Seq[() => Option[Staged]]): Option[Staged] = {
    val out = Array.fill[Option[Staged]](writes.size)(None)
    try Overlap.jobs(writes.indices.map(i => () => out(i) = writes(i)()): _*)
    catch { case e: Throwable => out.flatten.foreach(_.discard()); throw e }
    out.flatten.reduceOption(_ ++ _)
  }

  /** Roll forward every pending marker under `root`. With `sweep` (writer
    * entry points only) also delete the leftovers of marker writes that
    * never landed. */
  def replay(fs: FileSystem, root: Path, sweep: Boolean = false): Unit =
    lockFor(fs, root).synchronized(replayLocked(fs, root, sweep))

  private def replayLocked(fs: FileSystem, root: Path, sweep: Boolean): Unit =
    list(fs.globStatus(new Path(root, "_commit-*"))).foreach { st =>
      if (!st.getPath.getName.contains(".tmp-")) replayOne(fs, root, st.getPath)
      else if (sweep) fs.delete(st.getPath, false)
    }

  /** Replay pending markers ([[replay]]), then heal `<root>/<live>`'s
    * marker-less remnants — the whole directory's (beside it) and, with
    * `partCol`, its partitions' (inside it). An `.old-*` whose live
    * directory is missing is restored, and that live directory's other
    * remnants are swept with it (without the restore a read would see an
    * empty table or partition, and the next diff would treat every row as
    * new); an `.old-*` whose live directory exists is garbage. A `.tmp-*`
    * stage is otherwise deleted only with `sweep`: writer entry points
    * (TableStore's `init`, the index ops under their lease, DocStream's
    * compaction), never readers. One glob of the markers and one of
    * `live`'s remnants when there is nothing to do. */
  def recover(fs: FileSystem, root: Path, live: String,
              partCol: Option[String] = None, sweep: Boolean = false): Unit =
    lockFor(fs, root).synchronized {
      replayLocked(fs, root, sweep)
      heal(fs, root, live, None, sweep)
      partCol.foreach(c => heal(fs, root, live, Some(c), sweep))
    }

  private def heal(fs: FileSystem, root: Path, live: String,
                   partCol: Option[String], sweep: Boolean): Unit = {
    val remnants = list(fs.globStatus(new Path(root,
      partCol.fold(s"$live.{old,tmp}-*")(_ => s"$live/.{old,tmp}-*"))))
    val (olds, tmps) = remnants.partition(_.getPath.getName.contains(".old-"))
    var healed = false
    olds.foreach { st =>
      val nm = st.getPath.getName
      val parked = partCol.fold(Option(new Path(root, live))) { c =>
        val i = nm.indexOf(s"-$c=")
        if (i > 0) Some(new Path(new Path(root, live), nm.substring(i + 1)))
        else None
      }
      parked.filterNot(fs.exists) match {
        case Some(l) =>
          require(fs.rename(st.getPath, l),
            s"recover($live): restoring ${st.getPath} failed")
          healed = true
        case None => fs.delete(st.getPath, true)
      }
    }
    if (sweep || healed) tmps.foreach(st => fs.delete(st.getPath, true))
  }

  /** Redo one marker's entries in order, then drop it and its stage
    * directories. Caller holds the root's lock. */
  private def replayOne(fs: FileSystem, root: Path, marker: Path): Unit = {
    if (!fs.exists(marker)) return // a racing replayer finished it
    val in = fs.open(marker)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val lines = text.split("\n").toSeq
    require(lines.headOption.contains(Header), s"unreadable commit marker $marker")
    def p(rel: String) = new Path(root, rel)
    var moves = 0
    val cleans = lines.tail.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
      .flatMap {
        case Seq("swap", label, s, l, o) =>
          if (fs.exists(p(s))) {
            if (fs.exists(p(l))) require(fs.rename(p(l), p(o)),
              s"commit($label): rename $l -> $o failed")
            IndexStore.maybeCrash(s"swap:$label")
            require(fs.rename(p(s), p(l)),
              s"commit($label): rename $s -> $l failed — pre-swap state is in $o")
          } else require(fs.exists(p(l)),
            s"commit($label): $s gone and $l absent — staged copy lost")
          fs.delete(p(o), true)
          None
        case Seq("drop", l) => fs.delete(p(l), true); None
        case Seq("move", s, d) =>
          if (fs.exists(p(s))) {
            fs.mkdirs(p(d).getParent)
            // a cross-process replayer can win the rename between the
            // exists check and here; the move is done iff dest holds it
            if (!fs.rename(p(s), p(d))) require(fs.exists(p(d)) && !fs.exists(p(s)),
              s"commit: moving $s -> $d failed")
          } else require(fs.exists(p(d)),
            s"commit: $s gone and $d absent — staged file lost")
          IndexStore.maybeCrash(s"move-$moves")
          moves += 1
          None
        case Seq("publish", n, c) =>
          writeFile(fs, root, n, c)
          IndexStore.maybeCrash(n.stripPrefix("_"))
          None
        case Seq("clean", d) => Some(d)
        case other => throw new IllegalStateException(
          s"unreadable commit marker $marker: ${other.mkString("\t")}")
      }
    fs.delete(marker, false)
    cleans.foreach(d => fs.delete(p(d), true))
  }

  /** Publish `content` as `<root>/<name>`: written aside, then renamed.
    * Hadoop rename refuses an existing destination, so that is deleted
    * first; a crash between the two leaves the file ABSENT, which every
    * reader of a published file treats as stale or unknown. */
  private def writeFile(fs: FileSystem, root: Path, name: String,
                        content: String): Unit = {
    val tmp = new Path(root, s"$name.tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    fs.delete(new Path(root, name), false)
    require(fs.rename(tmp, new Path(root, name)), s"publishing $name under $root failed")
  }

  private def list(glob: Array[FileStatus]): Array[FileStatus] =
    if (glob == null) Array.empty else glob

  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-root monitor serializing replay and healing within the process:
    * a reader's recovery never sees a commit half-replayed by the writer
    * (cross-process races are tolerated by the idempotent entries). */
  private def lockFor(fs: FileSystem, root: Path): Object =
    rootLocks.computeIfAbsent(fs.makeQualified(root).toString, _ => new Object)
}
