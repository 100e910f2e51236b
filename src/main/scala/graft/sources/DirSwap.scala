package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}

/** The write-temp + two-rename directory swap — the engine's replacement
  * for SQLite's atomic commit (reference tasks.py:124-128) and its one
  * genuinely custom physical piece (SURVEY §4.3). [[TableStore]], the
  * index stores ([[IndexStore]]) and DocStream's index compaction all
  * stage, commit and recover through it.
  *
  * A [[Staged]] copy holds one or more SLOTS, each a staged directory
  * mapped to the live directory it replaces:
  *   - whole directory ([[stage]], the one-slot case): staged at
  *     `<live>.tmp-<uuid>` or a caller-chosen directory (TableStore's
  *     `_staging/<uuid>`), the old copy parked at `<live>.old-<uuid>`;
  *   - partitions ([[stageParts]]): every replaced `<col>=<n>` partition
  *     of a table staged under one `<table>/.tmp-<uuid>`, old copies
  *     parked at `<table>/.old-<uuid>-<col>=<n>` (dot names are invisible
  *     to Spark's file listing).
  *
  * Readers see the old or the new directory, never a partial one (rename
  * is atomic on HDFS-like filesystems); a kill between a slot's two
  * renames is healed by [[recover]]. The object holds no state: every
  * call names its own directories, so concurrent commits on different
  * live directories share nothing. */
private[graft] object DirSwap {

  /** A complete next copy of every slot's live directory, under `dir`. */
  final class Staged private[DirSwap] (fs: FileSystem, dir: Path,
      slots: Seq[(Path, Path, Path)], label: String) {

    /** Per slot (staged, live, old): rename live → old, staged → live,
      * drop old; then drop `dir`. The test failpoint `swap:<label>`
      * ([[IndexStore.maybeCrash]]) sits between the two renames. A slot
      * with no staged directory (a partition whose every row was
      * evicted) deletes its live directory DIRECTLY: routing it through
      * a rename-to-.old would open a crash window where [[recover]]
      * restores it, resurrecting forgotten (right-to-be-forgotten) rows;
      * a crash mid-delete leaves a remnant that a retry of the same
      * idempotent op deletes for good. */
    def commit(): Unit = {
      // a committed or discarded copy must not read as "every slot
      // evicted" and delete the live data
      require(fs.exists(dir), s"swap($label): staged copy $dir is gone")
      slots.foreach { case (staged, live, old) =>
        if (fs.exists(staged)) {
          // Hadoop rename reports failure by RETURNING FALSE, not
          // throwing — an unchecked failed rename would silently drop the
          // new version, and the next recovery would sweep the staged
          // directory holding the only copy of it
          if (fs.exists(live)) require(fs.rename(live, old),
            s"swap($label): rename $live -> $old failed")
          IndexStore.maybeCrash(s"swap:$label")
          require(fs.rename(staged, live),
            s"swap($label): rename $staged -> $live failed — pre-swap state is in $old")
          fs.delete(old, true)
        } else fs.delete(live, true)
      }
      discard()
    }

    def discard(): Unit = fs.delete(dir, true)
  }

  /** Stage a whole-directory replacement of `live`: `write` fills `dir`
    * (default: a fresh `<live>.tmp-<uuid>`); a failed write drops the
    * partial copy. */
  def stage(fs: FileSystem, live: String, label: String,
            dir: Option[Path] = None)(write: Path => Unit): Staged = {
    val uuid = UUID.randomUUID()
    val d = dir.getOrElse(new Path(s"$live.tmp-$uuid"))
    staged(fs, d, Seq((d, new Path(live), new Path(s"$live.old-$uuid"))),
      label)(write)
  }

  /** Stage a replacement of the `parts` partitions of the `partCol`-
    * partitioned `table`: `write` fills `<table>/.tmp-<uuid>` with the
    * full replacement rows of exactly those partitions, partitioned by
    * `partCol`; a listed partition it leaves without rows is deleted on
    * commit. */
  def stageParts(fs: FileSystem, table: String, partCol: String,
                 parts: Seq[Int], label: String)(write: Path => Unit): Staged = {
    val uuid = UUID.randomUUID()
    val d = new Path(s"$table/.tmp-$uuid")
    staged(fs, d, parts.map { b =>
      val n = s"$partCol=$b"
      (new Path(d, n), new Path(table, n), new Path(table, s".old-$uuid-$n"))
    }, label)(write)
  }

  private def staged(fs: FileSystem, dir: Path, slots: Seq[(Path, Path, Path)],
                     label: String)(write: Path => Unit): Staged = {
    try write(dir)
    catch { case e: Throwable => fs.delete(dir, true); throw e }
    new Staged(fs, dir, slots, label)
  }

  /** Crash recovery for the two-rename window of `live`'s swaps — the
    * whole directory's (`partCol` None: remnants beside it) or its
    * partitions' (remnants inside it). A kill between a slot's renames
    * leaves the live directory ABSENT with a complete `.old-*` copy —
    * restored here; without that a read would silently see an empty
    * table or partition (the next diff would treat every row as new).
    * Every other remnant is swept: a `.tmp-*` is new data of a swap that
    * never completed (the pre-swap state is the durable truth), and an
    * `.old-*` whose live directory exists is post-swap garbage. One glob
    * of `live`'s own remnants when there is nothing to do. */
  def recover(fs: FileSystem, live: String, label: String,
              partCol: Option[String] = None): Unit = {
    val remnants = fs.globStatus(new Path(
      partCol.fold(s"$live.{old,tmp}-*")(_ => s"$live/.{old,tmp}-*")))
    if (remnants == null) return
    remnants.foreach { st =>
      val nm = st.getPath.getName
      val parked =
        if (!nm.contains(".old-")) None
        else partCol.fold(Option(new Path(live))) { c =>
          val i = nm.indexOf(s"-$c=")
          if (i > 0) Some(new Path(live, nm.substring(i + 1))) else None
        }
      parked.filterNot(fs.exists) match {
        case Some(l) => require(fs.rename(st.getPath, l),
          s"recover($label): restoring ${st.getPath} failed")
        case None => fs.delete(st.getPath, true)
      }
    }
  }
}
