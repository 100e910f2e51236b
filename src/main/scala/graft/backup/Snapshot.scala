package graft.backup

import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Backup flow pieces (reference S9/S10/D15, tasks.py:753-795,
  * _utils.py:43-62): snapshot naming and FIFO rotation. The storage calls
  * are a pluggable interface (the reference talks to Dropbox; the engine
  * core only owns the rotation logic).
  */
object Snapshot {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  /** Backup file name for a date: `mfp_db_backup_YYYY-MM-DD`
    * (tasks.py:759). */
  def backupName(date: LocalDate): String =
    s"mfp_db_backup_${date.format(fmt)}"

  /** D15: given the listing, keep the newest `maxNum` and return the names
    * to delete, oldest first (_utils.py:43-62 — timestamp parsed from
    * filename token index 3). */
  def rotationVictims(names: Seq[String], maxNum: Int = 5): Seq[String] = {
    // tolerate foreign names in the backup root (a stray
    // `mfp_db_backup_old` passes the caller's prefix filter): an
    // unparseable date must not abort the backup flow mid-rotation and
    // let snapshots accumulate unbounded — such names are neither rotated
    // nor counted against maxNum
    val dated = names.flatMap { n =>
      val toks = n.split("_")
      if (toks.length <= 3) None
      else scala.util.Try(LocalDate.parse(toks(3), fmt)).toOption.map(_ -> n)
    }
    val sorted = dated.sortBy(_._1.toEpochDay).map(_._2)
    if (sorted.length <= maxNum) Seq.empty
    else sorted.take(sorted.length - maxNum)
  }

  /** Filesystem snapshot of a table-store directory (S9 equivalent). A
    * missing/uninitialized source yields an empty snapshot dir — the
    * first-ever backup must not fail. The store's transient `_staging`
    * diff area is excluded: backing it up would inflate every rotated
    * snapshot and resurrect stale staging data on restore. The walk
    * stream is closed via `Using` (it holds directory handles). */
  def copyDir(src: String, dest: String): Unit = {
    import java.nio.file._
    val s = Paths.get(src)
    val d = Paths.get(dest)
    // a pre-existing destination (same-day re-backup) is REPLACED, not
    // merged: parquet part files are uuid-named, so merging two store
    // versions' files into one snapshot dir would read back as the union
    // of both versions — every surviving row duplicated on restore
    deleteTree(d)
    if (!Files.exists(s)) { Files.createDirectories(d); return }
    scala.util.Using.resource(Files.walk(s)) { walk =>
      walk.forEach { p =>
        val rel = s.relativize(p)
        val excluded = rel.getNameCount > 0 &&
          rel.getName(0).toString == "_staging"
        if (!excluded) {
          val t = d.resolve(rel)
          if (Files.isDirectory(p)) Files.createDirectories(t)
          else {
            Files.createDirectories(t.getParent)
            Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
    }
  }

  /** D15 applied to the snapshots under `backupRoot`: delete the
    * [[rotationVictims]] among its `mfp_db_backup_*` entries and return
    * them. A victim that cannot be deleted throws — it is never reported
    * as rotated. */
  def rotate(backupRoot: String, maxNum: Int): Seq[String] = {
    // File.list is null for a missing dir — guard the first-ever backup
    val existing = Option(new java.io.File(backupRoot).list()).toSeq
      .flatten.filter(_.startsWith("mfp_db_backup_"))
    val victims = rotationVictims(existing, maxNum)
    victims.foreach(v => deleteTree(java.nio.file.Paths.get(backupRoot, v)))
    victims
  }

  /** Delete `p` and everything under it, deepest first; a missing `p` is
    * a no-op. `Files.delete` throws on any entry it cannot remove. The
    * walk stream is closed via `Using` (it holds directory handles). */
  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { w =>
      w.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.delete(q))
    }
  }
}
