package graft.sources

/** Driver-side overlap of INDEPENDENT Spark actions (optimization guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. Submitting independent jobs from separate driver
  * threads lets the next job's tasks back-fill executors freed by the
  * current job's tail (commit/rename phases and straggler tasks leave
  * most of the cluster idle), at ANY cluster size — this is not a
  * local[32] trick: the bigger the cluster, the more capacity a single
  * job's tail strands.
  *
  * Used where two jobs are provably independent: swaps of DIFFERENT
  * index tables (each [[IndexStore]] table lives under its own directory
  * and the content plans read only their own table plus checkpointed
  * batch frames), a token fold over an already-checkpointed frame
  * against a table write, and the two arms of a hybrid retrieval query
  * (different source tables, fused only after both are k-bounded).
  */
private[graft] object Overlap {

  /** Run every op concurrently — the first on the CALLING thread (so its
    * jobs keep the caller's thread-local job description), the rest on
    * daemon threads — wait for ALL to finish, then rethrow the first
    * failure if any. The join-before-rethrow is load-bearing: no op may
    * still be writing after this returns (a maintenance lease released
    * while a sibling swap is mid-rename would break the single-writer
    * contract). */
  def jobs(ops: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = ops.drop(1).map { op =>
      val t = new Thread(() =>
        try op() catch { case e: Throwable => errs.add(e) })
      t.setDaemon(true)
      t.start()
      t
    }
    try ops.head() catch { case e: Throwable => errs.add(e) }
    threads.foreach(_.join())
    if (!errs.isEmpty) {
      // keep every sibling failure (ADVICE r17): two concurrent swaps can
      // both fail, and dropping the second cause blinds crash forensics
      val it = errs.iterator()
      val head = it.next()
      while (it.hasNext) head.addSuppressed(it.next())
      throw head
    }
  }

  /** Run `body`; if it throws, JOIN every future in `futs` before
    * rethrowing (their own errors suppressed onto `body`'s). The guard
    * for a foreground write overlapped with background reads: no read
    * job may outlive the caller's lease when the write fails. */
  def guarding[T](futs: (() => Any)*)(body: => T): T =
    try body
    catch {
      case e: Throwable =>
        futs.foreach(f =>
          try f() catch { case t: Throwable => e.addSuppressed(t) })
        throw e
    }

  /** Start evaluating `a` on a daemon thread NOW; the returned thunk
    * joins and yields the value (or rethrows the thread's failure).
    * For a side computation (e.g. a token fold over a checkpointed
    * frame) that overlaps a foreground write and whose value is needed
    * only after it. */
  def future[A](a: => A): () => A = {
    @volatile var out: Option[A] = None
    @volatile var err: Option[Throwable] = None
    val t = new Thread(() =>
      try out = Some(a) catch { case e: Throwable => err = Some(e) })
    t.setDaemon(true)
    t.start()
    () => {
      t.join()
      err.foreach(throw _)
      out.get
    }
  }
}
