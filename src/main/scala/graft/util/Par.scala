package graft.util

/** Overlap INDEPENDENT Spark actions from driver threads — the guide-
  * §2.6 discipline ("actions are only sequential because your driver
  * code calls them sequentially"): a staging verb that writes three
  * sibling frames (postings, df, dl) pays three full job latencies —
  * scheduling, stragglers, commit — back to back, while most of the
  * cluster idles through each job's tail. Submitting them together
  * lets the next job's tasks back-fill executors freed by the current
  * job's tail (the session is already FAIR-scheduled for exactly this
  * stream/batch cohabitation).
  *
  * ONLY for actions with no ordering contract between them: sinks to
  * DIFFERENT paths derived from already-materialized inputs. Anything
  * ordered (out-append-BEFORE-index-append, evidence-before-out) stays
  * sequential at the call site — the contract is the caller's.
  *
  * Failure contract: every action is awaited; the first failure is
  * rethrown (others are allowed to finish — they are independent
  * writes whose partial results the caller's bracket already handles,
  * e.g. StagedIndex.stage leaves no manifest on ANY failure). */
object Par {

  /** Run the thunks as concurrently-submitted Spark actions; block
    * until ALL complete; rethrow the FIRST failure (declaration order)
    * with every concurrent sibling failure attached as a SUPPRESSED
    * throwable — a second sink failing for a different reason must not
    * be silently discarded. Threads are named `par-sink-<i>` so a stack
    * trace from an overlapped write job is attributable to its thunk.
    * Serial fallback for 0/1 thunks. Spark job-group/description
    * properties are inherited (InheritableThreadLocal) from the caller
    * thread. */
  def run(fs: (() => Unit)*): Unit = {
    if (fs.size <= 1) { fs.foreach(_()); return }
    val threads = fs.zipWithIndex.map { case (f, i) =>
      val holder = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val t = new Thread(() =>
        try f() catch { case e: Throwable => holder.set(e) },
        s"par-sink-$i")
      t.setDaemon(true)
      t.start()
      (t, holder)
    }
    threads.foreach(_._1.join())
    val failures = threads.flatMap(p => Option(p._2.get()))
    failures.headOption.foreach { first =>
      failures.drop(1).filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Three independent VALUE-returning actions (counts, aggregates
    * over different frames), overlapped the same way. */
  def eval3[A, B, C](fa: () => A, fb: () => B, fc: () => C): (A, B, C) = {
    var a: Option[A] = None
    var b: Option[B] = None
    var c: Option[C] = None
    run(() => a = Some(fa()), () => b = Some(fb()), () => c = Some(fc()))
    (a.get, b.get, c.get)
  }
}
