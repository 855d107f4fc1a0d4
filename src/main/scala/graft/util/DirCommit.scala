package graft.util

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.ReentrantLock

/** The engine's one directory commit: replace directory `live` with a
  * new version so that a crash at any instant leaves either the whole
  * old version or the whole new one, and the next open finishes the
  * job. It serves the catalog's merges
  * ([[graft.sources.ParquetCatalog]], where the apply marker lands WITH
  * the data — the reference's SaveOplogTimestamp,
  * workspace.go:276-288), every index compaction
  * ([[StagedIndex.compact]]) and the census rebucket
  * ([[graft.text.Substrings.rebucketCensus]]).
  *
  * The protocol, every step one filesystem call:
  *  1. the caller writes the new version into `<live>.__staging__`; a
  *     write that leaves nothing there aborts before live is touched;
  *  2. caller metadata files, the rewritten-partition list (when
  *     carrying), then the `_graft_commit` sentinel LAST — its presence
  *     proves staging complete;
  *  3. live moves aside to `<live>.__old__`;
  *  4. with carry, every partition dir (`k=v`) of the aside whose value
  *     the staging did not rewrite moves into staging — metadata-only
  *     renames, so data I/O stays proportional to the rewritten
  *     partitions;
  *  5. staging renames into place;
  *  6. the aside is dropped.
  *
  * One routine rolls an interrupted commit FORWARD when the sentinel
  * is present (steps 3–6 resume idempotently) and BACK otherwise
  * (staging discarded, the aside restored), behind two gates:
  *  - the WRITER gate ([[begin]], [[recoverUnder]]) always recovers:
  *    the directory's one writer is entering, so leftovers are debris;
  *  - the READER gate ([[settle]], [[settleUnder]]) recovers only on
  *    proof that no commit is still writing: a sealed staging, or live
  *    missing beside its aside (a running commit gets there only once
  *    sealed). An unsealed staging beside live may be a commit running
  *    in another process, so readers never touch it. Steady state costs
  *    a reader two `exists` calls.
  *
  * In-JVM coordination: one lock per qualified `live`, held from
  * [[begin]] to [[Pending.close]]. A commit from another thread waits
  * for it; re-entry on the same thread is refused. A reader whose gate
  * fires waits for it too, then re-checks. Concurrent writers from
  * different processes stay unsupported (one writer per directory, as
  * in the reference), but a reader there may publish a commit beside
  * its writer, so the publish (steps 3–6) is safe twice at once: live
  * moves aside only while the staging waits, no rename nests, and a run
  * that fails a step ends quietly if it finds the commit published.
  * Neither run drops the other's version (at worst it waits aside for
  * the next gate). A staging deleted under a commit fails its seal. On
  * S3A rename copies; deployments there swap in a table format.
  */
object DirCommit {
  val Sentinel = "_graft_commit"
  private val RewrittenFile = "_graft_touched"
  private val StagingSuffix = ".__staging__"
  private val AsideSuffix = ".__old__"

  def stagingOf(live: Path): Path = new Path(live.getParent, live.getName + StagingSuffix)
  def asideOf(live: Path): Path = new Path(live.getParent, live.getName + AsideSuffix)

  /** What a staging write hands to the commit: the caller's result, its
    * metadata files (name → content), and — to carry untouched
    * partitions — the partition VALUES the staging rewrote (None: the
    * staging is the whole new version). */
  final case class Staged[A](result: A, meta: Seq[(String, String)] = Nil,
      rewritten: Option[Set[String]] = None)

  /** One whole commit of `live`: [[begin]], the staging write, seal and
    * publish, then release the lock. */
  def run[A](fs: FileSystem, live: Path)(write: Path => Staged[A]): A = {
    val c = begin(fs, live)
    try { val s = c.write(write); c.commit(s.meta, s.rewritten); s.result } finally c.close()
  }

  /** Enter a commit of `live` through the writer gate. The returned
    * handle writes, commits and must be closed on the same thread. */
  def begin(fs: FileSystem, live: Path): Pending = new Pending(fs, live, enter(fs, live))

  final class Pending private[DirCommit] (fs: FileSystem, live: Path, lock: ReentrantLock)
      extends AutoCloseable {
    val staging: Path = stagingOf(live)

    def write[A](f: Path => A): A = {
      val a = step(live, "write")(f(staging))
      require(fs.exists(staging), s"commit of $live wrote nothing at $staging")
      a
    }

    /** Seal the staging (metadata, rewritten list, sentinel last) and
      * publish it. */
    def commit(meta: Seq[(String, String)] = Nil,
        rewritten: Option[Set[String]] = None): Unit = {
      val files = meta ++ rewritten.map(r => RewrittenFile -> r.toSeq.sorted.mkString(",")) :+
        (Sentinel -> "")
      files.foreach { case (name, value) =>
        step(live, name)(writeFile(fs, new Path(staging, name), value))
      }
      publish(fs, live)
    }

    def close(): Unit = lock.unlock()
  }

  /** The writer gate over every child of `root` with commit leftovers
    * (one listing), for a restage that owns the whole index. */
  def recoverUnder(fs: FileSystem, root: Path): Unit =
    leftoversUnder(fs, root).foreach(enter(fs, _).unlock())

  /** The reader gate: finish or undo an interrupted commit of `live`
    * only on proof that no commit is still writing it (class doc). */
  def settle(fs: FileSystem, live: Path): Unit =
    if (proven(fs, live)) {
      val lock = lockFor(fs, live); lock.lock()
      try if (proven(fs, live)) recoverLocked(fs, live) finally lock.unlock()
    }

  /** [[settle]] every child of `root` with commit leftovers (one
    * listing; no further call in steady state). */
  def settleUnder(fs: FileSystem, root: Path): Unit =
    leftoversUnder(fs, root).foreach(settle(fs, _))

  private def proven(fs: FileSystem, live: Path): Boolean =
    fs.exists(new Path(stagingOf(live), Sentinel)) ||
      (fs.exists(asideOf(live)) && !fs.exists(live))

  private def leftoversUnder(fs: FileSystem, root: Path): Seq[Path] =
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .flatMap(n => Seq(StagingSuffix, AsideSuffix).find(n.endsWith).map(n.stripSuffix))
      .distinct.map(new Path(root, _))

  /** Delete `live` with any commit leftovers. */
  def drop(fs: FileSystem, live: Path): Unit =
    Seq(live, stagingOf(live), asideOf(live)).foreach(fs.delete(_, true))

  private[graft] def readFile(fs: FileSystem, f: Path): Option[String] =
    Option.when(fs.exists(f)) {
      val in = fs.open(f)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }

  private def writeFile(fs: FileSystem, f: Path, value: String): Unit = {
    // non-recursive: a staging deleted under the commit fails the seal
    val out = fs.createFile(f).overwrite(true).build()
    try out.write(value.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def recoverLocked(fs: FileSystem, live: Path): Unit = {
    val st = stagingOf(live); val aside = asideOf(live)
    if (fs.exists(new Path(st, Sentinel))) publish(fs, live)
    else if (fs.exists(aside)) {
      step(live, "discard staging")(fs.delete(st, true))
      if (fs.exists(live)) step(live, "drop aside")(fs.delete(aside, true))
      else step(live, "restore")(rename(fs, aside, live))
    } else if (fs.exists(st)) step(live, "discard staging")(fs.delete(st, true))
  }

  /** Steps 3–6 for a sealed staging: resumable from any of them, and
    * safe beside another process's run of the same publish (class doc). */
  private def publish(fs: FileSystem, live: Path): Unit = {
    val st = stagingOf(live); val aside = asideOf(live)
    try {
      // "*" is how older commits marked a whole-version staging
      val rewritten = readFile(fs, new Path(st, RewrittenFile)).filter(_ != "*")
        .map(_.split(',').filter(_.nonEmpty).toSet)
      // staging checked last: once it is gone, live is the new version
      if (fs.exists(live) && fs.exists(st)) step(live, "aside")(rename(fs, live, aside))
      for (r <- rewritten if fs.exists(aside)) {
        // a rewritten partition is never carried, even when absent from
        // staging: absence there means the write emptied it
        val present = fs.listStatus(st).map(_.getPath.getName).toSet
        fs.listStatus(aside).foreach { s =>
          val name = s.getPath.getName
          val eq = name.indexOf('=')
          if (s.isDirectory && eq > 0 && !r(name.substring(eq + 1)) && !present(name))
            step(live, s"carry $name")(rename(fs, s.getPath, new Path(st, name)))
        }
      }
      step(live, "publish")(rename(fs, st, live))
      step(live, "drop aside")(fs.delete(aside, true)): Unit
    } catch { case _: IOException if !fs.exists(st) && fs.exists(live) => () } // published by the other
  }

  /** A rename that fails when `to` exists, where `FileSystem.rename`
    * moves `from` INTO it (HDFS, and the local copy fallback): rename(2)
    * locally, which refuses a non-empty dir, and FileContext elsewhere. */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (fs.getUri.getScheme == "file") {
      def local(p: Path) = Paths.get(fs.makeQualified(p).toUri)
      Files.move(local(from), local(to), StandardCopyOption.ATOMIC_MOVE): Unit
    } else FileContext.getFileContext(fs.getUri, fs.getConf).rename(from, to)

  private val locks = new ConcurrentHashMap[String, ReentrantLock]()
  private def lockFor(fs: FileSystem, live: Path): ReentrantLock =
    locks.computeIfAbsent(fs.makeQualified(live).toString, _ => new ReentrantLock())

  /** The writer gate: lock `live` (re-entry on this thread would
    * recover its own running commit, so it is refused), then recover.
    * Returns the held lock. */
  private def enter(fs: FileSystem, live: Path): ReentrantLock = {
    val lock = lockFor(fs, live)
    require(!lock.isHeldByCurrentThread, s"another commit of $live is in flight on this thread")
    lock.lock()
    try recoverLocked(fs, live) catch { case e: Throwable => lock.unlock(); throw e }
    lock
  }

  /** Fault injection for specs: counts the mutating filesystem steps of
    * every commit and recovery whose `live` lies under `root`, logging
    * each step's name, and throws before step `failAt` (1-based; 0 only
    * counts). */
  private[graft] final class Fault(root: String, val failAt: Int) {
    private val prefix = new Path(root).toUri.getPath.stripSuffix("/") + "/"
    val steps = new AtomicInteger(0)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private[DirCommit] def covers(live: Path): Boolean = live.toUri.getPath.startsWith(prefix)
  }
  @volatile private[graft] var fault: Option[Fault] = None

  private def step[A](live: Path, what: String)(f: => A): A = {
    fault.filter(_.covers(live)).foreach { h =>
      val n = h.steps.incrementAndGet()
      h.names.add(what): Unit
      if (n == h.failAt)
        throw new IllegalStateException(s"injected fault before step $n ($what) of $live")
    }
    f
  }
}
