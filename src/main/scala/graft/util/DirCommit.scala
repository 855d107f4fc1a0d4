package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

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
  * [[recover]] rolls an interrupted commit FORWARD when the sentinel is
  * present (steps 3–6 resume idempotently) and BACK otherwise (staging
  * discarded, the aside restored). Commits and catalog reads run it on
  * entry; index probes recover only a commit stranded with live missing
  * ([[recoverUnder]]), as other leftovers may be a running commit.
  *
  * In-JVM coordination: one lock per qualified `live` serializes
  * recovery with a commit's entry, and the in-flight set keeps every
  * reader's recovery off a running commit, whose unsealed staging
  * would otherwise look like crash debris. The long staging write runs
  * outside the lock. Concurrent writers from different processes stay
  * unsupported (one writer per directory, as in the reference); readers
  * there treat a failure during a commit as retryable, and a staging
  * deleted under a commit fails its seal instead of being published.
  * On S3A rename copies, and deployments there swap in a table format
  * behind the same callers.
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
    * publish, then release the in-flight mark. */
  def run[A](fs: FileSystem, live: Path)(write: Path => Staged[A]): A = {
    val c = begin(fs, live)
    try {
      val s = c.write(write)
      c.commit(s.meta, s.rewritten)
      s.result
    } finally c.close()
  }

  /** Enter a commit of `live`: under its lock, recover leftovers and
    * mark the commit in flight. The returned handle writes, commits and
    * must be closed. */
  def begin(fs: FileSystem, live: Path): Pending = {
    val key = keyOf(fs, live)
    lockFor(key).synchronized {
      require(!inFlight.contains(key), s"another commit of $live is in flight")
      recoverLocked(fs, live)
      inFlight.add(key): Unit
    }
    new Pending(fs, live, key)
  }

  final class Pending private[DirCommit] (fs: FileSystem, live: Path, key: String)
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
      publish(fs, live, rewritten)
    }

    def close(): Unit = inFlight.remove(key): Unit
  }

  /** Finish or undo an interrupted commit of `live`; a no-op while a
    * commit of it is in flight in this JVM. */
  def recover(fs: FileSystem, live: Path): Unit = recoverIf(fs, live)(true)

  /** [[recover]] every child of `root` that has commit leftovers (one
    * listing). `strandedOnly`, for readers: only children whose live dir
    * is missing beside the aside (stopped between steps 3 and 5, which a
    * running commit reaches only once sealed), so no staging another
    * process is still writing is deleted; the rest wait for [[begin]]. */
  def recoverUnder(fs: FileSystem, root: Path, strandedOnly: Boolean = false): Unit = {
    val leftovers = if (strandedOnly) Seq(AsideSuffix) else Seq(StagingSuffix, AsideSuffix)
    fs.listStatus(root).map(_.getPath.getName)
      .flatMap(n => leftovers.find(n.endsWith).map(n.stripSuffix)).distinct
      .foreach { n =>
        val live = new Path(root, n)
        recoverIf(fs, live)(!strandedOnly || !fs.exists(live))
      }
  }

  private def recoverIf(fs: FileSystem, live: Path)(needed: => Boolean): Unit = {
    val key = keyOf(fs, live)
    if (!inFlight.contains(key)) lockFor(key).synchronized {
      if (!inFlight.contains(key) && needed) recoverLocked(fs, live)
    }
  }

  /** Delete `live` with any commit leftovers. */
  def drop(fs: FileSystem, live: Path): Unit =
    Seq(live, stagingOf(live), asideOf(live)).foreach(fs.delete(_, true))

  private[graft] def readFile(fs: FileSystem, f: Path): Option[String] =
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }

  private def writeFile(fs: FileSystem, f: Path, value: String): Unit = {
    // non-recursive: a staging deleted under the commit fails the seal
    val out = fs.createFile(f).overwrite(true).build()
    try out.write(value.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def recoverLocked(fs: FileSystem, live: Path): Unit = {
    val st = stagingOf(live); val aside = asideOf(live)
    if (fs.exists(new Path(st, Sentinel))) {
      // "*" is how older commits marked a whole-version staging
      val rewritten = readFile(fs, new Path(st, RewrittenFile)).filter(_ != "*")
        .map(_.split(',').filter(_.nonEmpty).toSet)
      publish(fs, live, rewritten)
    } else if (fs.exists(aside)) {
      step(live, "discard staging")(fs.delete(st, true))
      if (fs.exists(live)) step(live, "drop aside")(fs.delete(aside, true))
      else step(live, "restore")(rename(fs, aside, live))
    } else if (fs.exists(st)) step(live, "discard staging")(fs.delete(st, true))
  }

  /** Steps 3–6 for a sealed staging; resumable from any of them. */
  private def publish(fs: FileSystem, live: Path, rewritten: Option[Set[String]]): Unit = {
    val st = stagingOf(live); val aside = asideOf(live)
    if (fs.exists(live)) step(live, "aside")(rename(fs, live, aside))
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
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"failed to rename $from to $to")

  private val locks = new ConcurrentHashMap[String, Object]()
  private val inFlight = ConcurrentHashMap.newKeySet[String]()
  private def keyOf(fs: FileSystem, live: Path): String = fs.makeQualified(live).toString
  private def lockFor(key: String): Object = locks.computeIfAbsent(key, _ => new Object)

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
