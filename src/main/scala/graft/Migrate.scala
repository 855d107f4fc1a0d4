package graft

import graft.config.MigratorConfig
import graft.copy.CopyJob
import graft.ddl.Manifest
import graft.monitor.Progress
import graft.sources.{Catalog, Workspace}
import graft.streaming.{ApplyCounts, ApplyJob}
import graft.verify.Compare
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** The flagship `-start` lifecycle (start.go:13-85; SURVEY §3.1), Spark
  * shape. The reference's sequence:
  *
  *   1. workspace reset                    (start.go:22)
  *   2. guards + target drops              (start.go:58-67)
  *   3. DDL replication (ConfigCopier)     (start.go:68-72)
  *   4. oplog caching begins               (start.go:73-77)
  *   5. bulk data copy (DataCopier)        (start.go:78-82)
  *   6. catch-up, then live tail           (start.go:84)
  *
  * Here step 4 needs no standing process: the change-log directory plus
  * the stream checkpoint ARE the cache (ST1 collapses into the source),
  * so the stream phase simply starts after the copy — catch-up drains
  * everything accumulated during the copy, and [[liveTail]] keeps
  * following. Steps 2's guard/drop discipline lives in [[CopyJob.run]]
  * (two-pass: validate all, then mutate); step 3 becomes manifest
  * capture → rename/filter → persist.
  */
object Migrate {

  final case class StartResult(
      copied: Seq[CopyJob.CopyResult],
      applied: ApplyCounts,
      progress: Progress.Snapshot)

  /** Run the migration phases `cfg.command` selects (start.go:29-47):
    * `all` = manifest + copy + catch-up; `config` = manifest only;
    * `index` = index manifest only (IndexCopier, start.go:30);
    * `data` = copy + catch-up, no manifest; `data-only` = copy only.
    * `changelogDir` is the change-stream source (None additionally
    * disables the stream phase, whatever the command);
    * `checkpointDir` carries stream offsets across restarts (ST4).
    * `status` is the O5 HTTP surface — phases and the live copy
    * listener are published to it as they happen. */
  def start(spark: SparkSession, cfg: MigratorConfig, source: Catalog,
      sink: Catalog, checkpointDir: String,
      changelogDir: Option[String] = None,
      status: Option[graft.monitor.StatusServer] = None): StartResult = {
    import MigratorConfig._
    val isConfig = cfg.command == CommandAll || cfg.command == CommandConfig
    val isIndex = cfg.command == CommandIndex
    val isData = cfg.command == CommandAll ||
      cfg.command == CommandData || cfg.command == CommandDataOnly
    val isOplog = (cfg.command == CommandAll || cfg.command == CommandData) &&
      changelogDir.isDefined

    val ws = new Workspace(spark, sink)
    ws.reset()
    def phase(s: String): Unit = { ws.log(s); status.foreach(_.setPhase(s)) }
    if (isConfig || isIndex) {
      phase("create metadata") // status strings follow config_copier.go:49
      val m = Manifest.capture(source).filtered(cfg).withRenames(cfg)
      // `index`: replicate index definitions only (index_copier.go)
      Manifest.persist(spark, sink,
        if (isIndex) Manifest(indexes = m.indexes) else m)
    }
    val (copied, snapshot) = if (isData) {
      phase("copy data")
      val planned = CopyJob.plan(cfg, source)
      CopyJob.preflight(cfg, planned, sink)
      CopyJob.runTracked(planned, source, sink,
        l => status.foreach(_.attach(l)))
    } else (Nil, graft.monitor.Progress.Snapshot(0, 0, 0, 0))
    val applied = if (isOplog) {
      phase("apply change stream")
      ApplyJob.catchUp(spark, changelogDir.get, sink, cfg, checkpointDir)
    } else ApplyCounts()
    phase("migration completed")
    StartResult(copied, applied, snapshot)
  }

  /** ST3 — keep following the change-log after [[start]]'s catch-up:
    * same checkpoint, ProcessingTime trigger, runs until stopped
    * (LiveStreamOplogs "never returns", oplog_streamer.go:270-323). */
  def liveTail(spark: SparkSession, cfg: MigratorConfig, sink: Catalog,
      changelogDir: String, checkpointDir: String,
      intervalMs: Long = 10000): ApplyJob.Handle =
    ApplyJob.stream(spark, changelogDir, sink, cfg, checkpointDir,
      Trigger.ProcessingTime(intervalMs))

  /** O6 — `-resume` (resume.go:13-82): pick an interrupted migration
    * back up. The reference resets in-flight/splitting tasks and rejoins
    * the queue; in Spark shape there is no queue to repair — the copy
    * fan-out simply reruns (the upsert sink makes replay idempotent,
    * K1), and the stream resumes from its checkpoint (free, ST4). No
    * drops, no empty-target guard: a half-written target is exactly the
    * expected input. */
  def resume(spark: SparkSession, cfg: MigratorConfig, source: Catalog,
      sink: Catalog, checkpointDir: String,
      changelogDir: Option[String] = None): StartResult = {
    val ws = new Workspace(spark, sink)
    ws.log("resume")
    val (copied, snapshot) = CopyJob.runTracked(CopyJob.plan(cfg, source), source, sink)
    val applied = changelogDir match {
      case Some(dir) => ApplyJob.catchUp(spark, dir, sink, cfg, checkpointDir)
      case None => ApplyCounts()
    }
    ws.log("resume completed")
    StartResult(copied, applied, snapshot)
  }

  /** `-compare` (compare.go:13-31, J1): verify target matches source per
    * namespace — include filters and the `to` rename applied, exactly as
    * the reference feeds its comparator. Returns one summary per
    * namespace, using the bucket-sketch short-circuit diff so an
    * in-sync pair costs two scans and no wide shuffle. */
  def compare(spark: SparkSession, cfg: MigratorConfig, source: Catalog,
      sink: Catalog, buckets: Int = 4096): Map[String, Compare.CompareSummary] = {
    CopyJob.plan(cfg, source).map { case (ns, spec) =>
      val to = CopyJob.targetOf(ns, spec)
      val key = source.keyOf(ns)
      val src = spec.filter(_.hasFilter)
        .map(sp => source.read(ns).filter(sp.predicate))
        .getOrElse(source.read(ns))
      val diff = Compare.diffBucketed(src, sink.read(to), key, buckets)
      val counts = try diff.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        finally graft.util.LocalCkpt.release(diff)
      ns -> Compare.CompareSummary(
        matched = counts.getOrElse("match", 0L),
        mismatched = counts.getOrElse("mismatch", 0L),
        missingOnTarget = counts.getOrElse("missing", 0L),
        extraOnTarget = counts.getOrElse("extra", 0L))
    }.toMap
  }

  /** Chunked `-compare` — the reference comparator's actual walk: one
    * splitter block at a time (its verify iterates the same ranges the
    * splitter emitted), each chunk a bounded job whose cost is the block
    * size regardless of table size. Ordering is
    * [[graft.ops.BsonKey.defaultOrder]] throughout — the splitter that
    * computes the bounds and the slice predicate that consumes them
    * compile the key identically, so mixed int/string/ObjectId
    * namespaces chunk without drops or double counts. The splitter's
    * closed `[first,last]` blocks are widened into half-open tiles on
    * consecutive `last` bounds, first and final tile unbounded — the
    * tiles cover the WHOLE keyspace, so target-only keys between or
    * beyond the source's blocks are still reported and the totals equal
    * a full [[Compare.diff]] (an empty source yields one unbounded tile:
    * everything on target is extra).
    *
    * Use this over [[compare]]'s bucketed sketch when per-row diffs must
    * be inspectable chunk by chunk (the reference's repair loop) or when
    * re-verifying only the chunks a previous run flagged. */
  def compareChunked(spark: SparkSession, cfg: MigratorConfig, source: Catalog,
      sink: Catalog, block: Int = 10000): Map[String, Compare.CompareSummary] = {
    CopyJob.plan(cfg, source).map { case (ns, spec) =>
      val to = CopyJob.targetOf(ns, spec)
      val key = source.keyOf(ns)
      val src = spec.filter(_.hasFilter)
        .map(sp => source.read(ns).filter(sp.predicate))
        .getOrElse(source.read(ns))
      val tgt = sink.read(to)
      val lasts = graft.ops.RangeSplitter.exactBounds(src, key, block)
        .collect().map(_.get(2))
      // tiles: (-inf, last_0], (last_0, last_1], ..., (last_{n-2}, +inf)
      val tiles: Seq[(Option[Any], Option[Any])] =
        if (lasts.isEmpty) Seq(None -> None)
        else (None +: lasts.init.map(Option(_)).toSeq)
          .zip(lasts.init.map(Option(_)).toSeq :+ None)
      val perChunk = tiles.map { case (lo, hi) =>
        val counts = Compare.diffSlice(src, tgt, key, lo, hi)
          .groupBy("status").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        Compare.CompareSummary(
          matched = counts.getOrElse("match", 0L),
          mismatched = counts.getOrElse("mismatch", 0L),
          missingOnTarget = counts.getOrElse("missing", 0L),
          extraOnTarget = counts.getOrElse("extra", 0L))
      }
      ns -> perChunk.foldLeft(Compare.CompareSummary(0, 0, 0, 0)) {
        (a, c) => Compare.CompareSummary(
          a.matched + c.matched, a.mismatched + c.mismatched,
          a.missingOnTarget + c.missingOnTarget, a.extraOnTarget + c.extraOnTarget)
      }
    }.toMap
  }
}
