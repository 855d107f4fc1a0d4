package graftbench

import graft.sources.Catalog
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One micro-batch progress event and when it reached the listener. */
final case class Event(arrivalNs: Long, p: StreamingQueryProgress)

/** Micro-batch progress events with their arrival time. Registered in
  * every run of a streaming workload: the end-to-end lag and batch
  * latency come from these events, so it is not part of tracing. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  private val events = new LinkedBlockingQueue[Event]()
  private val all = ArrayBuffer.empty[Event]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    // idle triggers report no input; only batches that ran count
    if (e.progress.numInputRows > 0 || e.progress.durationMs.containsKey("addBatch"))
      events.put(Event(System.nanoTime(), e.progress))
  }

  /** Next batch event of the query run `runId` (a restarted query keeps
    * its checkpoint's id but gets a new run id), waiting up to `timeoutS`. */
  def next(runId: java.util.UUID, timeoutS: Double): Option[Event] = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var found: Option[Event] = None
    while (found.isEmpty && System.nanoTime() < deadline) {
      val e = events.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
      if (e != null) {
        all.synchronized(all += e)
        if (e.p.runId == runId) found = Some(e)
      }
    }
    found
  }

  /** Every batch event delivered so far (drains the queue). */
  def drainAll(): Seq[Event] = {
    org.apache.spark.benchbridge.BusDrain(spark.sparkContext)
    val buf = new java.util.ArrayList[Event]()
    events.drainTo(buf)
    all.synchronized { all ++= buf.asScala; all.toList }
  }

  def clear(): Unit = { events.clear(); all.synchronized(all.clear()) }
}

/** Spark scheduler counters over a window (the `spark` layer). */
final class SparkTrace extends SparkListener {
  private val jobStarts = new ConcurrentHashMap[Int, Long]()
  val intervals = ArrayBuffer.empty[(Long, Long)]
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val recordsRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    val s = jobStarts.remove(e.jobId)
    intervals.synchronized(intervals += ((s, e.time)))
    ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Wall-clock ms during which at least one job ran, within [from, to]. */
  def busyMs(from: Long, to: Long): Long = {
    val iv = intervals.synchronized(intervals.toList)
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
    "spill" -> spill.get, "records_read" -> recordsRead.get)
}

/** Catalyst phase times per executed query (the `catalyst` layer). */
final class CatalystTrace extends QueryExecutionListener {
  val queries = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
    queries.incrementAndGet()
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisMs.addAndGet(p.durationMs))
    ph.get("optimization").foreach(p => optimizationMs.addAndGet(p.durationMs))
    ph.get("planning").foreach(p => planningMs.addAndGet(p.durationMs))
    ()
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot: Map[String, Long] = Map(
    "queries" -> queries.get, "analysis_ms" -> analysisMs.get,
    "optimization_ms" -> optimizationMs.get, "planning_ms" -> planningMs.get)
}

/** Per-call counters of the `sources` layer. */
final class CatalogTrace {
  private val calls = new ConcurrentHashMap[String, AtomicLong]()
  private val secs = new ConcurrentHashMap[String, DoubleAdder]()
  val bytesWritten = new AtomicLong
  val mergeBytesWritten = new AtomicLong
  /** Bytes of the docs the merges upserted, supplied by the workload's
    * own fold of its change log. */
  val mergeDocBytes = new AtomicLong

  def record(op: String, s: Double): Unit = {
    calls.computeIfAbsent(op, _ => new AtomicLong).incrementAndGet()
    secs.computeIfAbsent(op, _ => new DoubleAdder).add(s)
  }
  def calls(op: String): Long = Option(calls.get(op)).map(_.get).getOrElse(0L)
  def secs(op: String): Double = Option(secs.get(op)).map(_.sum).getOrElse(0.0)
}

/** A `Catalog` that forwards every call to `inner` and times it. Table
  * bytes written by a write are the files present after the call that
  * were not there (same size and mtime) before it. */
final class TracingCatalog(inner: Catalog, t: CatalogTrace) extends Catalog {
  private def timed[T](op: String)(f: => T): T = {
    val (r, s) = Timer.time(f)
    t.record(op, s)
    r
  }
  private def written[T](ns: String)(f: => T): (T, Long) = {
    val dir = new java.net.URI(inner.tablePath(ns)).getPath
    val before = Fs.listing(dir)
    val r = f
    val after = Fs.listing(dir)
    val bytes = after.collect { case (k, v) if !before.get(k).contains(v) => v._1 }.sum
    t.bytesWritten.addAndGet(bytes)
    (r, bytes)
  }

  override def listNamespaces(): Seq[String] = inner.listNamespaces()
  override def read(ns: String): DataFrame = timed("read")(inner.read(ns))
  override def write(ns: String, df: DataFrame, mode: String): Unit =
    timed("write")(written(ns)(inner.write(ns, df, mode)))
  override def upsert(ns: String, df: DataFrame, key: String): Long =
    timed("upsert")(written(ns)(inner.upsert(ns, df, key))._1)
  override def merge(ns: String, upserts: DataFrame, deletes: DataFrame, key: String,
      marker: Option[(String, String)]): Long = {
    val (n, bytes) = timed("merge")(written(ns)(inner.merge(ns, upserts, deletes, key, marker)))
    t.mergeBytesWritten.addAndGet(bytes)
    n
  }
  override def readMarker(ns: String, name: String): Option[String] =
    timed("marker")(inner.readMarker(ns, name))
  override def keyOf(ns: String): String = inner.keyOf(ns)
  override def drop(ns: String): Unit = inner.drop(ns)
  override def dataExists(ns: String): Boolean = timed("exists")(inner.dataExists(ns))
  override def tablePath(ns: String): String = inner.tablePath(ns)
}

/** Everything a traced pass registers, and the per-layer numbers it
  * yields over one window. */
final class Tracer(spark: SparkSession) {
  val sparkT = new SparkTrace
  val catalystT = new CatalystTrace
  val catalogT = new CatalogTrace
  private var t0Ms = 0L
  private var base: Map[String, Long] = Map.empty

  def wrap(c: Catalog): Catalog = new TracingCatalog(c, catalogT)

  /** Register the listeners. A streaming query copies the session's
    * query-execution listeners when it starts, so register before the
    * query whose batches are traced. */
  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkT)
    spark.listenerManager.register(catalystT)
  }

  /** Start the window: counters are reported relative to this point. */
  def mark(): Unit = {
    org.apache.spark.benchbridge.BusDrain(spark.sparkContext)
    base = sparkT.snapshot ++ catalystT.snapshot
    t0Ms = System.currentTimeMillis()
  }

  def start(): Unit = { register(); mark() }

  /** Stop listening; the `spark`, `catalyst` and `sources` metrics of
    * the window since [[start]]. */
  def stop(persistedRdds: Int): Map[String, Metric] = {
    val t1Ms = System.currentTimeMillis()
    org.apache.spark.benchbridge.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkT)
    spark.listenerManager.unregister(catalystT)
    val s = (sparkT.snapshot ++ catalystT.snapshot).map { case (k, v) => k -> (v - base.getOrElse(k, 0L)) }
    val wallS = (t1Ms - t0Ms) / 1000.0
    val busyS = sparkT.busyMs(t0Ms, t1Ms) / 1000.0
    val c = catalogT
    val ops = Seq("read", "upsert", "merge", "marker", "exists")
    Map(
      "spark.jobs" -> Metric(s("jobs").toDouble, "count"),
      "spark.stages" -> Metric(s("stages").toDouble, "count"),
      "spark.tasks" -> Metric(s("tasks").toDouble, "count"),
      "spark.job_busy_s" -> Metric(busyS, "s"),
      "spark.driver_gap_s" -> Metric(wallS - busyS, "s"),
      "spark.task_cpu_s" -> Metric(s("cpu_ns") / 1e9, "s"),
      "spark.gc_s" -> Metric(s("gc_ms") / 1000.0, "s"),
      "spark.shuffle_read_bytes" -> Metric(s("shuffle_read").toDouble, "bytes"),
      "spark.shuffle_write_bytes" -> Metric(s("shuffle_write").toDouble, "bytes"),
      "spark.spill_bytes" -> Metric(s("spill").toDouble, "bytes"),
      "spark.persisted_rdds_end" -> Metric(persistedRdds.toDouble, "count"),
      "catalyst.queries" -> Metric(s("queries").toDouble, "count"),
      "catalyst.analysis_s" -> Metric(s("analysis_ms") / 1000.0, "s"),
      "catalyst.optimization_s" -> Metric(s("optimization_ms") / 1000.0, "s"),
      "catalyst.planning_s" -> Metric(s("planning_ms") / 1000.0, "s"),
      "sources.bytes_written" -> Metric(c.bytesWritten.get.toDouble, "bytes"),
      "sources.write_amp" -> Metric(
        if (c.mergeDocBytes.get > 0) c.mergeBytesWritten.get.toDouble / c.mergeDocBytes.get
        else 0.0, "ratio")) ++
      ops.flatMap(op => Seq(
        s"sources.${op}_calls" -> Metric(c.calls(op).toDouble, "count"),
        s"sources.${op}_s" -> Metric(c.secs(op), "s")))
  }

  /** Counters read mid-window (for per-phase splits inside a pass). */
  def sparkNow: Map[String, Long] = {
    org.apache.spark.benchbridge.BusDrain(spark.sparkContext)
    sparkT.snapshot
  }
}

/** Medians of the micro-batch phase durations over a pass's batches. */
object Microbatch {
  private def ms(e: Event, k: String): Double =
    Option(e.p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)

  def layers(events: Seq[Event]): Map[String, Metric] = {
    def med(f: Event => Double) = Stats.median(events.map(f)) match {
      case d if d.isNaN => 0.0
      case d => d
    }
    val state = events.lastOption.map(_.p.stateOperators.toSeq).getOrElse(Nil)
    Map(
      "microbatch.add_batch_s" -> Metric(med(ms(_, "addBatch")), "s"),
      "microbatch.lifecycle_s" -> Metric(med(e => ms(e, "triggerExecution") - ms(e, "addBatch")), "s"),
      "microbatch.wal_commit_s" -> Metric(med(ms(_, "walCommit")), "s"),
      "microbatch.commit_offsets_s" -> Metric(med(ms(_, "commitOffsets")), "s"),
      "microbatch.query_planning_s" -> Metric(med(ms(_, "queryPlanning")), "s"),
      "microbatch.latest_offset_s" -> Metric(med(ms(_, "latestOffset")), "s"),
      "microbatch.state.rows" -> Metric(state.map(_.numRowsTotal).sum.toDouble, "count"),
      "microbatch.state.memory_bytes" -> Metric(state.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
      "microbatch.state.commit_s" -> Metric(
        med(_.p.stateOperators.map(_.commitTimeMs).sum / 1000.0), "s"))
  }

  /** `<prefix>_ptop_s`, `<prefix>_ptop_pct` and `<prefix>_samples`: the
    * highest percentile with at least ten samples beyond it. */
  def top(prefix: String, xs: Seq[Double]): Map[String, Metric] = {
    val (pct, v) = Stats.topPercentile(xs)
    Map(s"${prefix}_ptop_s" -> Metric(if (v.isNaN) 0.0 else v, "s"),
      s"${prefix}_ptop_pct" -> Metric(pct.toDouble, "pct"),
      s"${prefix}_samples" -> Metric(xs.size.toDouble, "count"))
  }
}
