package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark entry point. Usage:
  *
  *   graftbench.Main --workload <lifecycle|admit> --seed <n>
  *     --seconds <n> --trace <0|1> --work <dir> --out <result.json>
  *
  * Generates the workload's inputs from the seed, creates the session
  * the program's way (`GraftSession.create(local[nproc])`), runs the
  * set-up and warm-up, then one timed pass on fresh state. With
  * `--trace 1` an untraced pass runs first and a traced pass second; the
  * per-layer numbers come from the traced pass and
  * `trace.overhead_ratio` is its wall time over the untraced one's. The
  * result (metrics, correctness counts, run record) is written as JSON to
  * `--out`. */
object Main {
  /** Session create/stop cycles whose median is the session part of
    * `setup_s`; the last session is kept for the run. */
  val SessionCycles = 3

  /** Exits explicitly either way: a failed run must not linger on
    * Spark's non-daemon threads. */
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val trace = kv("trace") == "1"
    val work = Fs.mkdirs(kv("work"))
    val out = kv("out")

    val nproc = Runtime.getRuntime.availableProcessors
    val createS = (1 to SessionCycles).map { i =>
      val (s, t) = Timer.time(graft.GraftSession.create(s"local[$nproc]"))
      if (i < SessionCycles) s.stop()
      t
    }
    val spark = SparkSession.active
    val progress = new ProgressLog(spark)
    spark.streams.addListener(progress)
    val w: Workload = workload match {
      case "lifecycle" => new LifecycleBench(progress)
      case "admit" => new AdmitBench(progress)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val (hash, prepS) = Timer.time(w.prepare(spark, seed, work, seconds))
    val ((again, other), selfcheckS) = Timer.time(
      (w.inputHash(spark, seed, seconds), w.inputHash(spark, seed + 1, seconds)))
    val selfcheck = again == hash && other != hash

    val (_, setupWorkS) = Timer.time(w.setup(spark))

    val untraced = w.pass(spark, None, "timed")
    val setupS = Stats.median(createS) + setupWorkS + untraced.warmupS
    // counted before any collection: what the pass left registered
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val heapMb = liveHeapMb()
    val traced = if (!trace) None else {
      val tracer = new Tracer(spark)
      val p = w.pass(spark, Some(tracer), "traced")
      val layers = tracer.stop(spark.sparkContext.getPersistentRDDs.size)
      Some((p, layers))
    }

    val passes = untraced +: traced.map(_._1).toSeq
    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum
    val e2e = untraced.e2e ++ Map(
      "setup_s" -> Metric(setupS, "s"),
      "heap_live_mb" -> Metric(heapMb, "MB"))
    val layers = traced.map { case (p, l) =>
      Layers.complete(p.layers ++ l ++ Map(
        "trace.overhead_ratio" -> Metric(p.wallS / untraced.wallS, "ratio")))
    }.getOrElse(Map.empty)

    val rt = ManagementFactory.getRuntimeMXBean
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "jvm_args" -> rt.getInputArguments.toArray.toSeq.map(_.toString),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "session_confs" -> spark.conf.getAll.toMap,
      "spark.persisted_rdds_end" -> persisted,
      "input_hash" -> hash,
      "seed_selfcheck" -> Map("same_seed_hash" -> again, "next_seed_hash" -> other,
        "ok" -> selfcheck),
      "session_create_s" -> createS,
      "prepare_s" -> prepS, "selfcheck_s" -> selfcheckS, "setup_work_s" -> setupWorkS,
      "pass" -> untraced.detail,
      "traced_pass" -> traced.map(_._1.detail).getOrElse(Map.empty))

    val result = Map(
      "correct" -> (failed == 0 && selfcheck),
      "attempted" -> attempted,
      "failed" -> failed,
      "e2e" -> e2e,
      "layers" -> layers,
      "run" -> record)
    Files.write(Paths.get(out), Json.render(result).getBytes("UTF-8"))
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  /** Heap in use after full collections: the least of a few, so a
    * collection that ran while a listener or cleaner still held garbage
    * does not count. */
  private def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
}

/** Per-layer metric names and units. A workload that bypasses a layer
  * reports 0 for it (a count of what it did there). */
object Layers {
  val units: Seq[(String, String)] =
    Seq("read", "upsert", "merge", "marker", "exists").flatMap(op =>
      Seq(s"sources.${op}_calls" -> "count", s"sources.${op}_s" -> "s")) ++ Seq(
    "sources.bytes_written" -> "bytes",
    "sources.write_amp" -> "ratio",
    "copy.s" -> "s",
    "copy.rows_read" -> "count",
    "copy.pushdown_ratio" -> "ratio",
    "verify.s" -> "s",
    "verify.shuffle_bytes" -> "bytes",
    "streaming.batches" -> "count",
    "streaming.entries_per_batch" -> "count",
    "streaming.applied_ratio" -> "ratio",
    "streaming.jobs_per_batch" -> "count",
    "microbatch.add_batch_s" -> "s",
    "microbatch.lifecycle_s" -> "s",
    "microbatch.wal_commit_s" -> "s",
    "microbatch.commit_offsets_s" -> "s",
    "microbatch.query_planning_s" -> "s",
    "microbatch.latest_offset_s" -> "s",
    "microbatch.state.rows" -> "count",
    "microbatch.state.memory_bytes" -> "bytes",
    "microbatch.state.commit_s" -> "s",
    "microbatch.tail.lag_ptop_s" -> "s",
    "microbatch.tail.lag_ptop_pct" -> "pct",
    "microbatch.tail.lag_samples" -> "count",
    "microbatch.admit.batch_ptop_s" -> "s",
    "microbatch.admit.batch_ptop_pct" -> "pct",
    "microbatch.admit.batch_samples" -> "count",
    "text.admitted" -> "count",
    "text.rejected" -> "count",
    "text.stage_s" -> "s",
    "util.index_files" -> "count",
    "util.index_bytes" -> "bytes",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.job_busy_s" -> "s",
    "spark.driver_gap_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.persisted_rdds_end" -> "count",
    "catalyst.queries" -> "count",
    "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  /** Fill layers the workload bypassed with 0 and reject names outside
    * the table. */
  def complete(m: Map[String, Metric]): Map[String, Metric] = {
    val known = units.toMap
    val unknown = m.keySet -- known.keySet
    require(unknown.isEmpty, s"per-layer metrics missing from the table: $unknown")
    known.map { case (k, u) => k -> m.getOrElse(k, Metric(0.0, u)) }
  }
}
