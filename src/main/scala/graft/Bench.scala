package graft

/** Benchmark main — one JSON line with per-query wall-clock at the
  * SPARK_GRAFT_SF_DIR scale factor.
  *
  * Honesty rules (the round-3 verdict's "bench honesty" items, plus the
  * round-5 variance guard):
  *  - the cache is CLEARED before every timed run, so each query pays
  *    its own full cost and the numbers are order-independent — no query
  *    rides another's leaked persist;
  *  - an untimed warm-up runs EVERY query once at the smallest fixture
  *    (sf0.001) so codegen compilation + JIT for each plan shape lands
  *    outside the timed region; warm-up failures are counted in the JSON
  *    (`warmup_failed`) so a broken fixture dir is visible even before
  *    the timed region re-raises it;
  *  - each query is timed SPARK_GRAFT_BENCH_REPEATS times (default 3)
  *    and reports the MIN plus the (lower) MEDIAN, with the max−min
  *    spread under `spread` — so a sub-second delta can be read against
  *    the run's own jitter instead of guessed against JIT/GC noise, and
  *    a contended box (median ≫ min) is distinguishable from a plan
  *    regression (min moved);
  *  - STREAMING-CADENCE-BOUND queries (micro-batch trigger machinery,
  *    not plan cost: the `streaming_queries` set) are excluded from the
  *    headline `value` and totaled separately under `streaming_total`,
  *    so the plan-cost total stays comparable round-over-round;
  *  - the FULL JSON line (per-query min/median/spread maps, ms
  *    precision) is written to SPARK_GRAFT_BENCH_OUT (default
  *    bench_out/latest.json) AND, for default-out runs, to a per-core-
  *    count bench_out/bench_c<cpus>.json (the driver benches at two core
  *    counts; one shared path lost the first run's medians). STDOUT gets
  *    ONE COMPACT line (totals, probes, errors, n_failed, a `detail`
  *    pointer to the full file): the full line is ~28 KB at 203 queries
  *    and the driver captures only a ~2.2 KB log tail, so every
  *    BENCH_r01..r17 artifact held a truncated fragment and parsed as
  *    null — the compact final line is what restores the driver-
  *    parseable contract (round-18 item 1);
  *  - a query that throws is recorded under "errors" with a null time,
  *    and the run exits non-zero — a regression can never make the bench
  *    look faster;
  *  - two FIXED-WORK machine probes (`probe_cpu_sec`: 200M-long codegen
  *    hash loop; `probe_shuffle_sec`: 2M-row 32-partition hash-agg) run
  *    each session and land in the JSON, so round-over-round deltas can
  *    be normalized against the box itself: queries moved AND probes
  *    moved ⇒ the machine changed; queries moved, probes didn't ⇒ a
  *    plan regressed. */
object Bench {

  /** Queries whose wall-clock is Structured-Streaming trigger cadence
    * (AvailableNow/ProcessingTime micro-batch overhead, live-tail waits)
    * rather than plan cost — batch-proportional at scale, constant here. */
  val streamingQueries: Set[String] =
    Set("q_st2_catchup", "q_st1_overlap", "q_st3_tail", "q_st_index",
      "q_st_substr", "q_st_curate", "q_st_curate_index",
      "q_st_curate_append", "q_st_bm25", "q_curate_stream", "q_st_fp",
      "q_st_lsh", "q_st_lsh_verified", "q_st_vec")

  def main(args: Array[String]): Unit = {
    // tooling hook (tools/bench_iso.py): print the query inventory —
    // names + which are streaming-cadence — without starting Spark
    if (sys.env.get("SPARK_GRAFT_BENCH_LIST").contains("1")) {
      val names = SparkEntry.queries.keys.toSeq.sorted
        .map(n => "\"" + n + "\"").mkString("[", ",", "]")
      val st = streamingQueries.toSeq.sorted
        .map(n => "\"" + n + "\"").mkString("[", ",", "]")
      println(s"""{"queries":$names,"streaming_queries":$st}""")
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // debugging aid: comma-separated query names to time in isolation
    // (empty = all); lets a bench-session-only slowdown be separated
    // from a query's own cost without editing the suite
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // a mistyped name would otherwise silently select nothing and emit
    // an empty (all-green-looking) bench run
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    def selected = if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    // untimed full warm-up at the smallest scale factor (fall back to the
    // bench dir if the sibling fixture is absent)
    val warm = {
      val sib = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(sib)) sib.toString else sfDir
    }
    var warmupFailed = 0
    selected.foreach { case (_, fn) =>
      try { fn(spark, warm).count(); () } catch { case _: Throwable => warmupFailed += 1 }
    }
    spark.catalog.clearCache()
    // ---- machine-calibration probes: FIXED work, independent of the
    // scale factor and of any query code — a codegen'd CPU loop (hash
    // 200M longs) and a small 32-partition shuffle (2M rows hash-agg).
    // Round-over-round query deltas divide by these to separate "the
    // box changed" (probes moved with the queries) from "a plan
    // regressed" (query moved, probes didn't). min of 3, untimed
    // warm-up first; ~1 s on a healthy 32-cpu box. ----
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
    def probeCpu(): Long = spark.range(200000000L)
      .select(expr("bit_xor(xxhash64(id))")).collect()(0).getLong(0)
    def probeShuffle(): Long = spark.range(2000000L)
      .select((col("id") % 100000L).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .select(sum(col("n"))).collect()(0).getLong(0)
    // a probe failure must not abort the bench (queries isolate their
    // errors; the probes do too) — report -1 and keep timing
    def timeProbe(f: () => Long): Double =
      try {
        f() // warm
        (0 until 3).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.min
      } catch { case _: Throwable => -1.0 }
    val probeCpuSec = timeProbe(() => probeCpu())
    val probeShuffleSec = timeProbe(() => probeShuffle())
    // opt-in (tools/bench_iso.py sets it): one untimed run of each query
    // AT THE TARGET SF right before its timed repeats. The sf0.001
    // warm-up above covers codegen/JIT but not the target-scale page
    // cache and shuffle paths, so without this the first timed repeat
    // carries a cold-IO penalty that lands entirely in `spread` (the
    // min is still honest, but spread then measures cache state, not
    // jitter). Default off: the driver's crowded-session artifact keeps
    // its historical shape.
    val targetWarm = sys.env.get("SPARK_GRAFT_BENCH_TARGET_WARM").contains("1")
    val results = selected.toSeq.map { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      if (targetWarm) {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
      }
      var i = 0
      while (i < repeats && err.isEmpty) {
        spark.catalog.clearCache() // order independence: no inherited caches
        // localCheckpoint blocks live OUTSIDE the SQL cache manager —
        // without this they accumulate across the ~100-query session and
        // the block-manager churn shows up as bench-only slowdowns
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); times += (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          err = Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
        i += 1
      }
      // UNTIMED between-queries GC: Spark frees broadcasts, checkpoint
      // blocks, and generated classes via the ContextCleaner only after
      // their driver references are collected — across ~100 plans the
      // uncollected backlog inflates LATER queries (memory pressure +
      // class-unloading pauses inside someone else's timed region).
      // Forcing collection here keeps each query's number its own.
      System.gc()
      val spread = if (times.size > 1) times.max - times.min else 0.0
      val median = if (times.isEmpty) 0.0
        else times.sorted.apply((times.size - 1) / 2)
      (name, times.minOption.getOrElse(0.0), median, spread, err)
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").take(200)
    // millisecond precision: full-double per-query values made the full
    // line ~28 KB for 203 queries; ms is already below the box's noise
    // floor and halves the artifact (additions-only: no key renamed)
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    val qs = results.map { case (k, v, _, _, err) =>
      "\"" + k + "\":" + (if (err.isEmpty) r3(v).toString else "null")
    }.mkString("{", ",", "}")
    val medians = results.collect { case (k, _, m, _, None) => "\"" + k + "\":" + r3(m) }
      .mkString("{", ",", "}")
    val spreads = results.collect { case (k, _, _, s, None) => "\"" + k + "\":" + r3(s) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, _, Some(m)) => "\"" + k + "\":\"" + esc(m) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect {
      case (k, v, _, _, None) if !streamingQueries(k) => v }.sum
    val streamingTotal = results.collect {
      case (k, v, _, _, None) if streamingQueries(k) => v }.sum
    val streamingList = results.collect {
      case (k, _, _, _, _) if streamingQueries(k) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // target_warm changes WHAT the artifact measures (first-repeat cache
    // state, hence spread) — record it so warmed and unwarmed artifacts
    // are never compared as if they used one methodology
    val nFailed = results.count(_._5.nonEmpty)
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"median":$medians,"spread":$spreads,"streaming_total":${r3(streamingTotal)},"streaming_queries":$streamingList,"repeats":$repeats,"warmup_failed":$warmupFailed,"target_warm":$targetWarm,"probe_cpu_sec":$probeCpuSec,"probe_shuffle_sec":$probeShuffleSec,"errors":$errs,"n_failed":$nFailed,"sf":"$sfDir"}"""
    // the FULL line (per-query min/median/spread maps) goes to files: at
    // 203 queries it is far larger than the driver's ~2.2 KB log-tail
    // capture, which is why every BENCH_r01..r17 artifact holds a
    // truncated fragment and `parsed: null` — no round ever had a
    // driver-parsed bench total. The driver's two runs (32- and 8-core)
    // also share the default out path, so the second used to overwrite
    // the first's medians; a per-core-count copy stops losing them.
    def writeFile(p: java.nio.file.Path): Unit = {
      Option(p.getParent).foreach(d => { java.nio.file.Files.createDirectories(d); () })
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out/latest.json"))
    writeFile(outFile)
    if (sys.env.get("SPARK_GRAFT_BENCH_OUT").isEmpty)
      writeFile(java.nio.file.Paths.get(s"bench_out/bench_c$cpus.json"))
    // the ONE stdout JSON line stays COMPACT (≤1.5 KB: totals, probes,
    // errors, pointer to the full artifact) so the driver's tail capture
    // finally parses it; the per-query maps live in `detail`, they can
    // never fit the tail
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","streaming_total":${r3(streamingTotal)},"repeats":$repeats,"warmup_failed":$warmupFailed,"target_warm":$targetWarm,"probe_cpu_sec":$probeCpuSec,"probe_shuffle_sec":$probeShuffleSec,"errors":$errs,"n_failed":$nFailed,"sf":"$sfDir","detail":"$outFile"}""")
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}
