package graftbench

import graft.Migrate
import graft.config.{IncludeSpec, MigratorConfig}
import graft.sim.Simgen
import graft.sources.{Catalog, ParquetCatalog}
import graft.streaming.{ApplyCounts, ApplyJob, Oplog}
import graft.verify.Compare.CompareSummary
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

/** The migration lifecycle, once per pass, into a fresh hash-bucketed
  * target:
  *
  *  1. copy: `Migrate.start(command=all)` copies three namespaces: the
  *     doc-store namespace the change log targets (as-is), Simgen
  *     `docStruct` profiles (masked, renamed by `to`) and `docStruct`
  *     visits (filtered);
  *  2. catch-up: `ApplyJob.catchUp(maxFilesPerTrigger=1)` drains a
  *     backlog of large change files;
  *  3. live tail: `Migrate.liveTail` (interval 0) on the same checkpoint,
  *     fed in a closed loop: the next small file is renamed into the
  *     change-log directory only after the previous file's batch has
  *     reported progress;
  *  4. compare: `Migrate.compare` of source against target.
  *
  * The first catch-up batch of each pass is its untimed warm-up. Copy and compare run once per pass, after only
  * the input generation's Spark jobs: their per-layer times include
  * first-run costs.
  *
  * Every stream batch is a read-modify-write merge of the touched
  * buckets (the `sources` layer), not a bulk upsert. */
final class LifecycleBench(progress: ProgressLog) extends Workload {
  val name = "lifecycle"

  val Accounts = "app.accounts"
  val AccountDocs = 6000
  val KeySpace = 7500
  val ProfileDocs = 500L
  val VisitDocs = 600L
  val Buckets = 32
  val CatchupFiles = 1
  val CatchupEntries = 1000
  val TailEntries = 100
  /** Timed tail files per `--seconds` second. */
  val TailFilesPerS = 0.34
  val BatchTimeoutS = 90.0
  val HashSample = 200

  private var work: String = _
  private var log: ChangeLog = _
  private var initial: Map[String, String] = Map.empty
  private var docBytes = 0L
  private var base = 0L
  private var tagN = 0

  private val fileSchema = Oplog.schema.add(StructField("file", StringType, nullable = false))

  private def tailCount(seconds: Int): Int = math.max(3, math.round(seconds * TailFilesPerS).toInt)

  // ---------------------------------------------------------------- inputs

  /** docStruct's numeric fields derive from `i + 1001`; keeping that in
    * [2e8, 3e8) fixes every field's digit count, so each seed gives inputs
    * of the same byte size. */
  private def baseOf(seed: Long): Long =
    200000000L + Math.floorMod(new SplittableRandom(seed ^ 0x6d696772L).nextLong(), 90000000L)

  private def docFrames(spark: SparkSession, b: Long): Seq[(String, DataFrame)] =
    Seq(("profiles", b, b + ProfileDocs), ("visits", b + ProfileDocs, b + ProfileDocs + VisitDocs))
      .map { case (t, lo, hi) =>
        t -> spark.range(lo, hi).select(Simgen.docStruct(col("id")).as("d")).select("d.*")
      }

  private final case class Plan(log: ChangeLog, initial: Seq[(String, String)],
      files: Seq[(String, Seq[Row], Long)])

  /** One change log over the initial accounts: catch-up files `c000..`
    * then tail files `t000..`. The first catch-up file is the stream's
    * untimed warm-up. */
  private def plan(seed: Long, seconds: Int): Plan = {
    val log = new ChangeLog(seed, Accounts, AccountDocs, KeySpace)
    val init = log.initial()
    val r = new SplittableRandom(seed * 1000003L + 5)
    val files = (0 to CatchupFiles).map { i =>
      val (rows, b) = log.file(CatchupEntries, r); (f"c$i%03d", rows, b)
    } ++ (0 until tailCount(seconds)).map { i =>
      val (rows, b) = log.file(TailEntries, r); (f"t$i%03d", rows, b)
    }
    Plan(log, init, files)
  }

  private def hashOf(spark: SparkSession, seed: Long, p: Plan): String = {
    val h = new InputHash().add(s"lifecycle|$AccountDocs|$KeySpace|${p.files.size}")
    p.initial.foreach { case (id, d) => h.add(id).add(d) }
    p.files.foreach { case (f, rows, _) =>
      h.add(f); rows.foreach(row => h.add(row.mkString("\u0001")))
    }
    // the docStruct namespaces are a pure function of their id range:
    // hash the range and a content sample of each, in one job
    val b = baseOf(seed)
    val sample = docFrames(spark, b).map { case (t, df) =>
      df.limit(HashSample).select(lit(t).as("t"), xxhash64(df.columns.map(col).toIndexedSeq: _*).as("x"))
    }.reduce(_ unionByName _)
    sample.groupBy("t").agg(bit_xor(col("x")), count(lit(1))).collect().sortBy(_.getString(0))
      .foreach(r => h.add(s"${r.getString(0)}|$b|${r.getLong(1)}|${r.getLong(2)}"))
    h.hex
  }

  def inputHash(spark: SparkSession, seed: Long, seconds: Int): String =
    hashOf(spark, seed, plan(seed, seconds))

  def prepare(spark: SparkSession, seed: Long, workDir: String, seconds: Int): String = {
    work = workDir
    base = baseOf(seed)
    val p = plan(seed, seconds)
    log = p.log
    initial = p.initial.toMap
    docBytes = p.files.map(_._3).sum
    import spark.implicits._
    p.initial.toDF("id", "doc").write.parquet(s"$work/source/accounts.parquet")
    docFrames(spark, base).foreach { case (t, df) => df.write.parquet(s"$work/source/$t.parquet") }
    // all change files in one write, one parquet file per change file
    val rows = p.files.flatMap { case (f, rs, _) => rs.map(r => Row.fromSeq(r.toSeq :+ f)) }
    val gen = s"$work/gen"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), fileSchema)
      .repartition(col("file")).write.partitionBy("file").parquet(gen)
    Fs.mkdirs(s"$work/files")
    p.files.foreach { case (f, _, _) => Fs.movePart(s"$gen/file=$f", s"$work/files/$f.parquet") }
    Fs.rmrf(gen)
    hashOf(spark, seed, p)
  }

  // ---------------------------------------------------------------- expectations

  private def visitsCut: Long = base + ProfileDocs + VisitDocs / 3

  private def cfg = MigratorConfig(
    command = MigratorConfig.CommandAll, source = "bench-source", target = "bench-target",
    isDrop = true,
    includes = Seq(
      IncludeSpec(Accounts),
      IncludeSpec("app.profiles", masks = Seq("string", "subdoc.level1.color"),
        method = MigratorConfig.MaskDefault, to = "app.profiles_masked"),
      IncludeSpec("app.visits", filterJson = s"""{"seq":{"$$gte":$visitsCut}}""")))

  private def expectedRows: Map[String, Long] = Map(
    Accounts -> AccountDocs.toLong,
    "app.profiles" -> ProfileDocs,
    "app.visits" -> (ProfileDocs + VisitDocs - (visitsCut - base)))

  /** After the change log: unchanged account docs match, changed ones
    * mismatch, deleted ones are missing and inserted ones extra. Masking
    * changes every profile, so all of them mismatch, by design; the
    * filtered visits match in full. */
  private def expectedCompare: Map[String, CompareSummary] = {
    val fin = log.expected.map { case (k, d) => k -> d.toString }
    val both = initial.keySet.intersect(fin.keySet)
    val same = both.count(k => initial(k) == fin(k)).toLong
    Map(
      Accounts -> CompareSummary(same, both.size - same,
        (initial.keySet -- fin.keySet).size.toLong, (fin.keySet -- initial.keySet).size.toLong),
      "app.profiles" -> CompareSummary(0, ProfileDocs, 0, 0),
      "app.visits" -> CompareSummary(expectedRows("app.visits"), 0, 0, 0))
  }

  // ---------------------------------------------------------------- passes

  private def catalogs(spark: SparkSession, target: String): (ParquetCatalog, ParquetCatalog) = {
    val keys = Map("accounts" -> "id")
    (new ParquetCatalog(spark, s"$work/source", db = "app", keys = keys),
      new ParquetCatalog(spark, target, db = "app", keys = keys, buckets = Buckets))
  }

  /** Nothing beyond the session: the input generation already ran the
    * first Spark jobs, and the stream phases warm up inside each pass. */
  def setup(spark: SparkSession): Unit = ()

  private final case class Run(copyS: Double, start: Migrate.StartResult,
      catchupS: Double, entries: Long, lags: Seq[Double], tailS: Double,
      counts: ApplyCounts, compareS: Double, compare: Map[String, CompareSummary],
      events: Seq[Event], warmupS: Double, sink: Catalog, copyDelta: Map[String, Long],
      streamDelta: Map[String, Long], compareDelta: Map[String, Long])

  private def setMtime(f: String, ms: Long): Unit =
    Files.setLastModifiedTime(Paths.get(f), FileTime.fromMillis(ms))

  private def run(spark: SparkSession, tracer: Option[Tracer], tag: String): Run = {
    tagN += 1
    val dir = s"$work/pass/$tag-$tagN"
    val changelog = Fs.mkdirs(s"$dir/changelog")
    val pending = Fs.mkdirs(s"$dir/pending")
    val names = Fs.names(s"$work/files")
    val (catchNames, tailNames) = names.partition(_.startsWith("c"))
    // the file source orders a backlog by mtime: pin the log order
    val m0 = System.currentTimeMillis() - 600000L
    catchNames.zipWithIndex.foreach { case (n, i) =>
      Files.copy(Paths.get(s"$work/files/$n"), Paths.get(s"$changelog/$n"))
      setMtime(s"$changelog/$n", m0 + i * 1000L)
    }
    tailNames.foreach(n => Files.copy(Paths.get(s"$work/files/$n"), Paths.get(s"$pending/$n")))
    val (plainSource, plainSink) = catalogs(spark, s"$dir/target")
    val source = tracer.map(_.wrap(plainSource)).getOrElse(plainSource)
    val sink = tracer.map(_.wrap(plainSink)).getOrElse(plainSink)
    val ckpt = s"$dir/ckpt"
    val c = cfg
    def sparkNow = tracer.map(_.sparkNow).getOrElse(Map.empty[String, Long])
    def delta(a: Map[String, Long], b: Map[String, Long]) =
      b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

    val s0 = sparkNow
    val (start, copyS) = Timer.time(Migrate.start(spark, c, source, sink, ckpt))
    val s1 = sparkNow
    // catch-up: the first backlog file is the warm-up; the timed drain
    // starts when its batch reports progress
    progress.clear()
    val c0 = System.nanoTime()
    val caught = ApplyJob.catchUp(spark, changelog, sink, c, ckpt, maxFilesPerTrigger = 1)
    val c1 = System.nanoTime()
    val catchEvents = progress.drainAll().sortBy(_.p.batchId)
    val cw = catchEvents.head.arrivalNs
    // live tail: the first file's batch also starts the query; the
    // median keeps that one slow sample from mattering
    val tailEvents = scala.collection.mutable.ArrayBuffer.empty[Event]
    val ((lags, tailCounts), tailS) = Timer.time {
      val h = Migrate.liveTail(spark, c, sink, changelog, ckpt, intervalMs = 0)
      try {
        val lags = tailNames.map { n =>
          setMtime(s"$pending/$n", System.currentTimeMillis())
          Files.move(Paths.get(s"$pending/$n"), Paths.get(s"$changelog/$n"),
            StandardCopyOption.ATOMIC_MOVE)
          val renamed = System.nanoTime()
          // a restarted query keeps its checkpoint's id: match the run id
          val ev = progress.next(h.query.runId, BatchTimeoutS).getOrElse(
            throw new IllegalStateException(s"no batch progress for $n within ${BatchTimeoutS}s"))
          tailEvents += ev
          (ev.arrivalNs - renamed) / 1e9
        }
        (lags, h.counts)
      } finally { h.stop(); h.query.awaitTermination(); () }
    }
    val s2 = sparkNow
    val (cmp, compareS) = Timer.time(Migrate.compare(spark, c, source, sink))
    val s3 = sparkNow
    Run(copyS, start, (c1 - cw) / 1e9, (catchNames.size - 1L) * CatchupEntries, lags,
      tailS, caught + tailCounts, compareS, cmp,
      catchEvents.tail ++ tailEvents, (cw - c0) / 1e9, sink,
      delta(s0, s1), delta(s1, s2), delta(s2, s3))
  }

  def pass(spark: SparkSession, tracer: Option[Tracer], tag: String): PassResult = {
    tracer.foreach(_.start())
    val r = run(spark, tracer, tag)
    val actual = r.sink.read(Accounts).select(col("id"), col("doc")).collect()
      .map(row => row.getString(0) -> row.getString(1)).toSeq
    val (badKeys, keys) = log.diff(actual)
    val rowsRead = r.start.copied.map(x => x.namespace -> x.rowsRead).toMap
    val badCopy = expectedRows.count { case (ns, n) => !rowsRead.get(ns).contains(n) }
    val expCmp = expectedCompare
    val badCompare = expCmp.count { case (ns, s) => !r.compare.get(ns).contains(s) }
    tracer.foreach(_.catalogT.mergeDocBytes.addAndGet(docBytes))
    val batches = r.events.size
    val rowsIn = r.events.map(_.p.numInputRows).sum
    val sourceDocs = AccountDocs + ProfileDocs + VisitDocs
    val layers = Microbatch.layers(r.events) ++ Microbatch.top("microbatch.tail.lag", r.lags) ++
      Map(
        "copy.s" -> Metric(r.copyS, "s"),
        "copy.rows_read" -> Metric(rowsRead.values.sum.toDouble, "count"),
        "copy.pushdown_ratio" -> Metric(
          r.copyDelta.getOrElse("records_read", 0L).toDouble / sourceDocs, "ratio"),
        "verify.s" -> Metric(r.compareS, "s"),
        "verify.shuffle_bytes" -> Metric(r.compareDelta.getOrElse("shuffle_write", 0L).toDouble, "bytes"),
        "streaming.batches" -> Metric(batches.toDouble, "count"),
        "streaming.entries_per_batch" -> Metric(rowsIn.toDouble / math.max(1, batches), "count"),
        "streaming.applied_ratio" -> Metric(r.counts.total.toDouble / math.max(1L, rowsIn), "ratio"),
        // the catch-up's warm-up batch included: jobs of every stream batch
        "streaming.jobs_per_batch" -> Metric(
          r.streamDelta.getOrElse("jobs", 0L).toDouble / (batches + 1), "count"))
    PassResult(
      wallS = r.copyS + r.catchupS + r.tailS + r.compareS, warmupS = r.warmupS,
      e2e = Map(
        "throughput_per_s" -> Metric(r.entries / r.catchupS, "1/s"),
        "latency_p50_s" -> Metric(Stats.median(r.lags), "s")),
      layers = layers,
      // each account key's final state, each namespace's copy count and
      // compare summary is one checked outcome
      attempted = keys + expectedRows.size + expCmp.size,
      failed = badKeys + badCopy + badCompare,
      detail = Map(
        "copy_s" -> r.copyS, "rows_read" -> rowsRead,
        "catchup_s" -> r.catchupS, "catchup_entries" -> r.entries, "warmup_s" -> r.warmupS,
        "tail_s" -> r.tailS, "tail_lags_s" -> r.lags,
        "compare_s" -> r.compareS,
        "compare" -> r.compare.map { case (k, v) => k -> v.toString },
        "expected_compare" -> expCmp.map { case (k, v) => k -> v.toString },
        "batches" -> batches, "applied" -> r.counts.toString,
        "keys_checked" -> keys, "keys_wrong" -> badKeys))
  }
}
