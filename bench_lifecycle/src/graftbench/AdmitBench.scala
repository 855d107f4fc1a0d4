package graftbench

import graft.streaming.DocStream
import graft.text.Dedup
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom
import scala.collection.mutable

/** Streaming admission: a file feed (one file per micro-batch) through
  * `DocStream.dedupExactStream` (the state-store exact gate) into
  * `DocStream.admitNearStream` against a store-texts minhash band index
  * staged over a reference corpus, compacting after every batch so all
  * batches do the same work. The feed is 60% fresh docs, 20% exact copies
  * (of reference docs, or re-sends of fresh docs from earlier files) and
  * 20% one-word edits of reference docs. Exercises the state store and the staged-index probe,
  * append and compact path; no `Catalog` or apply job runs. The warm-up
  * files run first in the same drain, untimed.
  *
  * Jaccard verification stays off: with `verifyJaccard` set, this
  * exact-then-near pipeline fails on its first batch (zip of RDDs with
  * unequal partition counts). */
final class AdmitBench(progress: ProgressLog) extends Workload {
  val name = "admit"

  val RefDocs = 2000
  val DocsPerFile = 200
  val Vocab = 5000
  val CompactEvery = 1
  val WarmupFiles = 1
  /** The timed feed's file count is `--seconds` / this. */
  val SecondsPerFile = 3.0
  val Watermark = "2 hours"
  val BatchTimeoutS = 120.0

  private var work: String = _
  private var fresh: Set[Long] = Set.empty
  private var feedDocs = 0L
  private var allDocs = 0L
  private var tagN = 0
  private var stageS = 0.0

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("t", TimestampType, nullable = false),
    StructField("file", StringType, nullable = false)))

  private final case class Doc(id: Long, text: String, fresh: Boolean)
  private final case class Plan(refs: Seq[(Long, String)], feed: Seq[Seq[Doc]],
      warm: Seq[Seq[Doc]])

  private def fileCount(seconds: Int): Int =
    math.max(3, math.round(seconds / SecondsPerFile).toInt)

  private def plan(seed: Long, seconds: Int): Plan = {
    val r = new SplittableRandom(seed ^ 0x61646d69L)
    val vocab = (0 until Vocab).map { _ =>
      val n = 3 + r.nextInt(7)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct
    def words(n: Int) = IndexedSeq.fill(n)(vocab(r.nextInt(vocab.size)))
    def text() = words(80 + r.nextInt(41)).mkString(" ")
    val refs = (1 to RefDocs).map(i => i.toLong -> text())
    var nextId = 1000000L
    def feed(nFiles: Int): Seq[Seq[Doc]] = {
      val sent = mutable.ArrayBuffer.empty[String]
      (0 until nFiles).map { _ =>
        // exact shares per file, order shuffled by the seed
        val kinds = mutable.ArrayBuffer.fill(DocsPerFile * 6 / 10)("fresh") ++
          mutable.ArrayBuffer.fill(DocsPerFile / 10)("copy") ++
          mutable.ArrayBuffer.fill(DocsPerFile / 10)(if (sent.isEmpty) "copy" else "resend")
        kinds ++= mutable.ArrayBuffer.fill(DocsPerFile - kinds.size)("edit")
        (kinds.size - 1 to 1 by -1).foreach { i =>
          val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
        }
        val batch = kinds.toSeq.map { kind =>
          nextId += 1
          kind match {
            case "fresh" => Doc(nextId, text(), fresh = true)
            case "copy" => Doc(nextId, refs(r.nextInt(refs.size))._2, fresh = false)
            case "resend" => Doc(nextId, sent(r.nextInt(sent.size)), fresh = false)
            case _ =>
              val w = refs(r.nextInt(refs.size))._2.split(' ')
              val at = w.length / 2
              var sub = w(at)
              while (sub == w(at)) sub = vocab(r.nextInt(vocab.size))
              w(at) = sub
              Doc(nextId, w.mkString(" "), fresh = false)
          }
        }
        // re-sends only ever copy a fresh doc of an EARLIER file
        sent ++= batch.filter(_.fresh).map(_.text)
        batch
      }
    }
    val timed = feed(fileCount(seconds))
    val warm = feed(WarmupFiles)
    Plan(refs, timed, warm)
  }

  private def hashOf(p: Plan): String = {
    val h = new InputHash().add(s"admit|$RefDocs|$DocsPerFile|${p.feed.size}")
    p.refs.foreach { case (i, t) => h.add(i.toString).add(t) }
    (p.feed ++ p.warm).flatten.foreach(d => h.add(d.id.toString).add(d.text).add(d.fresh.toString))
    h.hex
  }

  def inputHash(spark: SparkSession, seed: Long, seconds: Int): String =
    hashOf(plan(seed, seconds))

  def prepare(spark: SparkSession, seed: Long, workDir: String, seconds: Int): String = {
    work = workDir
    val p = plan(seed, seconds)
    // the warm-up files drain first, untimed, through the same gates:
    // their fates are checked too
    fresh = (p.warm ++ p.feed).flatten.filter(_.fresh).map(_.id).toSet
    allDocs = (p.warm ++ p.feed).map(_.size.toLong).sum
    feedDocs = p.feed.map(_.size.toLong).sum
    // event time advances one second per doc in drain order, so no doc
    // is late for the exact gate's watermark
    val t0 = 1700000000000L
    var i = 0L
    val rows = (p.warm.zipWithIndex.map { case (b, k) => (b, f"warm-f$k%03d") } ++
      p.feed.zipWithIndex.map { case (b, k) => (b, f"run-f$k%03d") }).flatMap { case (b, f) =>
      b.map { d => i += 1; Row(d.id, d.text, new java.sql.Timestamp(t0 + i * 1000L), f) }
    }
    val gen = s"$work/gen"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .repartition(col("file")).write.partitionBy("file").parquet(gen)
    rows.map(_.getString(3)).distinct.foreach { f =>
      val (set, name) = f.splitAt(f.indexOf('-'))
      Fs.mkdirs(s"$work/files/$set")
      Fs.movePart(s"$gen/file=$f", s"$work/files/$set/${name.drop(1)}.parquet")
    }
    Fs.rmrf(gen)
    import spark.implicits._
    p.refs.toDF("doc_id", "text").write.parquet(s"$work/refs")
    hashOf(p)
  }

  def setup(spark: SparkSession): Unit = {
    stageS = Timer.time(Dedup.stageBandIndex(spark.read.parquet(s"$work/refs"), "doc_id",
      col("text"), s"$work/index-template", storeTexts = true))._2
  }

  private final case class Drain(warmupS: Double, timedS: Double, events: Seq[Event],
      out: String, index: String)

  /** One drain of the warm-up files followed by the timed files, one
    * file per batch, on a fresh copy of the staged index. The timed
    * region starts when the last warm-up batch reports progress (then
    * `onTimed` runs) and ends when the drain terminates. */
  private def drain(spark: SparkSession, tag: String, onTimed: () => Unit): Drain = {
    tagN += 1
    val dir = s"$work/pass/$tag-$tagN"
    val feed = Fs.mkdirs(s"$dir/feed")
    Fs.copyTree(s"$work/index-template", s"$dir/index")
    // the file source takes one file per batch in mtime order
    val names = Seq("warm", "run").flatMap { set =>
      Fs.names(s"$work/files/$set").map(n => (set, n))
    }
    val m0 = System.currentTimeMillis() - 600000L
    names.zipWithIndex.foreach { case ((set, n), k) =>
      val dst = Paths.get(s"$feed/$set-$n")
      Files.copy(Paths.get(s"$work/files/$set/$n"), dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(m0 + k * 1000L))
    }
    progress.clear()
    val t0 = System.nanoTime()
    val docs = spark.readStream.schema(StructType(schema.fields.init))
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val q = DocStream.admitNearStream(
      DocStream.dedupExactStream(docs, col("text"), "t", Watermark),
      "doc_id", "text", s"$dir/index", s"$dir/out", s"$dir/ckpt",
      compactEvery = CompactEvery)
    val warm = (1 to WarmupFiles).map { _ =>
      progress.next(q.runId, BatchTimeoutS).getOrElse {
        q.stop()
        throw new IllegalStateException(s"no warm-up batch progress within ${BatchTimeoutS}s")
      }
    }
    val t1 = warm.last.arrivalNs
    onTimed()
    q.awaitTermination()
    val t2 = System.nanoTime()
    val timed = progress.drainAll().filter(e => e.p.runId == q.runId && e.arrivalNs > t1)
    Drain((t1 - t0) / 1e9, (t2 - t1) / 1e9, timed, s"$dir/out", s"$dir/index")
  }

  def pass(spark: SparkSession, tracer: Option[Tracer], tag: String): PassResult = {
    tracer.foreach(_.register())
    val d = drain(spark, tag, () => tracer.foreach(_.mark()))
    val admitted = spark.read.parquet(d.out).select("doc_id").collect().map(_.getLong(0)).toSeq
    val admittedSet = admitted.toSet
    val twice = admitted.size - admittedSet.size
    val wrongIn = admittedSet.count(id => !fresh.contains(id))
    val wrongOut = fresh.count(id => !admittedSet.contains(id))
    // the drain's closing no-data batch (watermark advance) decides nothing
    val batchS = d.events.filter(_.p.numInputRows > 0)
      .map(e => e.p.durationMs.get("triggerExecution").doubleValue / 1000.0)
    val index = Fs.listing(d.index).filter { case (k, _) => !k.startsWith("_") && !k.contains("/_") }
    val layers = Microbatch.layers(d.events) ++ Microbatch.top("microbatch.admit.batch", batchS) ++
      Map(
        "text.admitted" -> Metric(admitted.size.toDouble, "count"),
        "text.rejected" -> Metric((allDocs - admittedSet.size).toDouble, "count"),
        "text.stage_s" -> Metric(stageS, "s"),
        "util.index_files" -> Metric(index.size.toDouble, "count"),
        "util.index_bytes" -> Metric(index.values.map(_._1).sum.toDouble, "bytes"))
    PassResult(
      wallS = d.timedS, warmupS = d.warmupS,
      e2e = Map(
        "throughput_per_s" -> Metric(feedDocs / d.timedS, "1/s"),
        "latency_p50_s" -> Metric(Stats.median(batchS), "s")),
      layers = layers,
      attempted = allDocs, failed = twice + wrongIn + wrongOut,
      detail = Map(
        "batches" -> d.events.size, "batch_s" -> batchS, "drain_s" -> d.timedS,
        "warmup_s" -> d.warmupS,
        "admitted" -> admitted.size, "expected_admitted" -> fresh.size,
        "admitted_twice" -> twice, "admitted_wrongly" -> wrongIn, "rejected_wrongly" -> wrongOut))
  }
}
