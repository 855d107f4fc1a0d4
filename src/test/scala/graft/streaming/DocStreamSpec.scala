package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files

/** The streaming dedup gates: first arrival wins across micro-batches,
  * near-dup signature equality catches what content-hash equality
  * misses, and the same code degenerates to distinct-on-key in batch. */
class DocStreamSpec extends SparkSpec {
  import spark.implicits._

  private def feedDir(): String = Files.createTempDirectory("graft-docstream").toString

  // two files = two micro-batches (maxFilesPerTrigger=1, mod-time order)
  private def writeFeed(dir: String): Unit = {
    Seq(
      (1L, "alpha beta gamma delta", "2024-01-01 10:00:00"),
      (2L, "one two three four five", "2024-01-01 10:00:10"))
      .toDF("doc_id", "text", "t")
      .withColumn("t", to_timestamp(col("t"))).coalesce(1)
      .write.mode("append").parquet(dir)
    Thread.sleep(300)
    Seq(
      (3L, "ALPHA BETA gamma delta", "2024-01-01 10:00:20"), // re-cased near-dup of 1
      (4L, "one two three four five", "2024-01-01 10:00:30"), // exact dup of 2
      (5L, "fresh document text entirely", "2024-01-01 10:00:40"))
      .toDF("doc_id", "text", "t")
      .withColumn("t", to_timestamp(col("t"))).coalesce(1)
      .write.mode("append").parquet(dir)
  }

  private def runGate(dir: String, name: String,
      gate: DataFrame => DataFrame): Set[Long] = {
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = gate(src)
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).select("doc_id").as[Long].collect().toSet
  }

  test("admitStream: index-resident state spans runs; null texts dropped, not re-admitted") {
    val root = feedDir()
    val idx = s"$root/fpidx"
    graft.text.Dedup.stageFingerprints(
      Seq((100L, "reference only doc")).toDF("doc_id", "text"),
      col("text"), idx, buckets = 4)
    def drain(rows: Seq[(Long, String, String)], i: Int): Unit = {
      val df = rows.toDF("doc_id", "text", "src").coalesce(1)
      df.write.parquet(s"$root/feed$i")
      DocStream.admitStream(
          spark.readStream.schema(df.schema).parquet(s"$root/feed$i"),
          "doc_id", "text", idx, s"$root/adm", s"$root/ckpt$i",
          rejectsPath = Some(s"$root/rej"))
        .awaitTermination()
    }
    drain(Seq((1L, "first wave doc", "crawl-a"), (2L, null, "crawl-a"),
      (3L, "reference only doc", "crawl-a")), 1)
    // run 2: FRESH checkpoint — rejection of 1's copy proves the state
    // lives in the index; the null row must be dropped, not re-admitted;
    // the in-batch pair (12, 13) keeps its min-id winner and audits the
    // loser under the SAME fingerprint
    drain(Seq((10L, "first wave doc", "crawl-b"), (11L, null, "crawl-b"),
      (12L, "second wave doc", "crawl-b"),
      (13L, "second wave doc", "crawl-b")), 2)
    // the out rows carry the FULL input schema (metadata survives), not
    // the probe's (id, text) projection
    val out = spark.read.parquet(s"$root/adm")
    assert(out.columns.sorted.toSeq == Seq("doc_id", "src", "text"))
    val admitted = out.select("doc_id", "text", "src")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
      .toSet
    assert(admitted == Set(
      (1L, Some("first wave doc"), "crawl-a"),
      (12L, Some("second wave doc"), "crawl-b")))
    // the rejects audit: (id, ch) — ch is the matched content
    // fingerprint (the index is id-free, so the fingerprint IS the
    // reference); the in-batch loser 13 carries its winner 12's hash,
    // dropped null rows appear nowhere
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val rej = spark.read.parquet(s"$root/rej").select("doc_id", "ch")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rej == Set(
      (3L, md5hex("reference only doc")),
      (10L, md5hex("first wave doc")),
      (13L, md5hex("second wave doc"))))
  }

  test("admitNearStream: band-index state spans runs; in-batch near pair admitted together") {
    val root = feedDir()
    val idx = s"$root/bandidx"
    val refText = "the quick brown fox jumps over the lazy dog near the river bank today"
    graft.text.Dedup.stageBandIndex(
      Seq((100L, refText)).toDF("doc_id", "text"),
      "doc_id", col("text"), dir = idx, buckets = 4)
    def drain(rows: Seq[(Long, String, String)], i: Int): Unit = {
      val df = rows.toDF("doc_id", "text", "src").coalesce(1)
      df.write.parquet(s"$root/feed$i")
      DocStream.admitNearStream(
          spark.readStream.schema(df.schema).parquet(s"$root/feed$i"),
          "doc_id", "text", idx, s"$root/adm", s"$root/ckpt$i")
        .awaitTermination()
    }
    val t2 = "completely different document about spark streaming and parquet file layouts"
    val t13 = "another brand new corpus document describing minhash band signatures in detail"
    drain(Seq(
      (1L, refText, "crawl-a"), // all bands match the staged ref → rejected
      (2L, t2, "crawl-a"),
      (3L, "tiny doc", "crawl-a")), 1) // < 3 words: signs nothing, admitted
    // run 2: FRESH checkpoint — rejection of 2's copy proves the state
    // lives in the index; the in-batch near pair (13, 14) is admitted
    // TOGETHER (the probe is index-keyed)
    drain(Seq(
      (10L, t2, "crawl-b"),
      (13L, t13, "crawl-b"), (14L, t13, "crawl-b"),
      (15L, "tiny doc", "crawl-b")), 2) // short again: admitted again
    // run 3: a copy of the wave-2 pair is rejected by its indexed members
    drain(Seq((20L, t13, "crawl-c")), 3)
    val out = spark.read.parquet(s"$root/adm")
    assert(out.columns.sorted.toSeq == Seq("doc_id", "src", "text"))
    val admitted = out.select("doc_id", "src")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(admitted == Set((2L, "crawl-a"), (3L, "crawl-a"),
      (13L, "crawl-b"), (14L, "crawl-b"), (15L, "crawl-b")))
  }

  test("admitVecStream: semantic state spans runs; null embeddings dropped") {
    val root = feedDir()
    val idx = s"$root/flatidx"
    // 4-dim toy geometry: orthogonal vectors are cos 0 (admitted),
    // copies are cos 1 (rejected)
    def v(x: Float*): Array[Float] = x.toArray
    graft.ml.Similarity.stageIvfFlat(
      Seq((100L, v(1f, 0f, 0f, 0f)), (101L, v(0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", numCentroids = 2, dir = idx)
    def drain(rows: Seq[(Long, Array[Float], String)], i: Int): Unit = {
      val df = rows.toDF("vec_id", "embedding", "src").coalesce(1)
      df.write.parquet(s"$root/feed$i")
      DocStream.admitVecStream(
          spark.readStream.schema(df.schema).parquet(s"$root/feed$i"),
          "vec_id", "embedding", idx, s"$root/adm", s"$root/ckpt$i",
          rejectsPath = Some(s"$root/rej"))
        .awaitTermination()
    }
    drain(Seq(
      (1L, v(1f, 0f, 0f, 0f), "crawl-a"), // copy of staged 100 → rejected
      (2L, v(0f, 0f, 1f, 0f), "crawl-a"), // orthogonal to everything → admitted
      (3L, null.asInstanceOf[Array[Float]], "crawl-a"), // dropped
      // zero-quantized: no direction, dropped — NOT admitted (it is
      // un-rejectable by the cosine test, so admitting it would make a
      // replayed batch re-admit it and poison the append guard)
      (4L, v(0f, 0f, 0f, 0f), "crawl-a")), 1)
    // run 2: FRESH checkpoint — rejecting 2's copy proves the state
    // lives in the index; a NEAR copy (cos ~ 0.995 > 0.9) also rejects
    drain(Seq(
      (10L, v(0f, 0f, 1f, 0f), "crawl-b"),
      (11L, v(0f, 0.1f, 0.995f, 0f), "crawl-b"),
      (12L, v(0f, 0f, 0f, 1f), "crawl-b")), 2) // new direction → admitted
    val out = spark.read.parquet(s"$root/adm")
    assert(out.columns.sorted.toSeq == Seq("embedding", "src", "vec_id"))
    val admitted = out.select("vec_id", "src")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(admitted == Set((2L, "crawl-a"), (12L, "crawl-b")))
    // the rejects audit names the matched INDEXED vector and the
    // measured cosine: the staged copy points at 100, the cross-run
    // copy and near-copy point at wave-1-admitted 2 (state in the
    // index); dropped rows (null/zero) have no admission identity and
    // appear nowhere
    val rej = spark.read.parquet(s"$root/rej")
      .select("vec_id", "ref_id", "cos_permille").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rej.map(_._1) == Set(1L, 10L, 11L))
    assert(rej.contains((1L, 100L, 1000)))
    assert(rej.contains((10L, 2L, 1000)))
    assert(rej.exists { case (id, rid, c) =>
      id == 11L && rid == 2L && c >= 990 && c < 1000 })
  }

  // one file per micro-batch (maxFilesPerTrigger=1, mod-time order)
  private def writeBatches[T <: Product : org.apache.spark.sql.Encoder](
      dir: String, batches: Seq[Seq[T]], cols: Seq[String]): Unit =
    batches.foreach { rows =>
      rows.toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(150)
    }

  private def maxFilesPerPartDir(layout: String, prefix: String): Int = {
    val root = new java.io.File(layout)
    val parts = root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
    if (parts.isEmpty) 0
    else parts.map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
  }

  test("admitStream compactEvery: mid-drain compaction is admission-invisible, files bounded") {
    val root = feedDir()
    val feed = s"$root/feed"
    // 4 micro-batches: fresh docs + repeats of the staged reference and
    // of earlier batches' admitted docs
    writeBatches(feed, Seq(
      Seq((1L, "unique doc number one body"), (2L, "reference only doc")),
      Seq((10L, "unique doc number two body"), (11L, "unique doc number one body")),
      Seq((20L, "unique doc number three body")),
      Seq((30L, "unique doc number two body"), (31L, "unique doc number four body"))),
      Seq("doc_id", "text"))
    def drain(tag: String, every: Int): Set[Long] = {
      val idx = s"$root/fpidx$tag"
      // 2 buckets: stage + 4 admitting appends = 5 write jobs over 2
      // buckets, so some bucket holds > 1 file by pigeonhole
      graft.text.Dedup.stageFingerprints(
        Seq((100L, "reference only doc")).toDF("doc_id", "text"),
        col("text"), idx, buckets = 2)
      DocStream.admitStream(
          spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", 1).parquet(feed),
          "doc_id", "text", idx, s"$root/adm$tag", s"$root/ckpt$tag",
          compactEvery = every)
        .awaitTermination()
      spark.read.parquet(s"$root/adm$tag").select("doc_id")
        .as[Long].collect().toSet
    }
    val plain = drain("a", 0)
    val cadenced = drain("b", 2) // compacts after batches 2 and 4
    assert(plain == Set(1L, 10L, 20L, 31L))
    assert(cadenced == plain)
    // growth bounded: the cadence's last compaction lands on the final
    // batch → exactly one file per touched bucket; uncompacted stacks
    assert(maxFilesPerPartDir(s"$root/fpidxa/fp", "fpb=") > 1)
    assert(maxFilesPerPartDir(s"$root/fpidxb/fp", "fpb=") == 1)
  }

  test("admitNearStream compactEvery: mid-drain band compaction, files bounded") {
    val root = feedDir()
    val feed = s"$root/feed"
    val refText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val t1 = "completely different document about spark streaming and parquet file layouts"
    val t2 = "another brand new corpus document describing minhash band signatures in detail"
    val t3 = "a third novel document on shuffle partitioning and broadcast join planning"
    writeBatches(feed, Seq(
      Seq((1L, t1), (2L, refText)),
      Seq((10L, t2), (11L, t1)),
      Seq((20L, t3)),
      Seq((30L, t2))),
      Seq("doc_id", "text"))
    def drain(tag: String, every: Int): Set[Long] = {
      val idx = s"$root/bandidx$tag"
      graft.text.Dedup.stageBandIndex(
        Seq((100L, refText)).toDF("doc_id", "text"),
        "doc_id", col("text"), dir = idx, buckets = 4)
      DocStream.admitNearStream(
          spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", 1).parquet(feed),
          "doc_id", "text", idx, s"$root/adm$tag", s"$root/ckpt$tag",
          compactEvery = every)
        .awaitTermination()
      spark.read.parquet(s"$root/adm$tag").select("doc_id")
        .as[Long].collect().toSet
    }
    val plain = drain("a", 0)
    val cadenced = drain("b", 2)
    assert(plain == Set(1L, 10L, 20L))
    assert(cadenced == plain)
    assert(maxFilesPerPartDir(s"$root/bandidxa/bands", "bkt=") > 1)
    assert(maxFilesPerPartDir(s"$root/bandidxb/bands", "bkt=") == 1)
    assert(maxFilesPerPartDir(s"$root/bandidxb/ids", "idb=") == 1)
  }

  // The gate skeleton's single release contract, pinned per admission
  // gate: each entry stages its index and feed under `root` and returns
  // a starter taking (rejects dir, compactEvery). Every gate audits
  // rejections and sees at least one reject and one admit, so each
  // checkpoint its probe takes is live when a sink runs.
  private val leakGates: Seq[(String,
      String => (String, Int) => org.apache.spark.sql.streaming.StreamingQuery)] = Seq(
    "admitStream" -> { root =>
      graft.text.Dedup.stageFingerprints(
        Seq((100L, "reference only doc")).toDF("doc_id", "text"),
        col("text"), s"$root/idx", buckets = 4)
      val df = Seq((1L, "reference only doc"), (2L, "a fresh crawl document"))
        .toDF("doc_id", "text").coalesce(1)
      df.write.parquet(s"$root/feed")
      (rej, every) => DocStream.admitStream(
        spark.readStream.schema(df.schema).parquet(s"$root/feed"),
        "doc_id", "text", s"$root/idx", s"$root/adm", s"$root/ckpt",
        compactEvery = every, rejectsPath = Some(rej))
    },
    "admitNearStream" -> { root =>
      val ref = "the quick brown fox jumps over the lazy dog near the river bank today"
      graft.text.Dedup.stageBandIndex(Seq((100L, ref)).toDF("doc_id", "text"),
        "doc_id", col("text"), dir = s"$root/idx", buckets = 4, storeTexts = true)
      val df = Seq((1L, ref),
          (2L, "completely different document about spark streaming and parquet file layouts"))
        .toDF("doc_id", "text").coalesce(1)
      df.write.parquet(s"$root/feed")
      // verify on: the pairs, texts and verified checkpoints are live too
      (rej, every) => DocStream.admitNearStream(
        spark.readStream.schema(df.schema).parquet(s"$root/feed"),
        "doc_id", "text", s"$root/idx", s"$root/adm", s"$root/ckpt",
        compactEvery = every, verifyJaccard = Some(0.5), rejectsPath = Some(rej))
    },
    "admitVecStream" -> { root =>
      graft.ml.Similarity.stageIvfFlat(
        Seq((100L, Array(1f, 0f, 0f, 0f)), (101L, Array(0f, 1f, 0f, 0f)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", numCentroids = 2, dir = s"$root/idx")
      val df = Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 0f, 1f, 0f)))
        .toDF("vec_id", "embedding").coalesce(1)
      df.write.parquet(s"$root/feed")
      (rej, every) => DocStream.admitVecStream(
        spark.readStream.schema(df.schema).parquet(s"$root/feed"),
        "vec_id", "embedding", s"$root/idx", s"$root/adm", s"$root/ckpt",
        compactEvery = every, rejectsPath = Some(rej))
    })

  private def assertNoLeak(run: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"persistent/checkpoint blocks leaked by the drain: $leaked")
  }

  for ((gate, setup) <- leakGates) {
    test(s"$gate: rejects-sink failure releases the admitted checkpoint (no block leak)") {
      val root = feedDir()
      val start = setup(root)
      // rejectsPath rooted UNDER a regular file: the audit sink fails
      // while the out write beside it completes — the batch fails with
      // every probe checkpoint already materialized
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/blocker"), Array[Byte](1))
      assertNoLeak {
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          start(s"$root/blocker/rej", 0).awaitTermination()
        }
      }
    }

    test(s"$gate: clean drain with compaction releases every checkpoint (no block leak)") {
      val root = feedDir()
      val start = setup(root)
      assertNoLeak(start(s"$root/rej", 1).awaitTermination())
      assert(spark.read.parquet(s"$root/adm").count() == 1)
      assert(spark.read.parquet(s"$root/rej").count() == 1)
    }
  }

  test("admitVecStream compactEvery: mid-drain vec compaction, files bounded") {
    val root = feedDir()
    val feed = s"$root/feed"
    def v(x: Float*): Array[Float] = x.toArray
    writeBatches(feed, Seq(
      Seq((1L, v(0f, 0f, 1f, 0f))), // new direction → admitted
      Seq((10L, v(1f, 0f, 0f, 0f)), (11L, v(0f, 0f, 0f, 1f))), // copy of staged; new
      Seq((20L, v(0f, 0f, 1f, 0f))), // copy of batch-1 admit → rejected
      Seq((30L, v(0.5f, 0.5f, 0.5f, 0.5f)))),
      Seq("vec_id", "embedding"))
    def drain(tag: String, every: Int): Set[Long] = {
      val idx = s"$root/flatidx$tag"
      graft.ml.Similarity.stageIvfFlat(
        Seq((100L, v(1f, 0f, 0f, 0f)), (101L, v(0f, 1f, 0f, 0f)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", numCentroids = 2, dir = idx)
      DocStream.admitVecStream(
          spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", 1).parquet(feed),
          "vec_id", "embedding", idx, s"$root/adm$tag", s"$root/ckpt$tag",
          compactEvery = every)
        .awaitTermination()
      spark.read.parquet(s"$root/adm$tag").select("vec_id")
        .as[Long].collect().toSet
    }
    val plain = drain("a", 0)
    val cadenced = drain("b", 2)
    assert(plain == Set(1L, 11L, 30L))
    assert(cadenced == plain)
    assert(maxFilesPerPartDir(s"$root/flatidxa/vecs", "list=") > 1)
    assert(maxFilesPerPartDir(s"$root/flatidxb/vecs", "list=") == 1)
  }

  test("admitVecStream reclusterSkew: drift auto-maintenance fires at the cadence, admission invariant") {
    val root = feedDir()
    val feed = s"$root/feed"
    // 8-dim geometry: staged axes e1/e2 are the 2 centroids; the feed
    // is two drifted clusters around ±e3 (members pairwise cos 0.5 or
    // 0 — all admitted; all orthogonal to both centroids — all tie
    // into list 1, the pile-up recluster exists to fix)
    def ax(i: Int): Array[Float] = Array.tabulate(8)(j => if (j == i) 1f else 0f)
    def cl(sign: Float, u: Int): Array[Float] =
      Array.tabulate(8)(j =>
        if (j == 2) sign * 0.707f else if (j == u) 0.707f else 0f)
    writeBatches(feed, Seq(
      Seq((1L, cl(1f, 3)), (2L, cl(1f, 4))),
      Seq((10L, cl(-1f, 3)), (11L, cl(-1f, 4))),
      Seq((20L, cl(1f, 5)), (21L, cl(1f, 6))),
      Seq((30L, cl(-1f, 5)), (31L, cl(-1f, 6)))),
      Seq("vec_id", "embedding"))
    def drain(tag: String, skew: Double): Set[Long] = {
      val idx = s"$root/flatidx$tag"
      graft.ml.Similarity.stageIvfFlat(
        Seq((100L, ax(0)), (101L, ax(1))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", numCentroids = 2, dir = idx)
      DocStream.admitVecStream(
          spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", 1).parquet(feed),
          "vec_id", "embedding", idx, s"$root/adm$tag", s"$root/ckpt$tag",
          // nprobe = numCentroids: every list probed under ANY
          // geometry, so admission is provably recluster-invariant —
          // the fixture pins exactly that
          nprobe = 2, compactEvery = 2, reclusterSkew = skew)
        .awaitTermination()
      spark.read.parquet(s"$root/adm$tag").select("vec_id")
        .as[Long].collect().toSet
    }
    val plain = drain("a", 0.0)      // cadenced compaction, no recluster
    val cadenced = drain("b", 1.2)   // recluster fires at batches 2 and 4
    val all = Set(1L, 2L, 10L, 11L, 20L, 21L, 30L, 31L)
    assert(plain == all && cadenced == plain)
    // resolve the LIVE meta through the manifest's generation param —
    // auto-recluster flips generations, the plain dir is reaped after
    // the grace interval
    def meta(tag: String): Set[Seq[Long]] = {
      val mf = graft.util.IndexManifest.read(spark, s"$root/flatidx$tag")
      val m = mf.params.get("gen").map(g => s"meta.g$g").getOrElse("meta")
      spark.read.parquet(s"$root/flatidx$tag/$m").collect()
        .map(_.getSeq[Long](1)).toSet
    }
    // control: without the knob the centroids stay the staged axes;
    // with it, the post-drain geometry moved (recluster FIRED — the
    // drifted mass drew the re-seeded centroids away from e1/e2)
    val axes = Set(ax(0), ax(1)).map(_.map(x => math.floor(x * 1000).toLong).toSeq)
    assert(meta("a") == axes)
    assert(meta("b") != axes)
    // the replay contract survives auto-recluster: exact copies of
    // everything admitted are rejected by the reclustered index
    val copies = spark.read.parquet(s"$root/adma")
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    assert(graft.ml.Similarity.vecNewStaged(copies, "vec_id", "embedding",
      s"$root/flatidxb", nprobe = 2).count() == 0)
    // the knob without a compaction cadence is refused up front
    intercept[IllegalArgumentException] {
      DocStream.admitVecStream(
        spark.readStream.schema(spark.read.parquet(feed).schema).parquet(feed),
        "vec_id", "embedding", s"$root/flatidxa", s"$root/admx",
        s"$root/ckptx", reclusterSkew = 1.5)
    }
  }

  test("admitNearStream verify mode: sub-threshold collision admitted, rejects audited, outPath texts verify") {
    val root = feedDir()
    val idx = s"$root/bandidx"
    // short ref: 14 words → 12 shingles; a 4-word tail adds 4 new
    // shingles → jaccard 12/16 = 0.75 < 0.8 (admitted under verify);
    // long ref: 62 words → 60 shingles; same tail → 60/64 ≈ 0.94 ≥ 0.8
    val shortRef = "the quick brown fox jumps over the lazy dog near the river bank today"
    val longRef = (1 to 5).map(i =>
      s"paragraph $i of the reference describes partition pruning and shuffle behavior under load")
      .mkString(" ") + " and a final closing sentence ends the reference document here"
    val refs = Seq((100L, shortRef), (101L, longRef)).toDF("doc_id", "text")
    graft.text.Dedup.stageBandIndex(refs, "doc_id", col("text"),
      dir = idx, buckets = 4)
    val tail = " totally fresh trailing words"
    val shortNear = shortRef + tail
    val longNear = longRef + tail
    def drain(rows: Seq[(Long, String)], i: Int,
        verify: Option[Double]): Unit = {
      val df = rows.toDF("doc_id", "text").coalesce(1)
      df.write.parquet(s"$root/feed$i")
      DocStream.admitNearStream(
          spark.readStream.schema(df.schema).parquet(s"$root/feed$i"),
          "doc_id", "text", idx, s"$root/adm", s"$root/ckpt$i",
          verifyJaccard = verify, refTexts = Some(refs),
          rejectsPath = Some(s"$root/rej"))
        .awaitTermination()
    }
    drain(Seq((1L, shortNear), (2L, longNear),
      (3L, "an unrelated document about something else entirely today")),
      1, Some(0.8))
    val adm1 = spark.read.parquet(s"$root/adm").select("doc_id")
      .as[Long].collect().toSet
    // doc 1 collides on a band but verifies at 0.75 < 0.8 → ADMITTED
    // (the candidate-keyed gate would have dropped it); doc 2 verifies
    // at ~0.94 → rejected; doc 3 has no candidates → admitted
    assert(adm1 == Set(1L, 3L))
    val rej1 = spark.read.parquet(s"$root/rej")
      .select("doc_id", "ref_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rej1.map(_._1) == Set(2L))
    assert(rej1.forall { case (_, rid, j) => rid == 101L && j >= 0.8 && j < 1.0 })
    // wave 2, fresh checkpoint: an EXACT copy of wave-1-admitted doc 1
    // must reject at jaccard 1.0 — its text comes from the OUT path
    // (the index stores signatures only), proving the verify stage
    // re-reads admitted texts
    drain(Seq((10L, shortNear)), 2, Some(0.8))
    val adm2 = spark.read.parquet(s"$root/adm").select("doc_id")
      .as[Long].collect().toSet
    assert(adm2 == Set(1L, 3L))
    val rej2 = spark.read.parquet(s"$root/rej")
      .select("doc_id", "ref_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rej2.contains((10L, 1L, 1.0)))
    // sanity contrast: WITHOUT verify the same wave-1 feed rejects the
    // sub-threshold collision too (candidate-keyed), and the rejects
    // audit carries a null jaccard
    val idx2 = s"$root/bandidx2"
    graft.text.Dedup.stageBandIndex(refs, "doc_id", col("text"),
      dir = idx2, buckets = 4)
    val df = Seq((1L, shortNear),
      (5L, "another unrelated text about gardens and weather patterns"))
      .toDF("doc_id", "text").coalesce(1)
    df.write.parquet(s"$root/feedx")
    DocStream.admitNearStream(
        spark.readStream.schema(df.schema).parquet(s"$root/feedx"),
        "doc_id", "text", idx2, s"$root/admx", s"$root/ckptx",
        rejectsPath = Some(s"$root/rejx"))
      .awaitTermination()
    assert(spark.read.parquet(s"$root/admx").select("doc_id")
      .as[Long].collect().toSet == Set(5L))
    val rx = spark.read.parquet(s"$root/rejx")
      .select("doc_id", "ref_id", "jaccard").collect()
    assert(rx.map(_.getLong(0)).toSet == Set(1L))
    assert(rx.forall(_.isNullAt(2)))
    // the knobs are validated up front
    intercept[IllegalArgumentException] {
      DocStream.admitNearStream(
        spark.readStream.schema(df.schema).parquet(s"$root/feedx"),
        "doc_id", "text", idx2, s"$root/admy", s"$root/ckpty",
        verifyJaccard = Some(0.8))
    }
    intercept[IllegalArgumentException] {
      DocStream.admitNearStream(
        spark.readStream.schema(df.schema).parquet(s"$root/feedx"),
        "doc_id", "text", idx2, s"$root/admy", s"$root/ckpty",
        verifyJaccard = Some(1.5), refTexts = Some(refs))
    }
  }

  test("admitNearStream verify mode against a STORE-TEXTS index: no refTexts, no corpus re-scan surface") {
    val root = feedDir()
    val idx = s"$root/bandidx"
    // same Jaccard geometry as the legacy verify test: short ref's
    // 4-word tail lands at 0.75 < 0.8 (admitted), long ref's at ~0.94
    // (rejected)
    val shortRef = "the quick brown fox jumps over the lazy dog near the river bank today"
    val longRef = (1 to 5).map(i =>
      s"paragraph $i of the reference describes partition pruning and shuffle behavior under load")
      .mkString(" ") + " and a final closing sentence ends the reference document here"
    val refs = Seq((100L, shortRef), (101L, longRef)).toDF("doc_id", "text")
    graft.text.Dedup.stageBandIndex(refs, "doc_id", col("text"),
      dir = idx, buckets = 4, storeTexts = true)
    val tail = " totally fresh trailing words"
    def drain(rows: Seq[(Long, String)], i: Int): Unit = {
      val df = rows.toDF("doc_id", "text").coalesce(1)
      df.write.parquet(s"$root/feed$i")
      DocStream.admitNearStream(
          spark.readStream.schema(df.schema).parquet(s"$root/feed$i"),
          "doc_id", "text", idx, s"$root/adm", s"$root/ckpt$i",
          verifyJaccard = Some(0.8), rejectsPath = Some(s"$root/rej"))
        .awaitTermination()
    }
    drain(Seq((1L, shortRef + tail), (2L, longRef + tail),
      (3L, "an unrelated document about something else entirely today")), 1)
    assert(spark.read.parquet(s"$root/adm").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 3L))
    val rej1 = spark.read.parquet(s"$root/rej")
      .select("doc_id", "ref_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rej1.map(_._1) == Set(2L))
    assert(rej1.forall { case (_, rid, j) => rid == 101L && j >= 0.8 && j < 1.0 })
    // wave 2, fresh checkpoint: an exact copy of wave-1-admitted doc 1
    // rejects at jaccard 1.0 with its text fetched FROM THE INDEX —
    // the gate's own append carried doc 1's text, so no outPath
    // re-scan surface exists (the store-texts contract)
    drain(Seq((10L, shortRef + tail)), 2)
    assert(spark.read.parquet(s"$root/adm").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 3L))
    assert(spark.read.parquet(s"$root/rej")
      .select("doc_id", "ref_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      .contains((10L, 1L, 1.0)))
    // a store-texts index REFUSES refTexts (two text authorities for
    // one id would be ambiguous evidence)
    val df = Seq((20L, "x y z")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      DocStream.admitNearStream(
        spark.readStream.schema(df.schema).parquet(s"$root/feed1"),
        "doc_id", "text", idx, s"$root/admz", s"$root/ckptz",
        verifyJaccard = Some(0.8), refTexts = Some(refs))
    }
  }

  test("exact gate into a store-texts verify gate: the exchanged batch verifies without a partitioning clash") {
    // the state-store exact gate hands admitNearStream a HASH-exchanged
    // micro-batch; the verify stage unions it with the bucket-pruned
    // index text fetch. Both are shuffle-partitioned, so a union that
    // claims its children's output partitioning would feed a join a
    // partitioning its RDD does not have (a zip of unequal partition
    // counts) — the shape the lifecycle benchmark's admit pass runs
    val root = feedDir()
    val idx = s"$root/bandidx"
    val r = new scala.util.Random(7919)
    val vocab = (0 until 2000).map(_ => (0 until 3 + r.nextInt(6))
      .map(_ => ('a' + r.nextInt(26)).toChar).mkString).distinct
    def text(): String = Seq.fill(40)(vocab(r.nextInt(vocab.size))).mkString(" ")
    val refs = (1 to 300).map(i => i.toLong -> text())
    graft.text.Dedup.stageBandIndex(refs.toDF("doc_id", "text"), "doc_id",
      col("text"), dir = idx, storeTexts = true)
    def edit(t: String): String = {
      val w = t.split(' '); w(w.length / 2) = "zzzedit"; w.mkString(" ")
    }
    val fresh = (1001L to 1060L).map(_ -> text())
    val copies = (1061L to 1080L).zip(refs.take(20).map(_._2))
    val edits = (1081L to 1100L).zip(refs.slice(20, 40).map(p => edit(p._2)))
    val feed = (fresh ++ copies ++ edits).zipWithIndex.map { case ((id, t), k) =>
      (id, t, new java.sql.Timestamp(1700000000000L + k * 1000L)) }
    feed.toDF("doc_id", "text", "t").coalesce(1).write.parquet(s"$root/feed")
    DocStream.admitNearStream(
        DocStream.dedupExactStream(
          spark.readStream.schema(spark.read.parquet(s"$root/feed").schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$root/feed"),
          col("text"), "t", "2 hours"),
        "doc_id", "text", idx, s"$root/adm", s"$root/ckpt",
        verifyJaccard = Some(0.5), rejectsPath = Some(s"$root/rej"))
      .awaitTermination()
    assert(spark.read.parquet(s"$root/adm").select("doc_id").as[Long]
      .collect().toSet == fresh.map(_._1).toSet)
    assert(spark.read.parquet(s"$root/rej").select("doc_id").as[Long]
      .collect().toSet == (copies ++ edits).map(_._1).toSet)
  }

  test("exact gate keeps first arrival, drops the cross-batch content dup") {
    val dir = feedDir(); writeFeed(dir)
    val kept = runGate(dir, "ds_exact",
      df => DocStream.dedupExactStream(df, col("text"), "t", "1 hour"))
    // 4 is byte-identical to 2 (dropped); 3 differs in case (kept)
    assert(kept == Set(1L, 2L, 3L, 5L))
  }

  test("minhash gate additionally drops the re-cased near-dup") {
    val dir = feedDir(); writeFeed(dir)
    val kept = runGate(dir, "ds_minhash",
      df => DocStream.dedupMinhashStream(df, col("text"), "t", "1 hour"))
    assert(kept == Set(1L, 2L, 5L))
  }

  test("empty docs pass the minhash gate individually (null-signature guard)") {
    val dir = feedDir()
    Seq((1L, "", "2024-01-01 10:00:00"), (2L, "", "2024-01-01 10:00:01"),
      (3L, "xy", "2024-01-01 10:00:02"))
      .toDF("doc_id", "text", "t")
      .withColumn("t", to_timestamp(col("t"))).coalesce(1)
      .write.mode("append").parquet(dir)
    // two DIFFERENT empty-ish docs: both shingle-less, must not collapse
    Thread.sleep(300)
    Seq((4L, "zq", "2024-01-01 10:00:03"))
      .toDF("doc_id", "text", "t")
      .withColumn("t", to_timestamp(col("t"))).coalesce(1)
      .write.mode("append").parquet(dir)
    val kept = runGate(dir, "ds_empty",
      df => DocStream.dedupMinhashStream(df, col("text"), "t", "1 hour"))
    // 2 is an exact dup of 1 (same empty text → same content key);
    // 3 and 4 are distinct shingle-less docs and both survive
    assert(kept == Set(1L, 3L, 4L))
  }

  test("batch mode degenerates to distinct-on-content") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "2024-01-01 10:00:00"),
      (2L, "alpha beta gamma delta", "2024-01-01 10:00:10"),
      (3L, "one two three four five", "2024-01-01 10:00:20"))
      .toDF("doc_id", "text", "t")
      .withColumn("t", to_timestamp(col("t")))
    val out = DocStream.dedupExactStream(docs, col("text"), "t", "1 hour")
    assert(out.count() == 2)
    assert(out.select(countDistinct(col("text"))).as[Long].head() == 2)
  }

  test("curation chain: gate + quality/lang filter + scrub + split, stream == batch") {
    val dir = feedDir()
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "2024-01-01 10:00:00"),
      (2L, "a b c 1 2 3 4 5 6 7", "2024-01-01 10:00:10")) // low alpha ratio → filtered
    val rows2 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog today", "2024-01-01 10:00:20"), // dup of 1
      (4L, "pack my box with five dozen liquor jugs mail me at a.b@x.io now", "2024-01-01 10:00:30"))
    rows.toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(300)
    rows2.toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStream.curateStream(src, "doc_id", col("text"), "t", "1 hour")
      .writeStream.format("memory").queryName("ds_curate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ds_curate")
      .select("doc_id", "quality_score", "pred_lang", "scrubbed", "split")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet

    // 1 survives (quality ≥ 3, en); 2 fails the alpha-ratio gate;
    // 3 is a content dup; 4 survives with its email scrubbed
    assert(streamed.map(_._1) == Set(1L, 4L))
    assert(streamed.find(_._1 == 4L).get._4.contains("<EMAIL>"))

    // stream == batch over the same files: same survivors by content
    // (batch dedup may keep 3 instead of 1 — identical text either way),
    // and the id-stable row gets the identical split assignment (pure
    // (key, salt) function)
    val batch = DocStream.curateStream(
        spark.read.parquet(dir), "doc_id", col("text"), "t", "1 hour")
      .select("doc_id", "quality_score", "pred_lang", "scrubbed", "split")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    assert(batch.map(t => (t._2, t._3, t._4)) == streamed.map(t => (t._2, t._3, t._4)))
    assert(batch.find(_._1 == 4L).map(_._5) == streamed.find(_._1 == 4L).map(_._5))
  }

  test("index-cut curation: stream-cut == batch-cut on the same feed") {
    val boiler = "the shared duplicated boilerplate run appears here verbatim"
    val refDir = feedDir()
    val idxDir = Files.createTempDirectory("graft-ds-cenidx").toString
    // reference corpus carries the boilerplate; stage its exact census
    Seq((100L, s"reference document one containing $boiler inside it"),
        (101L, s"reference document two with $boiler again plus a tail"))
      .toDF("doc_id", "text").createOrReplaceTempView("__ref")
    graft.text.Substrings.stageGramCensus(spark.table("__ref"), "doc_id",
      col("text"), k = 12, dir = idxDir)

    val dir = feedDir()
    val p10 = "the quick brown fox jumps over the lazy dog today "
    val p13 = "pack my box with five dozen liquor jugs quickly today "
    Seq((10L, p10 + boiler, "2024-01-01 10:00:00"),
        (11L, "a perfectly clean english document with many common words here",
          "2024-01-01 10:00:10"))
      .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(300)
    Seq((13L, p13 + boiler, "2024-01-01 10:00:20"))
      .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(dir)

    val out = feedDir() + "/out"
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStream.curateStreamAgainstIndex(src, "doc_id", "text", "t",
      "1 hour", idxDir, out, feedDir() + "/ckpt")
    q.awaitTermination()
    val cols = Seq("doc_id", "text", "n_tokens", "quality_score",
      "pred_lang", "scrubbed", "split")
    val streamed = spark.read.parquet(out).select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet

    // the cut happened: the boilerplate is gone, the prefix survives
    // intact (minus its trailing space — the reference also precedes the
    // boilerplate with a space, so the shared region includes it)
    val byId = streamed.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byId.keySet == Set(10L, 11L, 13L))
    assert(byId(10L)(1) == p10.trim && byId(13L)(1) == p13.trim)
    assert(!byId(11L)(1).asInstanceOf[String].contains(boiler))

    // the pin: the reference-only cut is micro-batch-invariant, so the
    // batch twin over the whole feed emits the IDENTICAL rows
    val batch = DocStream.curateBatchAgainstIndex(
        DocStream.dedupExactStream(spark.read.parquet(dir), col("text"),
          "t", "1 hour"),
        "doc_id", "text", idxDir)
      .select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSet
    assert(batch == streamed)
  }

  test("index-cut curation with appendAfterCut: later batches collide with earlier ones") {
    val idxDir = Files.createTempDirectory("graft-ds-cenidx2").toString
    // reference census WITHOUT the run the feed repeats
    Seq((200L, "unrelated reference corpus text that matches nothing later"))
      .toDF("doc_id", "text").createOrReplaceTempView("__ref2")
    graft.text.Substrings.stageGramCensus(spark.table("__ref2"), "doc_id",
      col("text"), k = 12, dir = idxDir)

    val run = "a run of text repeated across micro batches of the feed"
    val pa = "a nice clean english document with many common words here "
    val pb = "pack my box with five dozen liquor jugs quickly today "
    val dir = feedDir()
    Seq((20L, pa + run, "2024-01-01 10:00:00"))
      .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(300)
    Seq((21L, pb + run, "2024-01-01 10:00:10"))
      .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(dir)

    val out = feedDir() + "/out"
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStream.curateStreamAgainstIndex(src, "doc_id", "text", "t",
      "1 hour", idxDir, out, feedDir() + "/ckpt2", appendAfterCut = true)
    q.awaitTermination()
    val got = spark.read.parquet(out).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // first arrival keeps the run (nothing in the index yet); the later
    // repeat collides with the appended grams and is cut — first-wins at
    // substring granularity (the shared region includes the space both
    // prefixes end with, hence the trim)
    assert(got(20L) == pa + run)
    assert(got(21L) == pb.trim)
  }

  test("appendAfterCut + compactEvery: file growth bounded, output and probes unchanged") {
    def stageRef(tag: String): String = {
      val idxDir = Files.createTempDirectory(s"graft-ds-cmp$tag").toString
      Seq((300L, "unrelated reference corpus text that matches nothing later"))
        .toDF("doc_id", "text").createOrReplaceTempView(s"__ref3$tag")
      graft.text.Substrings.stageGramCensus(spark.table(s"__ref3$tag"),
        "doc_id", col("text"), k = 12, dir = idxDir, buckets = 4)
      idxDir
    }
    val run = "a run of text repeated across micro batches of the feed"
    val dir = feedDir()
    val prefixes = Seq(
      "a nice clean english document with many common words here ",
      "pack my box with five dozen liquor jugs quickly today ",
      "the quick brown fox jumps over the lazy dog every day ",
      "we all agree that good fences make good neighbors said he ",
      "never send to know for whom the bell tolls it tolls for me ",
      "this is the best of many documents and the last of the feed ")
    prefixes.zipWithIndex.foreach { case (p, i) =>
      Seq((30L + i, p + run, s"2024-01-01 10:0$i:00"))
        .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(150)
    }
    def drain(idxDir: String, every: Int, tag: String): Set[Seq[Any]] = {
      val out = feedDir() + "/out"
      val schema = spark.read.parquet(dir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      DocStream.curateStreamAgainstIndex(src, "doc_id", "text", "t",
          "1 hour", idxDir, out, feedDir() + s"/ckpt$tag",
          appendAfterCut = true, compactEvery = every)
        .awaitTermination()
      spark.read.parquet(out).select("doc_id", "text", "split")
        .collect().map(_.toSeq).toSet
    }
    val plain = stageRef("a"); val cadenced = stageRef("b")
    val want = drain(plain, 0, "a")
    val got = drain(cadenced, 2, "b") // compacts after batches 2, 4, 6
    // mid-stream compaction is probe-invisible: identical curated output
    assert(got == want && want.nonEmpty)
    // first arrival keeps the run; every later batch collides and is cut
    assert(want.count(r => r(1).asInstanceOf[String].contains(run)) == 1)
    // file growth bounded: 6 uncompacted appends stack files; the
    // cadence (last compaction lands on the final batch) leaves 1/bucket
    def maxFiles(idxDir: String): Int = {
      val root = new java.io.File(s"$idxDir/census")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bkt="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    }
    assert(maxFiles(plain) > 1)
    assert(maxFiles(cadenced) == 1)
    // probes against the two indexes agree (compaction ≡ no compaction)
    val probeDoc = Seq((99L, "zz " + run + " zz")).toDF("doc_id", "text")
    def probe(idxDir: String) = graft.text.Substrings.newDupSpans(probeDoc,
        "doc_id", col("text"), idxDir, maxChars = 0, selfDups = false)
      .collect().map(_.toSeq).toSet
    assert(probe(plain) == probe(cadenced) && probe(plain).nonEmpty)
    // the knob without the append discipline is refused at call time
    val e = intercept[IllegalArgumentException] {
      DocStream.curateStreamAgainstIndex(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
        "doc_id", "text", "t", "1 hour", plain, feedDir() + "/x",
        feedDir() + "/ckptx", compactEvery = 2)
    }
    assert(e.getMessage.contains("compactEvery"))
  }

  test("curation chain with the line gate: scoring runs on line-filtered text, stream == batch") {
    val dir = feedDir()
    // doc 1: a good sentence line + a no-punct junk line the gate strips;
    // doc 2: ONLY junk lines → empty filtered text → quality-filtered out
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today.\nbuy now click here free offer no punct",
        "2024-01-01 10:00:00"),
      (2L, "nav home about contact\nfooter links sitemap legal", "2024-01-01 10:00:10"))
    rows.toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocStream.curateStream(src, "doc_id", col("text"), "t", "1 hour",
        lineGate = Some(5))
      .writeStream.format("memory").queryName("ds_curate_lines")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ds_curate_lines")
      .select("doc_id", "text_kept", "split")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // only doc 1 survives, and its kept text is just the sentence line
    assert(streamed.map(_._1) == Set(1L))
    assert(streamed.head._2 == "the quick brown fox jumps over the lazy dog today.")
    // batch over the same files agrees exactly
    val batch = DocStream.curateStream(
        spark.read.parquet(dir), "doc_id", col("text"), "t", "1 hour",
        lineGate = Some(5))
      .select("doc_id", "text_kept", "split")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(batch == streamed)
  }
}
