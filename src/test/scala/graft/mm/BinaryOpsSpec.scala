package graft.mm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BinaryOpsSpec extends SparkSpec {
  import spark.implicits._

  private def payloads = Tables.load(spark, sf0001, "documents")
    .select(col("doc_id"), col("text").cast("binary").as("payload"))

  test("withMetadata: byte length, hash, magic prefix, chunk count") {
    val m = BinaryOps.withMetadata(payloads, col("payload"), 256).cache()
    assert(m.filter(col("n_bytes") =!= length(col("payload"))).count() == 0)
    assert(m.filter(length(col("content_hash")) =!= 32).count() == 0)
    // magic prefix = hex of first 4 bytes, 8 hex chars for docs >= 4 bytes
    assert(m.filter(col("n_bytes") >= 4 && length(col("magic_hex")) =!= 8).count() == 0)
    assert(m.filter(col("n_chunks") =!=
      ceil(col("n_bytes").cast("double") / 256).cast("long")).count() == 0)
    m.unpersist()
  }

  test("cdcBoundaries: native expression equals the declarative md5 formulation") {
    val withEdge = payloads.unionByName(Seq(
      (900001L, Array.emptyByteArray),            // empty payload
      (900002L, "short".getBytes("UTF-8")),       // shorter than the window
      (900003L, null.asInstanceOf[Array[Byte]])). // null payload
      toDF("doc_id", "payload"))
    val both = withEdge.select(col("doc_id"),
      BinaryOps.cdcBoundariesCol(col("payload")).as("nat"),
      BinaryOracles.cdcBoundariesDeclarative(col("payload")).as("dec"))
    assert(both.where(not(col("nat") <=> col("dec"))).count() == 0)
    // real docs actually produce boundaries (the rule isn't degenerate)
    assert(both.filter(size(col("nat")) > 0).count() > 0)
  }

  test("cdcChunks: chunks tile the payload and re-synchronize after a prefix shift") {
    val base = payloads.filter(col("doc_id") < 50)
    val ch = BinaryOps.cdcChunks(base, "doc_id", col("payload"))
    // coverage: per-doc chunk_len sums to the byte length
    val cover = ch.groupBy("doc_id").agg(sum("chunk_len").as("total"))
      .join(base.select(col("doc_id"), length(col("payload")).cast("long").as("len")), "doc_id")
    assert(cover.filter(col("total") =!= col("len")).count() == 0)
    // shift-robustness: a prefix insertion re-shares the tail chunks;
    // fixed-width chunking shares nothing for the same corpus
    val shifted = base.select((col("doc_id") + 1000L).as("doc_id"),
      concat(lit("SHIFT: ").cast("binary"), col("payload")).as("payload"))
    val corpus = base.unionByName(shifted)
    val cdcShared = BinaryOps.cdcChunks(corpus, "doc_id", col("payload"))
      .groupBy("chunk_md5").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    val fixedShared = BinaryOps.chunks(corpus, "doc_id", col("payload"), 16)
      .groupBy("chunk_md5").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    assert(cdcShared > 0, "CDC must re-share chunks after the shift")
    assert(cdcShared > fixedShared,
      s"CDC ($cdcShared shared) must beat fixed-width ($fixedShared) under shifts")
  }

  test("chunks: sequence numbering and coverage") {
    val ch = BinaryOps.chunks(payloads, "doc_id", col("payload"), 256).cache()
    val meta = BinaryOps.withMetadata(payloads, col("payload"), 256)
    // per-doc chunk rows == n_chunks; chunk_seq is 0..n-1
    val counts = ch.groupBy("doc_id")
      .agg(count(lit(1)).as("rows"), max("chunk_seq").as("mx"))
      .join(meta.select("doc_id", "n_chunks"), "doc_id")
    assert(counts.filter(col("rows") =!= col("n_chunks")).count() == 0)
    assert(counts.filter(col("mx") =!= col("n_chunks") - 1).count() == 0)
    // identical payloads yield identical chunk hash sequences
    val dup = payloads.limit(1)
    val a = BinaryOps.chunks(dup, "doc_id", col("payload")).collect().toSet
    val b = BinaryOps.chunks(dup, "doc_id", col("payload")).collect().toSet
    assert(a == b && a.nonEmpty)
    ch.unpersist()
  }

  test("binary content dedup finds planted duplicate payloads") {
    val corpus = payloads.unionByName(payloads.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"), col("payload")))
    val out = BinaryOps.contentDedup(corpus, "doc_id", col("payload"))
    val planted = payloads.filter(col("doc_id") % 9 === 0).count()
    assert(out.filter(col("dup_count") === 2).count() == planted)
    assert(out.filter(col("keep_id") >= 300000L).count() == 0)
  }

  test("decodeStub: stable deterministic schema — the codec seam") {
    val png = Seq((1L, Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 1, 2, 3)),
      (2L, Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)),
      (3L, "plain".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val d = BinaryOps.decodeStub(png, "doc_id", col("payload"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))).toMap
    assert(d(1L)._3 == "png" && d(2L)._3 == "jpeg" && d(3L)._3 == "raw")
    assert(d.values.forall { case (w, h, _, ok) => w >= 1 && w <= 4096 && h >= 1 && h <= 4096 && ok })
    // deterministic: same payload → same fake dimensions
    val d2 = BinaryOps.decodeStub(png, "doc_id", col("payload")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))).toMap
    assert(d == d2)
  }

  test("decodeWith: mapPartitions codec equals the expression stub") {
    val imperative = BinaryOps
      .decodeWith(payloads, "doc_id", col("payload"))(BinaryOps.stubCodec _)
      .collect().map(d => d.id -> (d.width, d.height, d.format, d.decode_ok)).toMap
    val declarative = BinaryOps.decodeStub(payloads, "doc_id", col("payload"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4)))
      .toMap
    assert(imperative == declarative && imperative.nonEmpty)
  }

  test("decodeWith: codec factory runs once per partition, not per row") {
    val inits = spark.sparkContext.longAccumulator("codec_inits")
    val parts = 4
    val df = payloads.repartition(parts)
    val n = BinaryOps.decodeWith(df, "doc_id", col("payload")) { () =>
      inits.add(1)
      BinaryOps.stubCodec()
    }.count()
    assert(n > parts) // more rows than partitions, so per-row init would show
    assert(inits.value == parts, s"codec initialized ${inits.value} times")
  }

  test("decodeWith: a throwing payload becomes decode_ok=false, rest of partition survives") {
    // the codec (and its MessageDigest) must be built INSIDE the
    // factory — i.e. on the executor, per partition; building it on the
    // driver would ship non-serializable state, which is exactly the
    // mistake the factory seam exists to prevent
    val poisonFactory: () => Array[Byte] => BinaryOps.Decoded = () => {
      val real = BinaryOps.stubCodec()
      bytes =>
        if (bytes.nonEmpty && bytes(0) == 'X'.toByte)
          throw new RuntimeException("corrupt payload")
        else real(bytes)
    }
    val docs = Seq((1L, "normal payload"), (2L, "X corrupt"), (3L, "another fine one"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .coalesce(1) // same partition as the poison row
    val out = BinaryOps.decodeWith(docs, "doc_id", col("payload"))(poisonFactory)
      .collect().map(d => d.id -> d).toMap
    assert(out.size == 3)
    assert(!out(2L).decode_ok && out(2L).format == "error")
    assert(out(1L).decode_ok && out(3L).decode_ok)
  }

  test("frameSample keeps every Nth frame with exact slices") {
    // 10 bytes, 3-byte frames -> frames 0..3 at starts 1,4,7,10;
    // everyNth=2 keeps frames 0 and 2
    val one = Seq((7L, "abcdefghij")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val f = BinaryOps.frameSample(one, "doc_id", col("payload"), 3, 2)
      .orderBy("frame_idx")
      .select(col("frame_idx"), col("frame").cast("string"), col("frame_bytes"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(f.toSeq == Seq((0L, "abc", 3L), (2L, "ghi", 3L)))

    // everyNth=1 == chunks coverage; tail frame is short
    val all = BinaryOps.frameSample(one, "doc_id", col("payload"), 3, 1)
      .orderBy("frame_idx").select(col("frame").cast("string"))
      .collect().map(_.getString(0))
    assert(all.toSeq == Seq("abc", "def", "ghi", "j"))
  }

  test("featureStub embeddings are deterministic and feed the ANN pipeline") {
    val emb = BinaryOps.featureStub(payloads, "doc_id", col("payload"), 8).cache()
    assert(emb.filter(size(col("embedding")) =!= 8).count() == 0)
    // bounded in [-1, 1], deterministic across evaluations
    assert(emb.select(explode(col("embedding")).as("v"))
      .filter(abs(col("v")) > 1.0).count() == 0)
    val a = emb.orderBy("doc_id").limit(5).collect().map(_.getSeq[Double](1))
    val b = BinaryOps.featureStub(payloads, "doc_id", col("payload"), 8)
      .orderBy("doc_id").limit(5).collect().map(_.getSeq[Double](1))
    assert(a.toSeq == b.toSeq)
    // composes with the similarity ops: quantized self-dot is exact
    val n = emb.select(graft.ml.Similarity.dotQ(
        graft.ml.Similarity.quantize(col("embedding")),
        graft.ml.Similarity.quantize(col("embedding"))).as("q"))
      .agg(min("q"), max("q")).head()
    assert(n.getLong(0) >= 0L && n.getLong(1) <= 8L * 1000L * 1000L)
    emb.unpersist()
  }

  test("resizeSpec caps the longest side, keeps aspect, never upscales") {
    val m = Seq((1L, 4000L, 2000L), (2L, 300L, 200L), (3L, 512L, 512L),
      (4L, 100L, 4096L), (5L, 4096L, 1L))
      .toDF("doc_id", "width", "height")
    val r = BinaryOps.resizeSpec(m, 512).orderBy("doc_id")
      .select("target_width", "target_height")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((512L, 256L), (300L, 200L), (512L, 512L),
      (12L, 512L), (512L, 1L)))
  }

  test("imageIoCodec decodes REAL PNG dimensions; corrupt bytes fail captured") {
    val imgs = BinaryOps.syntheticPngs(
      Seq((1L, 40, 25), (2L, 17, 63)).toDF("doc_id", "w", "h"),
      "doc_id", col("w"), col("h"))
    // the payloads are genuine PNGs (magic bytes) of the asked-for size
    assert(imgs.filter(upper(hex(substring(col("payload"), 1, 4)))
      =!= "89504E47").count() == 0)
    val corpus = imgs.unionByName(
      Seq((3L, "not an image at all".getBytes("UTF-8")))
        .toDF("doc_id", "payload"))
    val got = BinaryOps.decodeWith(corpus, "doc_id", col("payload"))(
        BinaryOps.imageIoCodec _)
      .collect().map(d => (d.id, d.width, d.height, d.format, d.decode_ok))
      .toSet
    assert(got == Set(
      (1L, 40L, 25L, "png", true),
      (2L, 17L, 63L, "png", true),
      (3L, 0L, 0L, "unknown", false)))
    // determinism: the same id renders the same bytes
    val h1 = imgs.select(md5(col("payload"))).collect().map(_.getString(0)).sorted
    val h2 = BinaryOps.syntheticPngs(
        Seq((1L, 40, 25), (2L, 17, 63)).toDF("doc_id", "w", "h"),
        "doc_id", col("w"), col("h"))
      .select(md5(col("payload"))).collect().map(_.getString(0)).sorted
    assert(h1.toSeq == h2.toSeq)
  }

  test("resizeImages: real pixel work lands exactly on the resizeSpec box") {
    // downscale wide, downscale tall, no-upscale, corrupt
    val imgs = BinaryOps.syntheticPngs(
      Seq((1L, 100, 40), (2L, 30, 90), (3L, 20, 10)).toDF("doc_id", "w", "h"),
      "doc_id", col("w"), col("h"))
      .unionByName(Seq((4L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload"))
    val rs = BinaryOps.resizeImages(imgs, "doc_id", col("payload"), maxDim = 64)
    val boxes = rs.collect()
      .map(r => (r.id, r.width, r.height, r.target_width, r.target_height,
        r.decode_ok)).toSet
    assert(boxes == Set(
      (1L, 100L, 40L, 64L, 25L, true), // floor(40*64/100) = 25
      (2L, 30L, 90L, 21L, 64L, true),  // floor(30*64/90) = 21
      (3L, 20L, 10L, 20L, 10L, true),  // already inside the box
      (4L, 0L, 0L, 0L, 0L, false)))
    // the box arithmetic IS resizeSpec's (one rule, two executors)
    val spec = BinaryOps.resizeSpec(
        Seq((1L, 100L, 40L), (2L, 30L, 90L), (3L, 20L, 10L))
          .toDF("doc_id", "width", "height"), 64)
      .select("doc_id", "target_width", "target_height")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spec == boxes.filter(_._6).map(b => (b._1, b._4, b._5)))
    // RE-DECODING the resized bytes recovers the target box: the pixels
    // were actually rescaled, not just planned
    val redec = BinaryOps.decodeWith(
        rs.toDF().filter(col("decode_ok")), "id", col("png"))(
        BinaryOps.imageIoCodec _)
      .collect().map(d => (d.id, d.width, d.height)).toSet
    assert(redec == Set((1L, 64L, 25L), (2L, 21L, 64L), (3L, 20L, 10L)))
  }
}
