package graft.mm

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal / binary-column operators (builder brief §multimodal;
  * SURVEY §1.2-1.3 binary payload discipline).
  *
  * Images / audio / video ride as opaque `BinaryType` payload columns
  * with TYPED metadata columns alongside — the same two-tier design the
  * copy path uses for documents (opaque bytes + extracted key). The
  * reference round-trips BSON binary subtypes 1-4 as opaque bytes
  * (sim.go:322-331, bson_reader_test.go:22-24); here the payload gets
  * first-class Spark operators: metadata extraction, content-hash dedup,
  * fixed-size chunking (the frame/sample shape for media), and a decode
  * stage.
  *
  * Everything is expression-only (codegen'd, no UDFs): hashing, byte
  * slicing, and chunk explosion all run inside whole-stage codegen, and
  * per-doc work is narrow — no shuffle until an explicit aggregation.
  */
object BinaryOps {

  /** Attach typed metadata to a binary payload: byte length, md5 content
    * hash, magic-bytes prefix (format sniffing — e.g. x89504E47 = PNG),
    * and the fixed-size chunk count. */
  def withMetadata(df: DataFrame, bin: Column, chunkBytes: Int = 256): DataFrame =
    df.withColumn("n_bytes", length(bin).cast("long"))
      .withColumn("content_hash", md5(bin))
      .withColumn("magic_hex", upper(hex(substring(bin, 1, 4))))
      .withColumn("n_chunks",
        ceil(length(bin).cast("double") / chunkBytes).cast("long"))

  /** Exact dedup over binary content — one map-side-combined hash
    * aggregate, the binary twin of [[graft.text.Dedup.exact]]. */
  def contentDedup(df: DataFrame, idCol: String, bin: Column): DataFrame =
    df.groupBy(md5(bin).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Fixed-size chunking: one row per `chunkBytes` slice with its
    * 0-based sequence number and md5 — the frame-sampling / rolling-hash
    * shape for media payloads (and the unit of chunk-level dedup).
    * Pure per-row explosion: |output| = Σ ceil(bytes/chunkBytes), no
    * shuffle, arbitrarily wide payloads never skew a partition beyond
    * their own chunk count. */
  def chunks(df: DataFrame, idCol: String, bin: Column,
      chunkBytes: Int = 256): DataFrame = {
    df.select(col(idCol), bin.as("__bin"))
      .select(col(idCol), posexplode(transform(starts_of(col("__bin"), chunkBytes),
        st => md5(col("__bin").substr(st, lit(chunkBytes))))))
      .withColumnRenamed("pos", "chunk_seq")
      .withColumnRenamed("col", "chunk_md5")
  }

  private def starts_of(bin: Column, chunkBytes: Int): Column =
    sequence(lit(1L), greatest(length(bin).cast("long"), lit(1L)), lit(chunkBytes.toLong))

  /** Content-defined chunk boundaries (native one-pass expression,
    * [[graft.functions.CdcBoundaries]]): 1-based positions `i` where
    * the md5 of the `window` bytes ending at `i` has `maskHexChars`
    * leading zero hex digits. Boundaries are a pure function of LOCAL
    * content, so they re-synchronize after an insertion/deletion —
    * a shifted copy shares every chunk past the first boundary, where
    * fixed-width chunking ([[chunks]]) shares nothing. Expected chunk
    * size is 16^maskHexChars bytes. */
  def cdcBoundariesCol(bin: Column, window: Int = 8,
      maskHexChars: Int = 1): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      graft.functions.CdcBoundaries(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(bin),
        window, maskHexChars))

  /** Content-defined chunking: one row per chunk between consecutive
    * boundaries (final cut at the payload end). Output: (idCol,
    * chunk_idx, chunk_md5, chunk_len). Narrow per-row expansion —
    * |output| = Σ per-doc chunk counts, no shuffle; feed the result to
    * a [[contentDedup]]-style aggregate for chunk-level dedup that
    * survives byte insertions. */
  def cdcChunks(df: DataFrame, idCol: String, bin: Column, window: Int = 8,
      maskHexChars: Int = 1): DataFrame = {
    val pl = col("__pl")
    val cuts = array_distinct(concat(
      cdcBoundariesCol(pl, window, maskHexChars), array(length(pl))))
    val starts = concat(array(lit(0)),
      slice(cuts, lit(1), greatest(size(cuts) - 1, lit(0))))
    df.filter(bin.isNotNull && length(bin) > 0)
      .select(col(idCol), bin.as("__pl"))
      .select(col(idCol), pl,
        posexplode(arrays_zip(starts.as("lo"), cuts.as("hi")))
          .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx"),
        md5(pl.substr(col("__c.lo") + 1, col("__c.hi") - col("__c.lo")))
          .as("chunk_md5"),
        (col("__c.hi") - col("__c.lo")).cast("long").as("chunk_len"))
  }

  /** Frame sampling: treat the payload as consecutive `frameBytes`
    * frames and keep every `everyNth` one (frame 0, N, 2N, ...) — the
    * video keyframe-sampling shape: a 2-hour clip contributes
    * frames/N rows, deterministically, with no decode. Output: one row
    * per SAMPLED frame with its 0-based index, byte slice, md5 and
    * actual length (the tail frame may be short). Narrow per-row
    * explosion, |output| = Σ ceil(frames/N) — no shuffle. */
  def frameSample(df: DataFrame, idCol: String, bin: Column,
      frameBytes: Int = 4096, everyNth: Int = 1): DataFrame = {
    require(frameBytes >= 1 && everyNth >= 1, "frameBytes and everyNth must be >= 1")
    df.select(col(idCol), bin.as("__bin"))
      .select(col(idCol), col("__bin"),
        posexplode(starts_of(col("__bin"), frameBytes)).as(Seq("__pos", "__start")))
      .filter(col("__pos") % everyNth === 0)
      .select(col(idCol), col("__pos").cast("long").as("frame_idx"),
        col("__bin").substr(col("__start"), lit(frameBytes)).as("frame"))
      .withColumn("frame_md5", md5(col("frame")))
      .withColumn("frame_bytes", length(col("frame")).cast("long"))
  }

  /** Feature extraction (STUB): a deterministic `dims`-dimension
    * embedding derived from the payload's md5 — each coordinate is an
    * exact integer in [-1000, 1000] divided by 1000.0, so any engine
    * that repeats the arithmetic (and any oracle) reproduces the
    * doubles bit-for-bit. The REAL extractor (CLIP/wav2vec/...) plugs
    * into [[decodeWith]]'s once-per-partition codec seam and emits the
    * same `array<double>` column; everything downstream — quantize,
    * ANN, near-dup — is the [[graft.ml.Similarity]] pipeline unchanged.
    * `dims` ≤ 8 draws from one md5 (4 hex digits per coordinate). */
  def featureStub(df: DataFrame, idCol: String, bin: Column,
      dims: Int = 8): DataFrame = {
    require(dims >= 1 && dims <= 8, "stub features draw from one md5: 1..8 dims")
    // bind the digest BEFORE the per-dimension lambda (re-eval trap)
    df.select(col(idCol), md5(bin).as("__h"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dims - 1)), j =>
          (conv(col("__h").substr(j * 4 + 1, lit(4)), 16, 10).cast("long") % 2001
            - 1000).cast("double") / 1000.0).as("embedding"))
  }

  /** Resize planning: the target box for a decoded payload, longest
    * side capped at `maxDim`, aspect ratio preserved, never upscaled —
    * pure integer arithmetic over [[decodeStub]]/[[decodeWith]] output
    * (`width`/`height` columns), so the plan is engine-agnostic and the
    * actual pixel work stays inside the codec seam. */
  def resizeSpec(df: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim >= 1, "maxDim must be >= 1")
    val w = col("width")
    val h = col("height")
    val long = greatest(w, h)
    val short = least(w, h)
    val scaledShort = greatest(lit(1L), floor(short * maxDim / long).cast("long"))
    df.withColumn("target_width",
        when(long <= maxDim, w)
          .otherwise(when(w >= h, lit(maxDim.toLong)).otherwise(scaledShort)))
      .withColumn("target_height",
        when(long <= maxDim, h)
          .otherwise(when(h > w, lit(maxDim.toLong)).otherwise(scaledShort)))
  }

  /** Decode / feature-extract stage (declarative STUB variant).
    *
    * The decode here is a clearly-marked deterministic fake —
    * width/height/format derived from the payload hash and magic
    * bytes, useful for metadata-only plans over NON-media payloads.
    * REAL images go through the same seam with [[imageIoCodec]]
    * (JDK `javax.imageio` — actual pixel dimensions) and
    * [[resizeImages]] (actual pixel work); audio/video codecs, which
    * the JDK does not ship, plug a library into [[decodeWith]]'s
    * factory (or `mapInPandas` + PIL/ffmpeg on the Python surface)
    * with the same output schema (id, width, height, format,
    * decode_ok) and the same narrow per-row shape — NOTHING
    * downstream changes. */
  def decodeStub(df: DataFrame, idCol: String, bin: Column): DataFrame = {
    val h = md5(bin)
    df.select(
      col(idCol),
      (conv(substring(h, 1, 4), 16, 10).cast("long") % 4096 + 1).as("width"),
      (conv(substring(h, 5, 4), 16, 10).cast("long") % 4096 + 1).as("height"),
      when(upper(hex(substring(bin, 1, 4))) === "89504E47", "png")
        .when(upper(hex(substring(bin, 1, 3))) === "FFD8FF", "jpeg")
        .otherwise("raw").as("format"),
      (length(bin) > 0).as("decode_ok"))
  }

  /** One decoded payload — the row shape every codec produces. */
  final case class Decoded(id: Long, width: Long, height: Long,
      format: String, decode_ok: Boolean)

  /** Imperative codec stage — the JVM twin of a `mapInPandas` + PIL
    * pipeline: a typed `mapPartitions` whose `codecFactory` runs ONCE
    * per partition (this is the load-bearing part of the batch shape —
    * real codecs pay native-library / model-weights init that must
    * amortize over a partition, never per row), and whose per-row
    * decode failures are CAPTURED as `decode_ok = false` rows rather
    * than thrown (one corrupt payload in 100 TB must not kill the
    * stage). Plan stays narrow: no shuffle, partitioning preserved.
    *
    * The expression stub [[decodeStub]] is the declarative fast path
    * for metadata-only decodes; this is the seam a REAL codec plugs
    * into — swap `codecFactory` and nothing downstream changes.
    * [[stubCodec]] (deterministic, library-free) pins the plumbing. */
  def decodeWith(df: DataFrame, idCol: String, bin: Column)
      (codecFactory: () => Array[Byte] => Decoded): Dataset[Decoded] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), bin.cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val decode = codecFactory() // once per partition, by construction
        it.map { case (id, bytes) =>
          try {
            val d = decode(if (bytes == null) Array.emptyByteArray else bytes)
            d.copy(id = id)
          } catch {
            case scala.util.control.NonFatal(_) =>
              Decoded(id, 0L, 0L, "error", decode_ok = false)
          }
        }
      }
  }

  /** The deterministic stand-in codec (for payloads that are NOT real
    * media — this fixture's text-as-binary columns): md5-derived
    * dimensions + magic-bytes format, exactly [[decodeStub]]'s
    * arithmetic — BinaryOpsSpec pins the two equal. Real images take
    * [[imageIoCodec]] through the same seam. */
  def stubCodec(): Array[Byte] => Decoded = {
    val md = java.security.MessageDigest.getInstance("MD5")
    bytes => {
      md.reset()
      val h = md.digest(bytes).map("%02x".format(_)).mkString
      val magic = bytes.take(4).map("%02X".format(_)).mkString
      val fmt =
        if (magic == "89504E47") "png"
        else if (magic.startsWith("FFD8FF")) "jpeg"
        else "raw"
      Decoded(0L,
        java.lang.Long.parseLong(h.substring(0, 4), 16) % 4096 + 1,
        java.lang.Long.parseLong(h.substring(4, 8), 16) % 4096 + 1,
        fmt, bytes.nonEmpty)
    }
  }

  /** REAL image codec over `javax.imageio` (ships in the JDK — PNG,
    * JPEG, GIF, BMP readers; no external dependency): actual pixel
    * dimensions and the reader's format name, through exactly the
    * [[decodeWith]] seam the stub uses — nothing downstream changes.
    * Reads the HEADER only (`ImageReader.getWidth/getHeight` parse
    * metadata without decoding pixels — the right cost for a
    * dimensions pass over 100 TB of images; full pixel decode is
    * [[resizeImages]]'s job). Unreadable payloads come back
    * `decode_ok = false` ("unknown" format) rather than throwing —
    * the corrupt-payload contract of the seam. */
  def imageIoCodec(): Array[Byte] => Decoded = bytes => {
    if (bytes.isEmpty) Decoded(0L, 0L, 0L, "unknown", decode_ok = false)
    else {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Decoded(0L, 0L, 0L, "unknown", decode_ok = false)
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            Decoded(0L, r.getWidth(0).toLong, r.getHeight(0).toLong,
              r.getFormatName.toLowerCase(java.util.Locale.ROOT),
              decode_ok = true)
          } finally r.dispose()
        }
      } finally iis.close()
    }
  }

  /** One resized image — [[resizeImages]]'s row shape: source pixel
    * dimensions, the [[resizeSpec]] target box, and the re-encoded
    * PNG payload. */
  final case class Resized(id: Long, width: Long, height: Long,
      target_width: Long, target_height: Long, png: Array[Byte],
      decode_ok: Boolean)

  /** REAL image resize over `javax.imageio` + `Graphics2D` (JDK-only):
    * full pixel decode, the SAME integer box arithmetic as
    * [[resizeSpec]] (longest side capped at `maxDim`, aspect
    * preserved, never upscaled), bilinear scale, PNG re-encode. The
    * imperative twin of the declarative plan: `resizeSpec` plans the
    * box from metadata; this executes it on pixels. Same
    * `mapPartitions` batch shape as [[decodeWith]] — narrow, no
    * shuffle, per-row failures captured as `decode_ok = false` (one
    * corrupt image in 100 TB must not kill the stage). */
  def resizeImages(df: DataFrame, idCol: String, bin: Column,
      maxDim: Int): Dataset[Resized] = {
    require(maxDim >= 1, "maxDim must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), bin.cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(
                if (bytes == null) Array.emptyByteArray else bytes))
            if (img == null)
              Resized(id, 0L, 0L, 0L, 0L, Array.emptyByteArray,
                decode_ok = false)
            else {
              val w = img.getWidth.toLong
              val h = img.getHeight.toLong
              val longSide = math.max(w, h)
              val (tw, th) =
                if (longSide <= maxDim) (w, h)
                else {
                  val short = math.min(w, h)
                  val scaledShort =
                    math.max(1L, short * maxDim / longSide) // floor div
                  if (w >= h) (maxDim.toLong, scaledShort)
                  else (scaledShort, maxDim.toLong)
                }
              val out = new java.awt.image.BufferedImage(tw.toInt, th.toInt,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              try {
                g.setRenderingHint(
                  java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, tw.toInt, th.toInt, null): Unit
              } finally g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos): Unit
              Resized(id, w, h, tw, th, bos.toByteArray, decode_ok = true)
            }
          } catch {
            case scala.util.control.NonFatal(_) =>
              Resized(id, 0L, 0L, 0L, 0L, Array.emptyByteArray,
                decode_ok = false)
          }
        }
      }
  }

  /** Deterministic synthetic PNGs — REAL encoded images whose pixel
    * pattern is a pure function of (id, x, y): the fixture generator
    * for the real-codec operators (an oracle can recompute the
    * DIMENSIONS arithmetically while the engine must actually decode
    * the bytes to recover them). `widthCol`/`heightCol` are evaluated
    * per row; output is (idCol, payload). Narrow mapPartitions, same
    * batch shape as the codecs. */
  def syntheticPngs(df: DataFrame, idCol: String, widthCol: Column,
      heightCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), widthCol.cast("int"),
        heightCol.cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions { it =>
        it.map { case (id, w, h) =>
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y,
                (((x * 31 + y * 17 + id) % 0x1000000) & 0xffffff).toInt)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos): Unit
          (id, bos.toByteArray)
        }
      }
      .toDF(idCol, "payload")
  }
}
