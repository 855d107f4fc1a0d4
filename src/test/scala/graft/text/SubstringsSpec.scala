package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SubstringsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // -- exact path ----------------------------------------------------------

  test("dupSpans marks the full shared region regardless of alignment") {
    val shared = "0123456789abcdefghijklmnopqrstuvwxyz" // 36 chars
    val df = corpus(
      1L -> s"AAAA${shared}BBBBBBBB",
      2L -> s"NOPQRSTUVWX${shared}YY")
    val spans = Substrings.dupSpans(df, "doc_id", col("text"), k = 10)
      .orderBy("doc_id").collect()
    // doc 1: shared at chars 5..40; doc 2: at 12..47 — exactly the region
    assert(spans.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 5L, 40L), (2L, 12L, 47L)))
  }

  test("dupSpans ignores repeats shorter than k and catches within-doc repeats") {
    val run = "qwertyuiopasdfgh" // 16 chars, repeated within doc 1
    val df = corpus(
      1L -> s"${run}-1234-${run}",
      2L -> "completely distinct text with shrt dup") // "shrt dup" < k elsewhere
    val spans = Substrings.dupSpans(df, "doc_id", col("text"), k = 12)
      .orderBy("doc_id", "span_start").collect()
    assert(spans.forall(_.getLong(0) == 1L))
    assert(spans.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 16L), (23L, 38L)))
  }

  test("dupSpans merges overlapping and adjacent gram spans into maximal runs") {
    // one long shared run → every k-gram inside duplicates → ONE span
    val shared = "a1b2c3d4e5f6g7h8i9j0" * 3 // 60 chars
    val df = corpus(1L -> s"xx${shared}xx".replace("x", "L"),
      2L -> s"rrrrr${shared}")
    val spans = Substrings.dupSpans(df, "doc_id", col("text"), k = 8)
    assert(spans.filter($"doc_id" === 2L).count() == 1)
  }

  test("gramRows native expression == declarative twin") {
    val df = spark.read.parquet(s"$sf0001/documents.parquet").limit(60)
    val a = Substrings.gramRows(df, "doc_id", col("text"), k = 17)
    val b = Substrings.gramRowsDeclarative(df, "doc_id", col("text"), k = 17)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // and the cap truncates identically
    val ac = Substrings.gramRows(df, "doc_id", col("text"), 17, maxChars = 100)
    val bc = Substrings.gramRowsDeclarative(df, "doc_id", col("text"), 17, maxChars = 100)
    assert(ac.exceptAll(bc).isEmpty && bc.exceptAll(ac).isEmpty)
  }

  test("dupStats removal: clean hash drops exactly the spans; clean docs intact") {
    val shared = "0123456789abcdefghijklmnopqrstuvwxyz"
    val df = corpus(
      1L -> s"AAAA${shared}BBBBBBBB",
      2L -> s"NOPQRSTUVWX${shared}YY",
      3L -> "untouched document with no duplicate content at all")
    val st = Substrings.dupStats(df, "doc_id", col("text"), k = 10)
      .orderBy("doc_id").collect()
    val md5hex = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(st(0).getAs[String]("clean_md5") == md5hex("AAAABBBBBBBB"))
    assert(st(1).getAs[String]("clean_md5") == md5hex("NOPQRSTUVWXYY"))
    assert(st(2).getAs[String]("clean_md5") == md5hex(
      "untouched document with no duplicate content at all"))
    assert(st(0).getAs[Long]("dup_chars") == 36L)
    assert(st(2).getAs[Long]("dup_chars") == 0L &&
      st(2).getAs[Long]("n_spans") == 0L)
    // dup_permille is integer floor(1000*dup/n)
    assert(st(0).getAs[Long]("dup_permille") == 1000L * 36 / st(0).getAs[Long]("n_chars"))
  }

  // -- winnowing -----------------------------------------------------------

  test("winnowRows native deque == declarative nearest-smaller-rank twin") {
    val df = spark.read.parquet(s"$sf0001/documents.parquet").limit(80)
    val a = Substrings.winnowRows(df, "doc_id", col("text"), k = 12, guarantee = 30)
    val b = TextOracles.winnowRowsDeclarative(df, "doc_id", col("text"), 12, 30)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() > 0)
  }

  test("winnow guarantee: docs sharing >= guarantee chars share an anchor") {
    // plant a 64-char shared run at wildly different offsets in pairs of
    // otherwise-random docs; every pair must share a selected gram hash
    val rnd = new scala.util.Random(7)
    def junk(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = (0 until 4).map(_ => junk(64))
    val rows = shared.zipWithIndex.flatMap { case (s, i) =>
      Seq((i * 2L, junk(rnd.nextInt(90)) + s + junk(rnd.nextInt(90))),
        (i * 2L + 1, junk(rnd.nextInt(90)) + s + junk(rnd.nextInt(90))))
    }
    val w = Substrings.winnowRows(rows.toDF("doc_id", "text"), "doc_id",
      col("text"), k = 20, guarantee = 64)
    // a hash selected by BOTH docs of a pair marks that pair covered
    val sel = w.collect().map(r => (r.getLong(0), r.getString(2)))
    val covered = (0 until 4).map { p =>
      val a = sel.collect { case (id, h) if id == 2L * p => h }.toSet
      val b = sel.collect { case (id, h) if id == 2L * p + 1 => h }.toSet
      (a & b).nonEmpty
    }
    assert(covered.forall(identity), s"uncovered pairs: $covered")
  }

  test("winnow density is ~2/(G+1) and short docs still fingerprint") {
    val df = spark.read.parquet(s"$sf0001/documents.parquet")
    val k = 40; val guarantee = 64 // G = 25
    val w = Substrings.winnowRows(df, "doc_id", col("text"), k, guarantee)
    val g = Substrings.gramRows(df, "doc_id", col("text"), k)
    val density = w.count().toDouble / g.count()
    assert(density > 0.04 && density < 0.12, s"density $density")
    // every doc with >= k chars selects at least one anchor
    val docsWithGrams = g.select("doc_id").distinct().count()
    assert(w.select("doc_id").distinct().count() == docsWithGrams)
  }

  test("anchorSpans is a subset of dupSpans coverage; eval reports sane numbers") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
    val planted = base.filter($"doc_id" % 7 === 0 && length($"text") >= 240)
      .select(($"doc_id" + 400000).as("doc_id"),
        concat(lit("COPY:"), $"doc_id".cast("string"), lit(" "),
          expr("substring(text, 31, 170)")).as("text"))
    val df = base.select($"doc_id", $"text").unionAll(planted)
    val ev = Substrings.coverageEval(df, "doc_id", col("text"), k = 40,
      guarantee = 64).collect()(0)
    assert(ev.getAs[Long]("exact_chars") > 0)
    assert(ev.getAs[Long]("overlap_chars") <= ev.getAs[Long]("exact_chars"))
    assert(ev.getAs[Long]("anchor_chars") <= ev.getAs[Long]("exact_chars"))
    val pm = ev.getAs[Long]("covered_permille")
    assert(pm > 0 && pm <= 1000, s"covered_permille $pm")
  }

  // -- staged census index --------------------------------------------------

  test("newDupSpans against a staged census == batch rule computed directly") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
    val ref = base.filter($"doc_id" % 3 =!= 1)
    val batch = base.filter($"doc_id" % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("gramidx").toString
    Substrings.stageGramCensus(ref, "doc_id", col("text"), k = 40, dir = dir)
    val staged = Substrings.newDupSpans(batch, "doc_id", col("text"), dir)

    // direct formulation of the same rule: batch gram dups against
    // (reference grams ∪ batch grams occurring > 1)
    val bg = Substrings.gramRows(batch, "doc_id", col("text"), 40)
    val refH = Substrings.gramRows(ref, "doc_id", col("text"), 40)
      .select("h").distinct()
    val dupH = bg.groupBy("h").count().filter($"count" > 1).select("h")
      .unionByName(bg.select("h").join(refH, Seq("h"), "left_semi"))
      .distinct()
    val direct = Substrings.mergeSpans(
      bg.join(dupH, "h").select(col("doc_id"), col("p"))
        .withColumn("e", col("p") + 39), "doc_id")
    assert(staged.exceptAll(direct).isEmpty && direct.exceptAll(staged).isEmpty)
    assert(staged.count() > 0)
  }

  test("census bucket scaling: buckets=0 auto-sizes at stage; rebucket is probe-invisible and contract-refreshing") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
    val ref = base.filter($"doc_id" % 3 =!= 1)
    val batch = base.filter($"doc_id" % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("gramauto").toString
    // auto-sizing: a tiny corpus floors at censusBuckets' minimum
    Substrings.stageAnchorCensus(ref, "doc_id", col("text"), k = 40,
      guarantee = 64, dir = dir, buckets = 0)
    val mf0 = graft.util.IndexManifest.read(spark, dir)
    assert(mf0.paramInt("buckets") == Substrings.censusBuckets(1.0))
    assert(mf0.paramInt("buckets") == 16) // the floor, at this corpus size
    val want = Substrings.newAnchorSpans(batch, "doc_id", col("text"), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(want.nonEmpty)
    // rebucket to a finer count (perBucket=1 forces growth to the cap
    // parameter): probe results identical, manifest + stats carry the
    // new contract, n_grams preserved
    val before = graft.util.IndexManifest.read(spark, dir)
      .counts("n_grams")
    val nb = Substrings.rebucketCensus(spark, dir, perBucket = 1L, cap = 128)
    assert(nb == 128)
    val mf1 = graft.util.IndexManifest.read(spark, dir)
    assert(mf1.paramInt("buckets") == 128 && mf1.counts("n_grams") == before)
    val st = spark.read.parquet(s"$dir/stats").collect()(0)
    assert(st.getLong(1) == 128L && st.getLong(2) == before)
    assert(Substrings.newAnchorSpans(batch, "doc_id", col("text"), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq == want)
    // appends keep working under the refreshed bucketing, and a
    // rebucket to the already-right count is a no-op
    Substrings.appendAnchorCensus(
      batch.select(($"doc_id" + 700000L).as("doc_id"), $"text"),
      "doc_id", col("text"), dir)
    assert(Substrings.rebucketCensus(spark, dir, perBucket = 1L,
      cap = 128) == 128)
    // the guarantee rule still answers identically after append+rebucket
    assert(Substrings.newAnchorSpans(batch, "doc_id", col("text"), dir)
      .count() >= want.size)
  }

  test("anchored staged census: probe == direct anchor rule; append == restage; modes never mix") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
    val ref = base.filter($"doc_id" % 3 =!= 1)
    val batch = base.filter($"doc_id" % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("anchidx").toString
    Substrings.stageAnchorCensus(ref, "doc_id", col("text"),
      k = 40, guarantee = 64, dir = dir)
    val staged = Substrings.newAnchorSpans(batch, "doc_id", col("text"), dir)
    // direct formulation over winnow rows on both sides
    val bw = Substrings.winnowRows(batch, "doc_id", col("text"), 40, 64)
    val refH = Substrings.winnowRows(ref, "doc_id", col("text"), 40, 64)
      .select("h").distinct()
    val dupH = bw.groupBy("h").count().filter($"count" > 1).select("h")
      .unionByName(bw.select("h").join(refH, Seq("h"), "left_semi"))
      .distinct()
    val direct = Substrings.mergeSpans(
      bw.join(dupH, "h").select(col("doc_id"), col("p"))
        .withColumn("e", col("p") + 39), "doc_id")
    assert(staged.exceptAll(direct).isEmpty && direct.exceptAll(staged).isEmpty)
    assert(staged.count() > 0)
    // anchored append == anchored restage, probed
    val dirInc = java.nio.file.Files.createTempDirectory("anchidx_inc").toString
    val r1 = ref.filter($"doc_id" % 2 === 0)
    val r2 = ref.filter($"doc_id" % 2 === 1)
    Substrings.stageAnchorCensus(r1, "doc_id", col("text"),
      k = 40, guarantee = 64, dir = dirInc)
    Substrings.appendAnchorCensus(r2, "doc_id", col("text"), dirInc)
    val viaInc = Substrings.newAnchorSpans(batch, "doc_id", col("text"), dirInc)
    assert(viaInc.exceptAll(staged).isEmpty && staged.exceptAll(viaInc).isEmpty)
    // census disciplines never silently mix: exact probe on an anchored
    // index (and the reverse) refuse by mode
    intercept[IllegalArgumentException] {
      Substrings.newDupSpans(batch, "doc_id", col("text"), dir)
    }
    val dirEx = java.nio.file.Files.createTempDirectory("examidx").toString
    Substrings.stageGramCensus(ref.limit(20), "doc_id", col("text"),
      k = 40, dir = dirEx)
    intercept[IllegalArgumentException] {
      Substrings.newAnchorSpans(batch, "doc_id", col("text"), dirEx)
    }
    intercept[IllegalArgumentException] {
      Substrings.appendAnchorCensus(batch, "doc_id", col("text"), dirEx)
    }
  }

  test("winnow window guarantee holds under BOTH rank hashes (ScalaCheck property)") {
    // the rank hash (md5 | xxh64) changes WHICH anchors winnowing
    // selects, but never the guarantee: any two docs sharing a run of
    // >= guarantee chars select at least one common gram. Property-
    // checked on the expression directly (driver-side, no Spark jobs),
    // junk alphabet includes multibyte chars so the non-ASCII gram path
    // is exercised too.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val k = 20; val guarantee = 64
    val alpha = "abcdefghijklmnopqrstuvwxyz éñ中".toSeq
    def str(n: Gen[Int]): Gen[String] =
      n.flatMap(m => Gen.listOfN(m, Gen.oneOf(alpha)).map(_.mkString))
    val junk = str(Gen.choose(0, 150))
    val shared = str(Gen.const(guarantee))
    def anchors(text: String, xx: Boolean): Set[Any] = {
      val lit = Literal(UTF8String.fromString(text), StringType)
      val arr = (if (xx) graft.functions.WinnowAnchors64(lit, k, guarantee)
        else graft.functions.WinnowAnchors(lit, k, guarantee))
        .eval(null).asInstanceOf[ArrayData]
      (0 until arr.numElements()).map { i =>
        val row = arr.getStruct(i, 2)
        if (xx) row.getLong(1) else row.getUTF8String(1).toString
      }.toSet
    }
    val prop = Prop.forAll(junk, junk, junk, junk, shared) { (a, b, c, d, s) =>
      Seq(false, true).forall { xx =>
        (anchors(a + s + b, xx) & anchors(c + s + d, xx)).nonEmpty
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(150), prop)
    assert(res.passed, res.status.toString)
  }

  test("gram expressions: count and values hold on random unicode incl. supplementary codepoints (property)") {
    // both gram expressions must count CODEPOINTS (not UTF-16 chars or
    // bytes): emit exactly max(0, cp - k + 1) grams, each hashing the
    // codepoint substring — pinned against a plain-Scala recompute over
    // an alphabet that forces 2-, 3-, and 4-byte UTF-8 (ω, 中) and a
    // surrogate PAIR (𝄞, U+1D11E)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val k = 5
    val alphabet = Seq("a", "b", " ", "ω", "中", new String(Character.toChars(0x1D11E)))
    val strGen = Gen.choose(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val prop = Prop.forAll(strGen) { s =>
      val cps = s.codePointCount(0, s.length)
      val expect = math.max(0, cps - k + 1)
      val lit = Literal(UTF8String.fromString(s), StringType)
      val md = graft.functions.GramMd5s(lit, k).eval(null)
        .asInstanceOf[ArrayData]
      val xx = graft.functions.GramXxh64s(lit, k).eval(null)
        .asInstanceOf[ArrayData]
      val wantHex = (0 until expect).map { p =>
        val lo = s.offsetByCodePoints(0, p)
        md5hex(s.substring(lo, s.offsetByCodePoints(lo, k)))
      }
      md.numElements() == expect && xx.numElements() == expect &&
        (0 until expect).forall(i => md.getUTF8String(i).toString == wantHex(i))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("winnow coverage: EVERY full window of G positions holds an anchor, both hashes (property)") {
    // the dual of the collision guarantee: winnowing must leave no
    // window of G = guarantee - k + 1 consecutive gram positions
    // unselected — that bound is what caps how long a duplicated run
    // can hide. Checked on the expressions driver-side for both rank
    // hashes over random strings (small alphabet → heavy hash ties,
    // the hardest case for deque/tie logic).
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val k = 4; val guarantee = 12; val G = guarantee - k + 1
    val strGen = Gen.choose(0, 120).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("ab ".toSeq)).map(_.mkString))
    def positions(s: String, xx: Boolean): Seq[Int] = {
      val lit = Literal(UTF8String.fromString(s), StringType)
      val arr = (if (xx) graft.functions.WinnowAnchors64(lit, k, guarantee)
        else graft.functions.WinnowAnchors(lit, k, guarantee))
        .eval(null).asInstanceOf[ArrayData]
      (0 until arr.numElements()).map(i => arr.getStruct(i, 2).getInt(0))
    }
    val prop = Prop.forAll(strGen) { s =>
      val L = s.length - k + 1 // test alphabet is ASCII: chars == codepoints
      Seq(false, true).forall { xx =>
        val pos = positions(s, xx)
        if (L <= 0) pos.isEmpty
        else if (L <= G) pos.size == 1 && pos.head >= 1 && pos.head <= L
        else {
          val set = pos.toSet
          pos == pos.sorted && pos.distinct == pos &&
            pos.forall(p => p >= 1 && p <= L) &&
            // every full window [w, w+G-1] (1-based) holds an anchor
            (1 to (L - G + 1)).forall(w => (w until w + G).exists(set))
        }
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("anchored census with the xxh64 rank hash: manifest param, probe == direct, append == restage") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
    val ref = base.filter($"doc_id" % 3 =!= 1)
    val batch = base.filter($"doc_id" % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("anchidx64").toString
    Substrings.stageAnchorCensus(ref, "doc_id", col("text"),
      k = 40, guarantee = 64, dir = dir, hash = Substrings.HashXxh64)
    val mf = graft.util.IndexManifest.read(spark, dir)
    assert(mf.params("hash") == Substrings.HashXxh64 &&
      mf.params("mode") == "anchored")
    val idx = Substrings.openIndex(spark, dir)
    assert(idx.hash == Substrings.HashXxh64 && idx.guarantee == 64)
    // probe derives the rank hash from the manifest: == the direct
    // anchor rule computed over xxh64 winnow rows on both sides
    val staged = Substrings.newAnchorSpans(batch, "doc_id", col("text"), dir)
    val bw = Substrings.winnowRows(batch, "doc_id", col("text"), 40, 64,
      hash = Substrings.HashXxh64)
    val refH = Substrings.winnowRows(ref, "doc_id", col("text"), 40, 64,
        hash = Substrings.HashXxh64)
      .select("h").distinct()
    val dupH = bw.groupBy("h").count().filter($"count" > 1).select("h")
      .unionByName(bw.select("h").join(refH, Seq("h"), "left_semi"))
      .distinct()
    val direct = Substrings.mergeSpans(
      bw.join(dupH, "h").select(col("doc_id"), col("p"))
        .withColumn("e", col("p") + 39), "doc_id")
    assert(staged.exceptAll(direct).isEmpty && direct.exceptAll(staged).isEmpty)
    assert(staged.count() > 0)
    // append derives the same rank hash: stage half + append half ==
    // stage all, probed
    val dirInc = java.nio.file.Files.createTempDirectory("anchidx64i").toString
    Substrings.stageAnchorCensus(ref.filter($"doc_id" % 2 === 0), "doc_id",
      col("text"), k = 40, guarantee = 64, dir = dirInc,
      hash = Substrings.HashXxh64)
    Substrings.appendAnchorCensus(ref.filter($"doc_id" % 2 === 1), "doc_id",
      col("text"), dirInc)
    val viaInc = Substrings.newAnchorSpans(batch, "doc_id", col("text"), dirInc)
    assert(viaInc.exceptAll(staged).isEmpty && staged.exceptAll(viaInc).isEmpty)
  }

  test("appendGramCensus: stage half + append half == stage all") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull).limit(200)
    val h1 = base.filter($"doc_id" % 2 === 0)
    val h2 = base.filter($"doc_id" % 2 === 1)
    val dirInc = java.nio.file.Files.createTempDirectory("gramidx_inc").toString
    val dirAll = java.nio.file.Files.createTempDirectory("gramidx_all").toString
    Substrings.stageGramCensus(h1, "doc_id", col("text"), k = 30, dir = dirInc)
    Substrings.appendGramCensus(h2, "doc_id", col("text"), dirInc)
    Substrings.stageGramCensus(base, "doc_id", col("text"), k = 30, dir = dirAll)
    // readers sum n per hash — the merged view must equal the restage
    val inc = spark.read.parquet(s"$dirInc/census")
      .groupBy("h").agg(sum("n").as("n"))
    val all = spark.read.parquet(s"$dirAll/census")
      .groupBy("h").agg(sum("n").as("n"))
    assert(inc.exceptAll(all).isEmpty && all.exceptAll(inc).isEmpty)
    // and a probe through the incremental index == through the restage
    val probe = base.limit(30)
    val a = Substrings.newDupSpans(probe, "doc_id", col("text"), dirInc)
    val b = Substrings.newDupSpans(probe, "doc_id", col("text"), dirAll)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("compactCensus: one file per bucket, probe-identical, n_grams refreshed, mode kept") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull).limit(200)
    val ref = base.filter($"doc_id" % 3 =!= 1)
    val batch = base.filter($"doc_id" % 3 === 1)
    def filesPerBucket(dir: String): Map[String, Int] = {
      val root = new java.io.File(s"$dir/census")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bkt="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    // exact census: stage a third, append two slices, compact
    val dir = java.nio.file.Files.createTempDirectory("gramidx_c").toString
    Substrings.stageGramCensus(ref.filter($"doc_id" % 2 === 0), "doc_id",
      col("text"), k = 30, dir = dir, buckets = 8,
      hash = Substrings.HashXxh64)
    Substrings.appendGramCensus(
      ref.filter($"doc_id" % 2 === 1 && $"doc_id" % 4 === 1),
      "doc_id", col("text"), dir)
    Substrings.appendGramCensus(
      ref.filter($"doc_id" % 2 === 1 && $"doc_id" % 4 === 3),
      "doc_id", col("text"), dir)
    val before = Substrings.newDupSpans(batch, "doc_id", col("text"), dir)
      .collect().toSet
    assert(filesPerBucket(dir).values.max > 1, "appends should stack files")
    Substrings.compactCensus(spark, dir)
    assert(filesPerBucket(dir).values.forall(_ == 1),
      s"compaction must leave one file per bucket: ${filesPerBucket(dir)}")
    val after = Substrings.newDupSpans(batch, "doc_id", col("text"), dir)
      .collect().toSet
    assert(after == before && after.nonEmpty)
    // the manifest contract is untouched; n_grams refreshes to the
    // distinct-hash count of the COMPACTED census
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindGramCensus)
    assert(mf.params("hash") == Substrings.HashXxh64 &&
      mf.params("k") == "30" && mf.params("buckets") == "8")
    val distinctH = spark.read.parquet(s"$dir/census").select("h")
      .distinct().count()
    assert(mf.counts("n_grams") == distinctH)
    // census rows actually merged: one row per (bkt, h)
    assert(spark.read.parquet(s"$dir/census").count() == distinctH)
    // anchored census: compaction is mode-agnostic and keeps guarantee
    val dirA = java.nio.file.Files.createTempDirectory("anchidx_c").toString
    Substrings.stageAnchorCensus(ref.filter($"doc_id" % 2 === 0), "doc_id",
      col("text"), k = 30, guarantee = 50, dir = dirA, buckets = 8)
    Substrings.appendAnchorCensus(ref.filter($"doc_id" % 2 === 1), "doc_id",
      col("text"), dirA)
    val beforeA = Substrings.newAnchorSpans(batch, "doc_id", col("text"), dirA)
      .collect().toSet
    Substrings.compactCensus(spark, dirA)
    val afterA = Substrings.newAnchorSpans(batch, "doc_id", col("text"), dirA)
      .collect().toSet
    assert(afterA == beforeA)
    val mfA = graft.util.IndexManifest.read(spark, dirA)
    assert(Substrings.censusMode(mfA) == "anchored" &&
      mfA.params("guarantee") == "50")
  }

  test("openIndex: handle carries the manifest contract; handle probe == dir probe") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull).limit(120)
    val ref = base.filter($"doc_id" % 3 =!= 1)
    val batch = base.filter($"doc_id" % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("gramidx_h").toString
    Substrings.stageGramCensus(ref, "doc_id", col("text"), k = 30, dir = dir,
      buckets = 16, hash = Substrings.HashXxh64)
    val idx = Substrings.openIndex(spark, dir)
    // the handle is the resolved manifest: geometry + discipline + hash
    assert(idx.k == 30 && idx.buckets == 16L &&
      idx.mode == "exact" && idx.hash == Substrings.HashXxh64)
    // probing through the handle == probing through the directory (the
    // dir entry just opens the handle), and the cut surface agrees too
    val viaDir = Substrings.newDupSpans(batch, "doc_id", col("text"), dir)
    val viaIdx = Substrings.newDupSpans(batch, "doc_id", col("text"), idx,
      maxChars = 0, selfDups = true)
    assert(viaDir.exceptAll(viaIdx).isEmpty && viaIdx.exceptAll(viaDir).isEmpty)
    // a handle refuses the wrong discipline exactly like the dir entry
    intercept[IllegalArgumentException] {
      Substrings.newAnchorSpans(batch, "doc_id", col("text"), idx,
        maxChars = 0, selfDups = true)
    }
    // an anchored handle resolves its guarantee
    val dirA = java.nio.file.Files.createTempDirectory("anchidx_h").toString
    Substrings.stageAnchorCensus(ref, "doc_id", col("text"), k = 30,
      guarantee = 50, dir = dirA, buckets = 16)
    val idxA = Substrings.openIndex(spark, dirA)
    assert(idxA.mode == "anchored" && idxA.guarantee == 50 &&
      idxA.hash == Substrings.HashMd5)
  }

  test("gramRows xxh64 native expression == declarative xxhash64 twin") {
    // includes non-ASCII rows so both the byte-slice fast path and the
    // codepoint-substring slow path are exercised
    val df = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
      .select($"doc_id", $"text")
      .unionByName(Seq((900001L, "héllo wörld ünïcode — çafé " * 4),
        (900002L, "日本語テキストの重複検出テスト" * 5)).toDF("doc_id", "text"))
    val k = 17
    val a = Substrings.gramRows(df, "doc_id", col("text"), k,
      hash = Substrings.HashXxh64)
    val b = df.filter($"text".isNotNull && length($"text") >= k)
      .select($"doc_id", explode(sequence(lit(1), length($"text") - (k - 1))).as("p"),
        $"text")
      .select($"doc_id", $"p", xxhash64($"text".substr($"p", lit(k))).as("h"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() > 0)
  }

  test("xxh64 census: stage/append/probe spans == md5 census spans") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"text".isNotNull)
    val ref = base.filter($"doc_id" % 3 =!= 1)
    val batch = base.filter($"doc_id" % 3 === 1)
    val dirMd5 = java.nio.file.Files.createTempDirectory("cen_md5").toString
    val dirX = java.nio.file.Files.createTempDirectory("cen_xxh").toString
    Substrings.stageGramCensus(ref, "doc_id", col("text"), k = 40, dir = dirMd5)
    Substrings.stageGramCensus(ref, "doc_id", col("text"), k = 40, dir = dirX,
      hash = Substrings.HashXxh64)
    // the manifest carries the staged hash; probes derive it from there
    val mf = graft.util.IndexManifest.read(spark, dirX)
    assert(Substrings.censusHash(mf) == Substrings.HashXxh64)
    assert(spark.read.parquet(s"$dirX/census").schema("h").dataType ==
      org.apache.spark.sql.types.LongType)
    val a = Substrings.newDupSpans(batch, "doc_id", col("text"), dirMd5)
    val b = Substrings.newDupSpans(batch, "doc_id", col("text"), dirX)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() > 0)
    // appends inherit the index's hash: half + append == the full stage
    val dirInc = java.nio.file.Files.createTempDirectory("cen_xxh_inc").toString
    Substrings.stageGramCensus(ref.filter($"doc_id" % 2 === 0), "doc_id",
      col("text"), k = 40, dir = dirInc, hash = Substrings.HashXxh64)
    Substrings.appendGramCensus(ref.filter($"doc_id" % 2 === 1), "doc_id",
      col("text"), dirInc)
    val c = Substrings.newDupSpans(batch, "doc_id", col("text"), dirInc)
    assert(c.exceptAll(a).isEmpty && a.exceptAll(c).isEmpty)
    // the EPHEMERAL census (dupSpans / dupStats / coverageEval) keys by
    // the same knob: spans and the cut report are hash-identical
    val sm = Substrings.dupSpans(base, "doc_id", col("text"), 40)
    val sx = Substrings.dupSpans(base, "doc_id", col("text"), 40,
      maxChars = 0, hash = Substrings.HashXxh64)
    assert(sm.exceptAll(sx).isEmpty && sx.exceptAll(sm).isEmpty)
    val tm = Substrings.dupStats(base, "doc_id", col("text"), 40)
    val tx = Substrings.dupStats(base, "doc_id", col("text"), 40,
      maxChars = 0, hash = Substrings.HashXxh64)
    assert(tm.exceptAll(tx).isEmpty && tx.exceptAll(tm).isEmpty)
  }

  test("null and sub-k documents are handled") {
    val df = Seq((1L, null: String), (2L, "tiny"), (3L, "x" * 50))
      .toDF("doc_id", "text")
    assert(Substrings.gramRows(df, "doc_id", col("text"), 10).count() == 41)
    val st = Substrings.dupStats(df, "doc_id", col("text"), 10)
    assert(st.count() == 2) // null doc dropped, tiny doc kept with 0 dups
    assert(st.filter($"doc_id" === 2).select("dup_chars").as[Long].head() == 0L)
  }
}
