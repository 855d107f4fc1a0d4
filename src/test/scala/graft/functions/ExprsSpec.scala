package graft.functions

import graft.SparkSpec
import graft.ml.{Similarity, SimilarityOracles}
import graft.text.{Shingles, TextOracles}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Pins each native Catalyst expression to the declarative
  * higher-order-function formulation it replaced — identical results
  * (including NULL semantics and edge shapes) on adversarial fixtures
  * AND on the real testdata tables, both interpreted (eval) and
  * whole-stage-codegen'd paths.
  */
class ExprsSpec extends SparkSpec {
  import spark.implicits._

  private def assertSame(df: org.apache.spark.sql.DataFrame,
                         native: org.apache.spark.sql.Column,
                         hof: org.apache.spark.sql.Column): Unit = {
    val both = df.select(native.as("a"), hof.as("b"))
    // exercise codegen (default) …
    assert(both.where(not(col("a") <=> col("b"))).count() === 0)
    // … and the interpreted fallback
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(both.where(not(col("a") <=> col("b"))).count() === 0)
    finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  // ---- vector fixtures: floats incl. negatives, nulls, empty, mismatched dims
  private lazy val vecs = Seq(
    (1L, Array(0.25f, -0.5f, 1.75f), Array(1.0f, 2.0f, -3.0f)),
    (2L, Array(0.0f, 0.0f, 0.0f), Array(-0.1f, 0.1f, 0.9f)),
    (3L, Array(1e-3f, -1e-3f, 123.456f), Array(9.9f, -9.9f, 0.0f))
  ).toDF("id", "a", "b")
    .union(Seq((4L, null.asInstanceOf[Array[Float]], Array(1.0f, 2.0f, -3.0f))).toDF("id", "a", "b"))

  test("QuantizeVec matches the transform/floor HOF on fixtures") {
    assertSame(vecs, Similarity.quantize($"a"), SimilarityOracles.quantizeHof($"a"))
  }

  test("QuantizeVec preserves NULL elements positionally") {
    val withNullElem = spark.createDataFrame(
      java.util.Arrays.asList(Row(Seq[java.lang.Float](1.5f, null, -2.5f))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true)))))
    assertSame(withNullElem, Similarity.quantize($"a"), SimilarityOracles.quantizeHof($"a"))
    val out = withNullElem.select(Similarity.quantize($"a")).head.getSeq[Any](0)
    assert(out(1) == null && out(0) != null)
  }

  test("DotQ matches aggregate/zip_with HOF incl. length mismatch -> NULL") {
    val qs = vecs.select($"id", Similarity.quantize($"a").as("qa"), Similarity.quantize($"b").as("qb"))
    assertSame(qs, Similarity.dotQ($"qa", $"qb"), SimilarityOracles.dotQHof($"qa", $"qb"))
    // mismatched lengths: zip_with pads with NULL -> product NULL -> sum NULL
    val mm = Seq((Array(1L, 2L, 3L), Array(1L, 2L))).toDF("qa", "qb")
    assertSame(mm, Similarity.dotQ($"qa", $"qb"), SimilarityOracles.dotQHof($"qa", $"qb"))
    assert(mm.select(Similarity.dotQ($"qa", $"qb")).head.isNullAt(0))
  }

  test("LshSignBits matches the per-bit HOF bucket on real embeddings") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").select($"embedding")
    assertSame(emb, Similarity.lshBucket($"embedding", 8, 64), SimilarityOracles.lshBucketHof($"embedding", 8, 64))
  }

  test("quantize/dotQ match HOFs on real embeddings") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(200)
      .select($"embedding".as("a"), $"embedding".as("b"))
    assertSame(e, Similarity.quantize($"a"), SimilarityOracles.quantizeHof($"a"))
    val q = e.select(Similarity.quantize($"a").as("qa"), Similarity.quantize($"b").as("qb"))
    assertSame(q, Similarity.dotQ($"qa", $"qb"), SimilarityOracles.dotQHof($"qa", $"qb"))
  }

  // ---- text fixtures: short docs, exact-k docs, unicode, empty string
  private lazy val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "ab", "", "exact", "caffé λόγος ünïcode test",
    "one two", "x y z w v u t s r q p"
  ).toDF("t")

  test("CharShingles matches the transform/substring HOF") {
    for (k <- Seq(1, 5, 12)) {
      assertSame(texts, Shingles.charShinglesOf($"t", k), TextOracles.charShinglesHof($"t", k))
    }
  }

  test("CharShingles short-string edge: one whole-self shingle") {
    val out = Seq("ab").toDF("t").select(Shingles.charShinglesOf($"t", 5)).head.getSeq[String](0)
    assert(out == Seq("ab"))
  }

  test("WordNGrams matches the try_element_at/concat HOF") {
    val words = texts.select(split($"t", "\\s+").as("w"))
    for (n <- Seq(1, 2, 5)) {
      assertSame(words, Shingles.wordNGramsOf($"w", n), TextOracles.wordNGramsHof($"w", n))
    }
  }

  test("WordNGrams sub-n doc yields one NULL shingle; NULL word propagates") {
    val w1 = Seq(Seq("only")).toDF("w")
    val out = w1.select(Shingles.wordNGramsOf($"w", 3)).head.getSeq[String](0)
    assert(out == Seq(null))
    val wn = spark.createDataFrame(
      java.util.Arrays.asList(Row(Seq("a", null, "c"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, true)))))
    assertSame(wn, Shingles.wordNGramsOf($"w", 2), TextOracles.wordNGramsHof($"w", 2))
  }

  test("SortedPairs: distinct a<b pairs, nulls ignored, strings ordered") {
    import org.apache.spark.sql.graftbridge.ExprBridge
    def pairsOf(c: org.apache.spark.sql.Column) =
      ExprBridge.column(graft.functions.SortedPairs(ExprBridge.expression(c)))
    val out = Seq(Seq(3L, 1L, 2L, 3L)).toDF("ids")
      .select(explode(pairsOf($"ids")).as("p")).select("p.id_a", "p.id_b")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val s = spark.createDataFrame(
      java.util.Arrays.asList(Row(Seq("b", null, "a"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ids",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, true)))))
      .select(explode(pairsOf(col("ids"))).as("p")).select("p.id_a", "p.id_b")
      .as[(String, String)].collect().toSeq
    assert(s == Seq(("a", "b")))
    // singleton and empty buckets expand to nothing
    assert(Seq(Seq(7L), Seq.empty[Long]).toDF("ids")
      .select(explode(pairsOf($"ids"))).count() == 0)
  }

  test("shingles match HOFs on real documents") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(substring(lower($"text"), 1, Shingles.MaxChars).as("t"))
    assertSame(docs, Shingles.charShinglesOf($"t", 12), TextOracles.charShinglesHof($"t", 12))
    val words = docs.select(split($"t", "\\s+").as("w"))
    assertSame(words, Shingles.wordNGramsOf($"w", 3), TextOracles.wordNGramsHof($"w", 3))
  }

  test("ShingleStats narrow fingerprint equals the exploded aggregate plan") {
    import graft.text.TextFunctions
    // real docs + adversarial shapes: duplicate-heavy, shorter than k,
    // empty, and NULL text (the last must vanish from BOTH plans)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (900001L, "ababababababababababababab"), // 2-period duplicates
        (900002L, "short"), (900003L, ""),
        (900004L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val narrow = TextFunctions.fingerprint(docs, "doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val exploded = TextOracles.fingerprintExploded(docs, "doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(narrow == exploded && narrow.nonEmpty)
    assert(!narrow.exists(_._1 == 900004L)) // NULL text contributes nothing
  }

  test("SimHash16 narrow signature equals the exploded two-aggregate plan") {
    import graft.text.TextFunctions
    // real docs + adversarial shapes: duplicate tokens (majority ties),
    // a single token, empty, and NULL text (the last two must vanish
    // from BOTH plans — explode emits no row, the narrow path filters
    // on the cheap token-count predicate)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (910001L, "a a a b b"), // tie on b-bits: strict majority = 0
        (910002L, "solo"), (910003L, "   "), (910004L, ""),
        (910005L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val narrow = TextFunctions.simhash(docs, "doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exploded = TextOracles.simhashExploded(docs, "doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(narrow == exploded && narrow.nonEmpty)
    assert(!narrow.exists(t => t._1 >= 910003L)) // token-less docs drop
  }

  test("SimHashN(64) equals the exploded plan widened to 64 bits, incl. the sign bit") {
    import graft.text.TextFunctions
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").limit(50)
      .unionByName(Seq((920001L, "a a a b b"), (920002L, "solo"))
        .toDF("doc_id", "text"))
    val narrow = docs
      .select($"doc_id", TextFunctions.whitespaceTokens($"text").as("__tok"))
      .filter(size($"__tok") > 0)
      .select($"doc_id", TextFunctions.simhash64Col($"__tok").as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exploded twin at 64 bits: digit math over the first 16 hex chars,
    // bit 63 packed via the sign-bit literal (shiftleft(1,63) = Long.Min)
    val exploded = docs
      .select($"doc_id", explode(TextFunctions.whitespaceTokens($"text")).as("tok"))
      .withColumn("h16", substring(md5($"tok"), 1, 16))
      .select($"doc_id", $"h16", explode(sequence(lit(0), lit(63))).as("j"))
      .withColumn("bit", expr(
        "shiftright(instr('0123456789abcdef', substr(h16, 1 + CAST(floor(j/4) AS INT), 1)) - 1," +
          " 3 - j % 4) & 1"))
      .groupBy($"doc_id", $"j")
      .agg(sum("bit").as("ones"), count(lit(1)).as("n"))
      .groupBy($"doc_id")
      .agg(sum(expr("IF(2 * ones > n, shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))"))
        .cast("long").as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(narrow == exploded && narrow.nonEmpty)
    // at least one real doc should set a bit in the top 16 (sign-side) band
    assert(narrow.exists { case (_, sig) => (sig >>> 48) != 0L })
  }

  test("CharEntropy: code-point census, milli-nat quantization, null on empty") {
    val df = Seq(
      (1L, "aab"), (2L, "aaaa"), (3L, "ab"),
      (4L, "\uD834\uDD1E\uD834\uDD1Ea"), // astral G-clef x2 + a == aab shape
      (5L, "hello world"), (6L, ""), (7L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = df.select($"id",
        graft.text.TextFunctions.charEntropyCol($"text").as("e"))
      .select($"id", $"e.n_chars", $"e.total_mnats", $"e.entropy_nats")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some((r.getLong(1), r.getLong(2), r.getDouble(3))))).toMap
    assert(got(1L) == Some((3L, 1908L, 0.636)))
    assert(got(2L) == Some((4L, 0L, 0.0)))      // one repeated char -> 0
    assert(got(3L) == Some((2L, 1386L, 0.693)))
    assert(got(4L) == Some((3L, 1908L, 0.636))) // surrogate pair = 1 code point
    assert(got(5L).exists { case (l, m, _) => l == 11L && m == 21687L })
    assert(got(6L).isEmpty && got(7L).isEmpty)
    // interpreted fallback agrees with codegen
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val e = df.filter($"id" === 1L)
        .select(graft.text.TextFunctions.charEntropyCol($"text").getField("total_mnats"))
        .collect()(0).getLong(0)
      assert(e == 1908L)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }
}
