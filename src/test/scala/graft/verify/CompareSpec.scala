package graft.verify

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class CompareSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = Tables.load(spark, sf0001, "orders")

  test("identical frames compare equal") {
    val s = CompareOracles.summarize(orders, orders, "o_orderkey")
    assert(s.isEqual && s.matched == orders.count())
  }

  test("diff classifies missing/extra/mismatch") {
    val src = orders
    val tgt = orders
      .filter($"o_orderkey" % 97 =!= 0) // drop some → missing on target
      .withColumn("o_totalprice",
        when($"o_orderkey" % 101 === 0, $"o_totalprice" + 1).otherwise($"o_totalprice"))
    val extra = orders.filter($"o_orderkey" % 97 === 0)
      .withColumn("o_orderkey", $"o_orderkey" + 10000000L)
    val s = CompareOracles.summarize(src, tgt.unionByName(extra), "o_orderkey")
    val missing = orders.filter($"o_orderkey" % 97 === 0).count()
    val mismatch = orders.filter($"o_orderkey" % 97 =!= 0 && $"o_orderkey" % 101 === 0).count()
    assert(s.missingOnTarget == missing)
    assert(s.extraOnTarget == missing)
    assert(s.mismatched == mismatch)
    assert(s.matched == orders.count() - missing - mismatch)
  }

  test("diffBucketed matches the row-level diff counts at several bucket counts") {
    val src = orders
    val tgt = orders
      .filter($"o_orderkey" % 97 =!= 0)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 101 === 0, $"o_totalprice" + 1).otherwise($"o_totalprice"))
      .unionByName(orders.filter($"o_orderkey" % 97 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 10000000L))
    val exact = Compare.diff(src, tgt, "o_orderkey")
      .groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (buckets <- Seq(1, 16, 512)) {
      val bucketed = Compare.diffBucketed(src, tgt, "o_orderkey", buckets)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bucketed == exact, s"buckets=$buckets")
    }
  }

  test("diffBucketed on identical frames is all-match (pure short-circuit)") {
    val out = Compare.diffBucketed(orders, orders, "o_orderkey", 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("match" -> orders.count()))
  }

  test("diffBucketed scans and fingerprints each input exactly once") {
    // accumulator-instrumented inputs: every pass over an input's rows
    // adds its row count, so a second scan+fingerprint pass (the round-3
    // double-fingerprint defect) would read 2n per side, not n
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    val n = 1000L
    def instrumented(name: String, mutate: Long => String) = {
      val acc = spark.sparkContext.longAccumulator(name)
      val rdd = spark.sparkContext.range(0, n, numSlices = 4)
        .map { i => acc.add(1); Row(i, mutate(i)) }
      (spark.createDataFrame(rdd, schema), acc)
    }
    val (src, srcAcc) = instrumented("srcScan", i => s"v$i")
    val (tgt, tgtAcc) = instrumented("tgtScan", i => if (i % 100 == 0) s"x$i" else s"v$i")
    val out = Compare.diffBucketed(src, tgt, "k", 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("mismatch") == n / 100 && out("match") == n - n / 100)
    assert(srcAcc.value == n, s"source scanned ${srcAcc.value} rows, expected $n")
    assert(tgtAcc.value == n, s"target scanned ${tgtAcc.value} rows, expected $n")
  }

  test("diff handles mixed int/string/oid canonical-JSON keys") {
    import org.apache.spark.sql.functions.lit
    // keys as Oplog.idOf emits them: canonical JSON text of each type
    val keys = Seq("1", "2", "42", "\"alpha\"", "\"beta\"",
      s"""{"$$oid":"64aa00000000000000000001"}""",
      s"""{"$$oid":"64aa00000000000000000002"}""")
    val src = keys.map(k => (k, s"payload-$k")).toDF("k", "v")
    val tgt = src
      .filter($"k" =!= "\"beta\"")                      // missing (string key)
      .withColumn("v", org.apache.spark.sql.functions
        .when($"k" === "42", lit("mutated")).otherwise($"v")) // mismatch (int key)
      .unionByName(Seq((s"""{"$$oid":"64aa00000000000000000003"}""", "new"))
        .toDF("k", "v"))                                 // extra (oid key)
    val s = CompareOracles.summarize(src, tgt, "k")
    assert(s.matched == keys.size - 2)
    assert(s.mismatched == 1 && s.missingOnTarget == 1 && s.extraOnTarget == 1)
  }

  test("diffRange chunks over mixed-key splitter bounds tile the full diff") {
    import graft.ops.{BsonKey, RangeSplitter}
    // a namespace whose keys span all three BSON type classes, with
    // enough per-class keys that every splitter block straddles or
    // abuts a class boundary somewhere across runs
    val ints = (0 until 120).map(i => s"${i * 13 % 500}")
    val strs = (0 until 60).map(i => "\"doc-" + f"$i%03d\"")
    val oids = (0 until 60).map(i => s"""{"$$oid":"64b${f"$i%021x"}"}""")
    val keys = scala.util.Random.shuffle(ints ++ strs ++ oids)
    val src = keys.map(k => (k, s"v-$k")).toDF("k", "v")
    val tgt = src
      .filter($"k" =!= "\"doc-007\"" && $"k" =!= "26")   // missing: one str, one int
      .withColumn("v", when($"k" === "39", lit("mutated")).otherwise($"v"))
      .unionByName(Seq((s"""{"$$oid":"64b${"f" * 21}"}""", "new")).toDF("k", "v"))
    val blocks = RangeSplitter.exactBounds(src, "k", 50,
        sortKey = Some(BsonKey.sortKey(col("k"))))
      .collect().map(r => (r.getString(1), r.getString(2)))
    // per-chunk diffs, summed, equal the full diff for every status the
    // chunks can see (the synthetic oid is outside every block — the
    // one class of row only the unbounded diff reports)
    val chunked = blocks.toSeq.flatMap { case (first, last) =>
      CompareOracles.diffRange(src, tgt, "k", first, last)
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val full = Compare.diff(src, tgt, "k").groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(chunked.getOrElse("match", 0L) == full("match"))
    assert(chunked.getOrElse("mismatch", 0L) == full("mismatch"))
    assert(chunked.getOrElse("missing", 0L) == full("missing"))
    assert(full("extra") == 1L && chunked.getOrElse("extra", 0L) == 0L)
    // and no row was double-counted: chunk totals cover exactly the
    // source keyspace once (the extra row lives only on the target and
    // outside every block, so it adds nothing here)
    assert(chunked.values.sum == src.count())
  }

  test("diffRange selects the BSON slice, not the lexicographic slice") {
    // between "1" and "3" lexicographically would include "26" but not
    // "7"; the BSON order includes every int in [1,3] only
    val src = Seq("1", "2", "26", "3", "7", "\"2\"").map(k => (k, "x")).toDF("k", "v")
    val got = CompareOracles.diffRange(src, src, "k", "1", "3")
      .select("k").as[String].collect().toSet
    assert(got == Set("1", "2", "3"))
    // string bounds select only strings, never numerics that sort inside
    // the quoted text range
    val got2 = CompareOracles.diffRange(src, src, "k", "\"0\"", "\"9\"")
      .select("k").as[String].collect().toSet
    assert(got2 == Set("\"2\""))
  }

  test("existingKeys semi-join (J2 reconciliation)") {
    val batch = orders.filter($"o_orderkey" <= 100)
    val target = orders.filter($"o_orderkey" % 2 === 0)
    val existing = Compare.existingKeys(batch, target, "o_orderkey")
    assert(existing.count() == batch.filter($"o_orderkey" % 2 === 0).count())
  }
}
