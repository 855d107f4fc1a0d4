package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** ParquetCatalog: bucketed incremental merge + the crash-safe commit
  * protocol (roll-forward / roll-back recovery). */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private val B = 64
  private val ns = "app.orders"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def fs(cat: ParquetCatalog) =
    new Path(cat.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All data file paths under the table dir, grouped by bucket dir. */
  private def bucketFiles(cat: ParquetCatalog): Map[String, Set[String]] = {
    val f = fs(cat)
    val table = new Path(cat.dir, "orders.parquet")
    f.listStatus(table).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(ParquetCatalog.BucketCol + "="))
      .map { d =>
        d.getPath.getName ->
          f.listStatus(d.getPath).map(_.getPath.getName).toSet
      }.toMap
  }

  private def orders = Tables.load(spark, "/root/testdata/sf0.1", "orders")
    .select(col("o_orderkey").cast("long").as("k"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))

  test("bucketed merge: a small batch rewrites only the touched buckets (< B/4)") {
    val cat = new ParquetCatalog(spark, tmp("cat-bktd"), "app", buckets = B)
    // seed: ~150k rows spread over B buckets
    val seeded = cat.upsert(ns, orders, "k")
    assert(seeded == orders.count())
    val before = bucketFiles(cat)
    assert(before.size == B, s"expected all $B buckets populated, got ${before.size}")

    // small batch: 3 updates + 8 inserts + 2 deletes = 13 touched keys —
    // at most 13 of the 64 buckets may be rewritten (< B/4 = 16).
    // Deletes exclude key 0 (every %n filter matches it) and the update
    // keys (a key in BOTH upserts and deletes is kept: upserts win).
    val ups = orders.filter($"k" % 50021 === 0).withColumn("o_totalprice", $"o_totalprice" + 1)
      .unionByName(orders.filter($"k" < 8).withColumn("k", $"k" + 900000000L))
    val dels = orders.filter($"k" % 70001 === 0 && $"k" > 0).select("k")
    val nUps = ups.count(); val nDels = dels.count()
    val total = cat.merge(ns, ups, dels.toDF(), "k")
    assert(total == seeded + ups.filter($"k" >= 900000000L).count() - nDels)

    val after = bucketFiles(cat)
    val changed = after.keySet.union(before.keySet)
      .count(b => before.get(b) != after.get(b))
    assert(changed > 0 && changed < B / 4,
      s"small batch ($nUps ups, $nDels dels) changed $changed/$B buckets")

    // row-level correctness of the incremental rewrite
    val got = cat.read(ns).select("k", "o_totalprice").as[(Long, Double)].collect().toMap
    val want = orders.filter($"k" % 70001 =!= 0 || $"k" === 0)
      .withColumn("o_totalprice",
        when($"k" % 50021 === 0, $"o_totalprice" + 1).otherwise($"o_totalprice"))
      .unionByName(orders.filter($"k" < 8).withColumn("k", $"k" + 900000000L))
      .select("k", "o_totalprice").as[(Long, Double)].collect().toMap
    assert(got == want)
  }

  test("bucketed merge: emptying a bucket removes it instead of resurrecting old rows") {
    val cat = new ParquetCatalog(spark, tmp("cat-wipe"), "app", buckets = 8)
    val small = orders.filter($"k" < 8000).cache()  // 2000 rows, deterministic
    val n0 = cat.upsert(ns, small, "k")
    // delete EVERY key of one bucket
    val bucketOf = pmod(xxhash64($"k"), lit(8L)).cast("int")
    val victims = small.withColumn("b", bucketOf).filter($"b" === 3).select("k")
    val nVictims = victims.count()
    assert(nVictims > 0)
    val total = cat.merge(ns, small.limit(0), victims.toDF(), "k")
    assert(total == n0 - nVictims)
    assert(cat.read(ns).count() == n0 - nVictims)
    assert(!bucketFiles(cat).contains(s"${ParquetCatalog.BucketCol}=3"))
    small.unpersist()
  }

  test("bucketed incremental count stays exact across a chain of merges") {
    val cat = new ParquetCatalog(spark, tmp("cat-count"), "app", buckets = 16)
    val base = orders.filter($"k" < 20000) // deterministic 5000 rows
    cat.upsert(ns, base, "k")
    var expect = base.count()
    for (i <- 1 to 3) {
      // k > 0: key 0 matches every %n filter and is gone after round 1 —
      // re-deleting an absent key is legal but would skew this arithmetic
      val ins = base.filter($"k" < 40 * i).withColumn("k", $"k" + lit(1000000L * i))
      val del = base.filter($"k" % lit(500 + i) === 0 && $"k" > 0).select("k")
      val reported = cat.merge(ns, ins, del.toDF(), "k")
      expect = expect + ins.count() - del.count()
      assert(reported == expect, s"merge $i reported $reported, expected $expect")
      assert(cat.read(ns).count() == expect)
      // deletes repeat across rounds (same filter) — re-deleting absent
      // keys must not drift the count
      expect = cat.read(ns).count()
    }
  }

  test("concurrent readers never treat a LIVE merge's staging as crash leftovers") {
    // the race this pins: recover() runs on every read, and before the
    // liveMerges flag existed a reader polling during a merge saw the
    // in-flight staging dir (sentinel not yet written), classified it
    // "died while staging", and deleted it under the running write job —
    // killing the stream. The reader is a SEPARATE catalog instance over
    // the same directory, as in real deployments (status/compare/polls).
    val dir = tmp("cat-race")
    val writer = new ParquetCatalog(spark, dir, "app")
    val reader = new ParquetCatalog(spark, dir, "app")
    writer.upsert(ns, orders.limit(200), "k")
    // a merge whose staging write is slow enough for readers to overlap
    val slowUps = orders.filter($"k" < 100)
      .as[(Long, Long, String, Double)]
      .mapPartitions { it => Thread.sleep(1500); it }
      .toDF("k", "o_custkey", "o_orderstatus", "o_totalprice")
    @volatile var mergeResult: Option[scala.util.Try[Long]] = None
    val t = new Thread(() => {
      mergeResult = Some(scala.util.Try(
        writer.merge(ns, slowUps, orders.limit(0).select("k").toDF(), "k")))
    })
    t.start()
    // hammer the read paths (each used to run destructive recovery)
    while (t.isAlive) {
      reader.dataExists(ns)
      reader.readMarker(ns, "batch")
      scala.util.Try(reader.read(ns).count())
      Thread.sleep(20)
    }
    t.join()
    assert(mergeResult.get.isSuccess,
      s"merge killed by a concurrent reader: ${mergeResult.get}")
    assert(writer.read(ns).count() == 200) // 100 updated in place
    // a staging dir with no merge running here survives the read (it
    // may be a merge in another process) and the next merge clears it
    val f = fs(writer)
    val st = new Path(writer.dir, "orders.parquet.__staging__")
    f.mkdirs(st)
    assert(reader.read(ns).count() == 200)
    assert(f.exists(st), "a reader discarded a staging it cannot prove abandoned")
    writer.upsert(ns, orders.limit(0), "k")
    assert(!f.exists(st), "stale staging not discarded by the next merge")
  }

  test("recover: incomplete staging is discarded, live table intact") {
    // what a merge running in another process shows mid-write: readers
    // there (a `-compare` beside a running apply) must leave it alone,
    // and only the next merge (the writer gate) discards it
    val dir = tmp("cat-rb")
    val cat = new ParquetCatalog(spark, dir, "app", buckets = 8)
    cat.merge(ns, orders.limit(100), orders.limit(0).select("k"), "k", Some("batch" -> "1"))
    val reader = new ParquetCatalog(spark, dir, "app", buckets = 8)
    val f = fs(cat)
    val st = new Path(dir, "orders.parquet.__staging__")
    val part = new Path(st, "graft_bucket=3/part-junk.parquet")
    val out = f.create(part, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    assert(reader.dataExists(ns))
    assert(reader.readMarker(ns, "batch").contains("1"))
    assert(reader.read(ns).count() == 100)
    assert(f.exists(part), "a reader discarded an unsealed staging")
    cat.merge(ns, orders.filter($"k" < 0), orders.limit(0).select("k"), "k", Some("batch" -> "2"))
    assert(!f.exists(st), "incomplete staging not discarded by the next merge")
    assert(reader.readMarker(ns, "batch").contains("2"))
    assert(reader.read(ns).count() == 100)
  }

  test("plain (unbucketed) table converts to bucketed layout on first bucketed merge") {
    val dir = tmp("cat-convert")
    val plain = new ParquetCatalog(spark, dir, "app")
    plain.write(ns, orders.filter($"k" < 4000))
    val bucketed = new ParquetCatalog(spark, dir, "app", buckets = 8)
    val n0 = orders.filter($"k" < 4000).count()
    val ins = orders.filter($"k" < 40).withColumn("k", $"k" + 800000000L)
    val total = bucketed.merge(ns, ins, orders.limit(0).select("k").toDF(), "k")
    assert(total == n0 + ins.count())
    assert(bucketFiles(bucketed).size == 8)
    assert(bucketed.read(ns).count() == n0 + ins.count())
    assert(!bucketed.read(ns).columns.contains(ParquetCatalog.BucketCol))
  }
}
