package graft.util

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SHARED staged-index lifecycle (StagedIndex), pinned once for
  * all four kinds: each kind's spec (RetrievalSpec, SubstringsSpec,
  * PqSpec, DedupSpec) keeps pinning its own layouts and semantics;
  * this spec pins the protocol they now inherit instead of hand-roll —
  * stage's invalidate-first/manifest-last bracket, the uniform
  * new-ids refusal, and compact's swap + count-refresh bracket. */
class StagedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def rows = Seq((1L, "a"), (2L, "b"), (3L, "a"))
    .toDF("id", "v")
    .withColumn("bkt", pmod(xxhash64(col("id")), lit(2L)))

  test("stage: invalidate-first, manifest-last, counts from the body") {
    val dir = tmp("stidx-stage")
    IndexManifest.write(spark, dir, "demo", Map("old" -> "1"), Map.empty)
    var manifestDuringBody = true
    StagedIndex.stage(spark, dir, "demo", Map("buckets" -> "2")) {
      // the previous manifest must already be gone when the body runs:
      // a crash HERE reads as "not a graft index", never stale params
      manifestDuringBody = new java.io.File(dir, IndexManifest.FileName).exists()
      rows.repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$dir/data")
      Map("n_rows" -> 3L)
    }
    assert(!manifestDuringBody, "stage body saw a live (stale) manifest")
    val mf = IndexManifest.read(spark, dir)
    assert(mf.kind == "demo" && mf.params == Map("buckets" -> "2")
      && mf.counts == Map("n_rows" -> 3L))
  }

  test("stage: a body that dies leaves NO manifest (loud probe failure)") {
    val dir = tmp("stidx-dead")
    IndexManifest.write(spark, dir, "demo", Map.empty, Map.empty)
    intercept[RuntimeException] {
      StagedIndex.stage(spark, dir, "demo", Map.empty) {
        sys.error("restage dies mid-rewrite")
      }
    }
    val e = intercept[IllegalArgumentException] { IndexManifest.read(spark, dir) }
    assert(e.getMessage.contains("not a graft index"))
  }

  test("requireNewIds: uniform refusal with examples; empty probe passes") {
    val seen = Seq(7L, 8L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      StagedIndex.requireNewIds(seen, "appendDemo", "/idx",
        "a repeated id corrupts the demo invariant.", "stageDemo")
    }
    assert(e.getMessage.contains("appendDemo(/idx)"))
    assert(e.getMessage.contains("already-indexed"))
    assert(e.getMessage.contains("7") && e.getMessage.contains("8"))
    assert(e.getMessage.contains("corrupts the demo invariant"))
    assert(e.getMessage.contains("stageDemo"))
    assert(e.getMessage.contains("assumeNewIds=true"))
    StagedIndex.requireNewIds(seen.limit(0), "appendDemo", "/idx", "x.", "y")
  }

  test("compact: consolidates each layout to one file per partition, refreshes counts, keeps params") {
    val dir = tmp("stidx-compact")
    StagedIndex.stage(spark, dir, "demo", Map("buckets" -> "2")) {
      rows.repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$dir/data")
      rows.select("id").write.mode("overwrite").parquet(s"$dir/flat")
      Map("n_rows" -> 3L)
    }
    // appends stack files in a partition
    rows.repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt").parquet(s"$dir/data")
    rows.select("id").write.mode("append").parquet(s"$dir/flat")
    def maxFiles(): Int =
      new java.io.File(s"$dir/data").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(maxFiles() > 1)
    val obs = org.apache.spark.sql.Observation()
    val mf = StagedIndex.compact(spark, dir, "demo") { mf =>
      assert(mf.paramInt("buckets") == 2) // layouts see the frozen params
      Seq(
        // an aggregating layout: appends accumulate rows readers sum
        StagedIndex.Layout("data", Some("bkt"),
          _.groupBy(col("bkt"), col("id")).agg(count(lit(1)).as("n"))
            .observe(obs, count(lit(1)).as("n_rows"))
            .select(col("id"), col("n"), col("bkt"))),
        // an unpartitioned layout: pure consolidation
        StagedIndex.Layout("flat", None, _.repartition(1)))
    } { _ => Map("n_rows" -> obs.get("n_rows").asInstanceOf[Long]) }
    assert(maxFiles() == 1, "compaction must leave one file per partition")
    assert(mf.params == Map("buckets" -> "2")) // returned = pre-compaction
    val after = IndexManifest.read(spark, dir)
    assert(after.params == Map("buckets" -> "2"),
      "compaction must not change the frozen params")
    assert(after.counts == Map("n_rows" -> 3L),
      "counts must refresh from the rewrite's own observation")
    // the consolidated data layout re-summed the appended rows
    val got = spark.read.parquet(s"$dir/data")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // a wrong-kind compact refuses by name
    val e = intercept[IllegalArgumentException] {
      StagedIndex.compact(spark, dir, "other")(_ => Nil)(_ => Map.empty)
    }
    assert(e.getMessage.contains("'demo'"))
  }

  test("compact overlap=true: concurrent independent rewrites, same layouts and counts as sequential") {
    val dir = tmp("stidx-compact-par")
    StagedIndex.stage(spark, dir, "demo", Map("buckets" -> "2")) {
      rows.repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$dir/data")
      rows.select("id").write.mode("overwrite").parquet(s"$dir/flat")
      Map("n_rows" -> 3L)
    }
    rows.repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt").parquet(s"$dir/data")
    rows.select("id").write.mode("append").parquet(s"$dir/flat")
    val obs = org.apache.spark.sql.Observation()
    // the two rewrites are INDEPENDENT (each binds only its own state),
    // so the overlapped path must land the exact sequential result:
    // every commit's staging/aside is namespaced by its layout name
    StagedIndex.compact(spark, dir, "demo", overlap = true) { _ =>
      Seq(
        StagedIndex.Layout("data", Some("bkt"),
          _.groupBy(col("bkt"), col("id")).agg(count(lit(1)).as("n"))
            .observe(obs, count(lit(1)).as("n_rows"))
            .select(col("id"), col("n"), col("bkt"))),
        StagedIndex.Layout("flat", None, _.repartition(1)))
    } { _ => Map("n_rows" -> obs.get("n_rows").asInstanceOf[Long]) }
    val after = IndexManifest.read(spark, dir)
    assert(after.counts == Map("n_rows" -> 3L))
    val got = spark.read.parquet(s"$dir/data")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    assert(spark.read.parquet(s"$dir/flat").count() == 6L)
    // no commit debris (staging, aside) left by either concurrent rewrite
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.exists(n => n.contains("__staging__") || n.contains("__old__")),
      s"swap debris left: $names")
  }

  test("a probe of a schema-param index starts no parquet schema-inference job") {
    import graft.text.{Retrieval, Substrings}
    import org.apache.spark.graftbridge.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a slow green turtle crawls under the old bridge by the river bank"),
      (3L, "the quick brown fox jumps over the sleepy cat near the old mill"))
      .toDF("doc_id", "text")
    val census = tmp("stidx-schema-census")
    Substrings.stageGramCensus(docs, "doc_id", col("text"), k = 12, dir = census, buckets = 2)
    val bm25 = tmp("stidx-schema-bm25")
    Retrieval.stageBm25(docs, "doc_id", col("text"), bm25, buckets = 2)
    val sc = spark.sparkContext
    /** Call sites of the stages `f` starts; inference is `parquet at …`. */
    def inference(f: => Unit): Seq[String] = {
      val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          e.stageInfos.foreach(st => sites.add(st.name))
      }
      ListenerBridge.drain(sc)
      sc.addSparkListener(l)
      try { f; ListenerBridge.drain(sc) } finally sc.removeSparkListener(l)
      sites.asScala.toSeq.filter(_.startsWith("parquet at"))
    }
    // control: an inferring read of the same layout does start one
    val control = inference(spark.read.parquet(s"$census/census"): Unit)
    assert(control.nonEmpty, "an inferring read started no inference job")
    assert(IndexManifest.read(spark, census).layoutSchema("census").isDefined)
    val spans = inference(
      Substrings.newDupSpans(docs, "doc_id", col("text"), census).collect(): Unit)
    assert(spans.isEmpty, s"census probe inferred a schema: $spans")
    val topK = inference(
      Retrieval.stagedBm25TopK(spark, bm25, docs.withColumnRenamed("doc_id", "q_id"),
        "q_id", col("text")).collect(): Unit)
    assert(topK.isEmpty, s"bm25 probe inferred a schema: $topK")
  }
}
