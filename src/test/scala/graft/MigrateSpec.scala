package graft

import graft.config.MigratorConfig
import graft.ddl.Manifest
import graft.sim.Simgen
import graft.sources.{ParquetCatalog, Workspace}
import org.apache.spark.sql.functions._

import java.nio.file.Files

class MigrateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("flagship -start lifecycle: reset -> manifest -> copy -> catch-up (SURVEY §3.1)") {
    val source = new ParquetCatalog(spark, sf0001, "src")
    val sinkDir = tmp("graft-mig-sink")
    val sink = new ParquetCatalog(spark, sinkDir, "src")
    val logDir = tmp("graft-mig-log")
    Simgen.changeLog(spark, 25, "src.gen").write.mode("overwrite").parquet(logDir)

    val cfg = MigratorConfig(command = "all", source = "s", target = "t",
      isDrop = true,
      includes = Seq(
        graft.config.IncludeSpec("src.nation"),
        graft.config.IncludeSpec("src.region"),
        graft.config.IncludeSpec("src.gen")))

    val result = Migrate.start(spark, cfg, source, sink,
      checkpointDir = tmp("graft-mig-ckpt"), changelogDir = Some(logDir))

    // copy phase: both relational namespaces landed with full rowcounts
    assert(result.copied.map(_.namespace).sorted == Seq("src.nation", "src.region"))
    assert(sink.read("src.nation").count() == source.read("src.nation").count())
    // stream phase: the generated change-log applied into the doc store
    assert(result.applied.inserted > 0)
    assert(sink.read("src.gen").count() == result.applied.inserted)
    // progress tracked real scheduler tasks
    assert(result.progress.total > 0 && result.progress.failed == 0)
    // manifest persisted with the included SOURCE namespaces only
    // (src.gen exists only as a change-stream namespace, not a table)
    val m = Manifest.load(spark, sink)
    assert(m.collections.map(_.ns).toSet == Set("src.nation", "src.region"))
    // status log recorded the lifecycle
    val statuses = new Workspace(spark, sink).logs()
      .select("status").as[String].collect().toSeq
    assert(statuses == Seq(
      "create metadata", "copy data", "apply change stream", "migration completed"))

    // batch-only re-run (drop=true) is repeatable end-to-end
    val again = Migrate.start(spark, cfg, source, sink,
      checkpointDir = tmp("graft-mig-ckpt2"), changelogDir = None)
    assert(again.applied.total == 0)
    assert(sink.read("src.nation").count() == source.read("src.nation").count())
  }

  test("-resume picks up a half-copied target and -compare verifies it (O6/J1)") {
    val source = new ParquetCatalog(spark, sf0001, "src")
    val sinkDir = tmp("graft-res-sink")
    val sink = new ParquetCatalog(spark, sinkDir, "src")
    val cfg = MigratorConfig(command = "all", source = "s", target = "t",
      includes = Seq(
        graft.config.IncludeSpec("src.nation"),
        graft.config.IncludeSpec("src.region")))
    // simulate an interrupted copy: region landed partially, nation not at all
    sink.write("src.region", source.read("src.region").limit(2))
    // resume must NOT hit the empty-target guard and must converge
    val res = Migrate.resume(spark, cfg, source, sink, tmp("graft-res-ckpt"))
    assert(res.copied.size == 2)
    assert(sink.read("src.region").count() == source.read("src.region").count())
    assert(sink.read("src.nation").count() == source.read("src.nation").count())
    // compare: everything matches
    val cmp = Migrate.compare(spark, cfg, source, sink, buckets = 64)
    assert(cmp.values.forall(_.isEqual))
    // perturb one row and compare again
    import org.apache.spark.sql.functions._
    sink.write("src.nation",
      sink.read("src.nation").withColumn("n_regionkey",
        when(col("n_nationkey") === 0, col("n_regionkey") + 1)
          .otherwise(col("n_regionkey"))).localCheckpoint())
    val cmp2 = Migrate.compare(spark, cfg, source, sink, buckets = 64)
    assert(cmp2("src.nation").mismatched == 1)
    assert(cmp2("src.region").isEqual)
  }

  test("-compare releases every checkpoint it takes (no persisted RDD left behind)") {
    val source = new ParquetCatalog(spark, sf0001, "src")
    val sink = new ParquetCatalog(spark, tmp("graft-cmp-sink"), "src")
    val cfg = MigratorConfig(command = "all", source = "s", target = "t",
      includes = Seq(graft.config.IncludeSpec("src.nation")))
    // a target that differs in one row: the changed-bucket path runs too
    sink.write("src.nation", source.read("src.nation")
      .withColumn("n_regionkey", when(col("n_nationkey") === 0,
        col("n_regionkey") + 1).otherwise(col("n_regionkey"))))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cmp = Migrate.compare(spark, cfg, source, sink, buckets = 64)
    assert(cmp("src.nation").mismatched == 1)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted/checkpointed RDDs left by compare: $leaked")
  }

  test("compareChunked over a mixed int/string/oid namespace equals the full diff") {
    import graft.verify.{Compare, CompareOracles}
    // a doc-store namespace whose _id mixes every BSON type class,
    // including int64 beyond 2^53 — lexicographic chunking would both
    // drop and double-count rows across chunk boundaries
    val ints = (0 until 120).map(i => s"${i * 7 % 1000}") ++
      (0 until 40).map(i => s"${(1L << 53) + i * 3}")
    val strs = (0 until 60).map(i => "\"doc-" + f"$i%03d\"")
    val oids = (0 until 60).map(i => s"""{"$$oid":"64a${f"$i%021x"}"}""")
    val ids = scala.util.Random.shuffle(ints ++ strs ++ oids)
    val srcDf = ids.zipWithIndex
      .map { case (id, i) => (id, s"""{"v":$i}""") }.toDF("id", "doc")

    val srcDir = tmp("graft-chunk-src"); val tgtDir = tmp("graft-chunk-tgt")
    val source = new ParquetCatalog(spark, srcDir, "db", keys = Map("mixed" -> "id"))
    val sink = new ParquetCatalog(spark, tgtDir, "db", keys = Map("mixed" -> "id"))
    source.write("db.mixed", srcDf)
    // target: drop 5 (missing), corrupt 7 (mismatch), add 4 extras — one
    // of them an ObjectId ABOVE the source's whole key range, reachable
    // only through the out-of-range sweep
    val tampered = srcDf
      .filter(!col("id").isin(ids.take(5): _*))
      .withColumn("doc", when(col("id").isin(ids.slice(5, 12): _*),
        lit("""{"v":-1}""")).otherwise(col("doc")))
      .unionByName(Seq(
        ("31", """{"v":-2}"""), ("\"zzz-extra\"", """{"v":-3}"""),
        ("-77", """{"v":-4}"""),
        ("""{"$oid":"ffffffffffffffffffffffff"}""", """{"v":-5}"""))
        .toDF("id", "doc"))
    sink.write("db.mixed", tampered.localCheckpoint())

    val cfg = MigratorConfig(command = "all", source = "s", target = "t",
      includes = Seq(graft.config.IncludeSpec("db.mixed")))
    val full = CompareOracles.summarize(source.read("db.mixed"), sink.read("db.mixed"), "id")
    val chunked = Migrate.compareChunked(spark, cfg, source, sink, block = 50)
    assert(chunked("db.mixed") == full)
    assert(full.missingOnTarget == 5 && full.mismatched == 7 && full.extraOnTarget == 4)
  }

  test("workspace log/reset round-trip (K4/S9)") {
    val sink = new ParquetCatalog(spark, tmp("graft-ws"), "tgt")
    val ws = new Workspace(spark, sink)
    ws.log("one"); ws.log("two")
    assert(ws.logs().select("status").as[String].collect().toSeq == Seq("one", "two"))
    ws.reset()
    assert(!sink.dataExists(Workspace.LogsNs))
  }
}
