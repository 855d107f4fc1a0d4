package graft

import graft.ddl.Manifest
import graft.sim.Simgen
import graft.sources.ParquetCatalog
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** End-to-end CLI dispatch (neutrino.go:45-88) against testdata-shaped
  * directories: every flag goes through `Main.run` exactly as `main`
  * would invoke it, minus the JVM exit. */
class MainSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString
  private def writeCfg(dir: String, json: String): String = {
    val f = Paths.get(dir, "cfg.json")
    Files.write(f, json.getBytes("UTF-8"))
    f.toString
  }
  private val sess = () => spark

  test("-version prints and exits 0; bad args exit 1") {
    assert(Main.run(Seq("-version"), sess) == 0)
    assert(Main.run(Seq("-bogus"), sess) == 1)
    assert(Main.run(Seq.empty, sess) == 1)
  }

  test("-sim emits a paced change-log feed into the uri directory") {
    val dir = tmp("graft-cli-sim")
    val cfg = writeCfg(tmp("graft-cli-simcfg"),
      s"""{"namespaces":["db1.events"],"seconds_to_run":2,
         |"oplogs_per_second":15,"uri":"$dir"}""".stripMargin)
    assert(Main.run(Seq("-sim", cfg), sess) == 0)
    val feed = spark.read.parquet(s"$dir/db1.events")
    assert(feed.count() > 30) // 2 batches × 15 inserts + churn rows
    assert(feed.filter($"op" === "i" && $"ns" === "db1.events").count() >= 30)
  }

  test("-start honors the config: copy + catch-up, then -compare passes, rc=2 after a perturbation") {
    val spool = tmp("graft-cli-spool")
    Simgen.changeLog(spark, 20, "src.gen")
      .write.mode("overwrite").parquet(s"$spool/changelog")
    val target = tmp("graft-cli-target")
    val cfg = writeCfg(tmp("graft-cli-cfg"),
      s"""{"command":"all","source":"$sf0001","target":"$target",
         |"spool":"$spool","port":36351,"drop":true,
         |"includes":[{"namespace":"src.nation"},{"namespace":"src.region"},
         |{"namespace":"src.gen"}]}""".stripMargin)
    assert(Main.run(Seq("-start", cfg), sess) == 0)

    val sink = new ParquetCatalog(spark, target, "src")
    val source = new ParquetCatalog(spark, sf0001, "src")
    assert(sink.read("src.nation").count() == source.read("src.nation").count())
    assert(sink.read("src.region").count() == source.read("src.region").count())
    assert(sink.read("src.gen").count() > 0) // change stream caught up

    // compare: in-sync clusters exit 0 (src.gen is stream-only on the
    // source side, so compare a config limited to the copied tables)
    val cmpCfg = writeCfg(tmp("graft-cli-cmpcfg"),
      s"""{"command":"all","source":"$sf0001","target":"$target",
         |"includes":[{"namespace":"src.nation"},{"namespace":"src.region"}]}""".stripMargin)
    assert(Main.run(Seq("-compare", cmpCfg), sess) == 0)
    // perturb one row → exit 2 (materialize before overwriting the
    // files being read)
    sink.write("src.nation", sink.read("src.nation")
      .withColumn("n_regionkey",
        when($"n_nationkey" === 0, $"n_regionkey" + 1).otherwise($"n_regionkey"))
      .localCheckpoint(true))
    assert(Main.run(Seq("-compare", cmpCfg), sess) == 2)
  }

  test("-index builds, appends, and queries a materialized ANN index") {
    val root = tmp("graft-cli-idxsrc")
    val cat = new ParquetCatalog(spark, root, "db")
    val e = Tables.load(spark, sf0001, "embeddings")
    cat.write("db.head", e.filter($"vec_id" < 400))
    cat.write("db.tail", e.filter($"vec_id" >= 400))
    val idx = tmp("graft-cli-idx") + "/ix"
    val build = writeCfg(tmp("graft-cli-idxcfg1"),
      s"""{"source":"$root","namespace":"db.head","index":"$idx",
         |"action":"build","centroids":8,"m":4,"ksub":16}""".stripMargin)
    assert(Main.run(Seq("-index", build), sess) == 0)
    val append = writeCfg(tmp("graft-cli-idxcfg2"),
      s"""{"source":"$root","namespace":"db.tail","index":"$idx",
         |"action":"append"}""".stripMargin)
    assert(Main.run(Seq("-index", append), sess) == 0)
    val out = tmp("graft-cli-idxout") + "/res"
    val query = writeCfg(tmp("graft-cli-idxcfg3"),
      s"""{"source":"$root","namespace":"db.head","index":"$idx",
         |"action":"query","k":3,"nprobe":8,"out":"$out"}""".stripMargin)
    assert(Main.run(Seq("-index", query), sess) == 0)
    val res = spark.read.parquet(out)
    assert(res.count() == 400 * 3)
    // the appended batch is reachable: some top-3 slot holds a tail id
    assert(res.filter($"neighbor_id" >= 400).count() > 0)
    // unknown action is rejected
    val bad = writeCfg(tmp("graft-cli-idxcfg4"),
      s"""{"source":"$root","namespace":"db.head","index":"$idx",
         |"action":"rebuild"}""".stripMargin)
    intercept[IllegalArgumentException] { Main.run(Seq("-index", bad), sess) }
    // a staged-geometry knob on append is refused, never silently
    // ignored (the loud-knob discipline all three kinds share)
    val badAppend = writeCfg(tmp("graft-cli-idxcfg4b"),
      s"""{"source":"$root","namespace":"db.tail","index":"$idx",
         |"action":"append","centroids":16}""".stripMargin)
    intercept[IllegalArgumentException] { Main.run(Seq("-index", badAppend), sess) }
    // describe works kind-agnostically off the shared manifest and
    // needs only the index dir
    val desc = writeCfg(tmp("graft-cli-idxcfg5"),
      s"""{"index":"$idx","action":"describe"}""")
    assert(Main.run(Seq("-index", desc), sess) == 0)
    // a non-index dir is refused with the manifest error, not a
    // parquet read failure
    val noIdx = writeCfg(tmp("graft-cli-idxcfg6"),
      s"""{"index":"$root","action":"describe"}""")
    val e2 = intercept[IllegalArgumentException] {
      Main.run(Seq("-index", noIdx), sess)
    }
    assert(e2.getMessage.contains("not a graft index"))
  }

  test("-index recluster + reap cover both IVF kinds; storetexts migrates an lsh index") {
    val root = tmp("graft-cli-gensrc")
    val cat = new ParquetCatalog(spark, root, "db")
    val e = Tables.load(spark, sf0001, "embeddings")
    cat.write("db.vecs", e.filter($"vec_id" < 200))
    // PQ kind: recluster dispatches on the manifest, reap reclaims the
    // grace generation the recluster left behind
    val pq = tmp("graft-cli-genpq") + "/ix"
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-gencfg1"),
      s"""{"source":"$root","namespace":"db.vecs","index":"$pq",
         |"action":"build","centroids":4,"m":4,"ksub":8}""".stripMargin)),
      sess) == 0)
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-gencfg2"),
      s"""{"index":"$pq","action":"recluster","iters":1}""")), sess) == 0)
    val fs = new org.apache.hadoop.fs.Path(pq)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(pq, "codes.g1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(pq, "codes"))) // grace
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-gencfg3"),
      s"""{"index":"$pq","action":"reap"}""")), sess) == 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(pq, "codes")))
    // reap on a generation-less kind is refused loudly
    val docsTbl = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).select($"doc_id", $"text")
    cat.write("db.docs", docsTbl.filter($"doc_id" % 2 === 0))
    val lsh = tmp("graft-cli-genlsh") + "/ix"
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-gencfg4"),
      s"""{"source":"$root","namespace":"db.docs","index":"$lsh",
         |"kind":"lsh","action":"build","buckets":8}""".stripMargin)),
      sess) == 0)
    intercept[IllegalArgumentException] {
      Main.run(Seq("-index", writeCfg(tmp("graft-cli-gencfg5"),
        s"""{"index":"$lsh","action":"reap"}""")), sess)
    }
    // storetexts migrates the legacy lsh index in place (doc set =
    // the staged namespace; no admitted dir here)
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-gencfg6"),
      s"""{"source":"$root","namespace":"db.docs","index":"$lsh",
         |"kind":"lsh","action":"storetexts"}""".stripMargin)), sess) == 0)
    assert(graft.util.IndexManifest.read(spark, lsh)
      .params.get("store_texts").contains("1"))
    // a build knob on storetexts is refused like on append/query
    intercept[IllegalArgumentException] {
      Main.run(Seq("-index", writeCfg(tmp("graft-cli-gencfg7"),
        s"""{"source":"$root","namespace":"db.docs","index":"$lsh",
           |"kind":"lsh","action":"storetexts","buckets":4}""".stripMargin)),
        sess)
    }
  }

  test("-index action=ingest drains a parquet feed into a staged index") {
    val root = tmp("graft-cli-ingsrc")
    val cat = new ParquetCatalog(spark, root, "db")
    val d = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).select($"doc_id", $"text")
    cat.write("db.ref", d.filter($"doc_id" % 2 === 0))
    val idx = tmp("graft-cli-ing") + "/fpix"
    val build = writeCfg(tmp("graft-cli-ingcfg1"),
      s"""{"source":"$root","namespace":"db.ref","index":"$idx",
         |"kind":"fp","action":"build","buckets":8}""".stripMargin)
    assert(Main.run(Seq("-index", build), sess) == 0)
    // two feed files = two micro-batches through the shared
    // DocStream.ingestStream entry point, kind-dispatched on the
    // manifest — the CLI shape of q_st_substr/q_st_bm25/q_st_index
    val feed = tmp("graft-cli-ingfeed") + "/in"
    d.filter($"doc_id" % 4 === 1).repartition(1)
      .write.mode("append").parquet(feed)
    d.filter($"doc_id" % 4 === 3).repartition(1)
      .write.mode("append").parquet(feed)
    val ing = writeCfg(tmp("graft-cli-ingcfg2"),
      s"""{"index":"$idx","action":"ingest","feed":"$feed",
         |"checkpoint":"${tmp("graft-cli-ingckpt")}/ck"}""".stripMargin)
    assert(Main.run(Seq("-index", ing), sess) == 0)
    // everything drained is index-resident: re-probing the odd half
    // admits nothing; a genuinely new doc still passes
    assert(graft.text.Dedup.exactNewStaged(d.filter($"doc_id" % 2 === 1),
      "doc_id", col("text"), idx).count() == 0)
    val fresh = Seq((999999L, "a genuinely new document body"))
      .toDF("doc_id", "text")
    assert(graft.text.Dedup.exactNewStaged(fresh, "doc_id", col("text"),
      idx).count() == 1)
  }

  test("-index action=admit drains a feed through the admission gate") {
    val root = tmp("graft-cli-admsrc")
    val cat = new ParquetCatalog(spark, root, "db")
    val d = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).select($"doc_id", $"text")
    cat.write("db.ref", d.filter($"doc_id" % 2 === 0))
    val idx = tmp("graft-cli-adm") + "/bandix"
    val build = writeCfg(tmp("graft-cli-admcfg1"),
      s"""{"source":"$root","namespace":"db.ref","index":"$idx",
         |"kind":"lsh","action":"build","buckets":8}""".stripMargin)
    assert(Main.run(Seq("-index", build), sess) == 0)
    // feed: exact copies of SIGNING reference docs under new ids
    // (near-rejected by the staged bands; sub-shingle docs carry no
    // near-dup identity, so they stay out of this fixture's copies)
    // + genuinely new docs (admitted + indexed)
    val feed = tmp("graft-cli-admfeed") + "/in"
    val signs = size(split(lower($"text"), " ")) >= 3
    d.filter($"doc_id" % 2 === 0 && $"doc_id" % 3 === 0 && signs)
      .select(($"doc_id" + 700000L).as("doc_id"), $"text")
      .unionByName(d.filter($"doc_id" % 4 === 1))
      .repartition(1).write.parquet(feed)
    val out = tmp("graft-cli-admout") + "/adm"
    val adm = writeCfg(tmp("graft-cli-admcfg2"),
      s"""{"index":"$idx","action":"admit","feed":"$feed","out":"$out",
         |"checkpoint":"${tmp("graft-cli-admckpt")}/ck"}""".stripMargin)
    assert(Main.run(Seq("-index", adm), sess) == 0)
    val admitted = spark.read.parquet(out)
    // no reference copy got through; admitted docs are now index-resident
    assert(admitted.filter($"doc_id" >= 700000L).count() == 0)
    assert(admitted.count() > 0)
    // re-probing copies of the admitted SIGNING docs finds them all
    val probe = admitted.filter(signs)
      .select(($"doc_id" + 50000L).as("doc_id"), $"text")
    assert(graft.text.Dedup.lshNewCandidatesStaged(probe, "doc_id",
      col("text"), idx).select("batch_id").distinct().count() ==
      admitted.filter(signs).count())
    // verify-mode knobs ride through the CLI: an exact ref copy rejects
    // at jaccard 1.0 into the rejects audit, a fresh doc admits, and
    // the compaction cadence leaves one file per touched band bucket
    val feed2 = tmp("graft-cli-admfeed2") + "/in"
    d.filter($"doc_id" % 2 === 0 && $"doc_id" % 3 === 0 && signs)
      .orderBy("doc_id").limit(1)
      .select(($"doc_id" + 900000L).as("doc_id"), $"text")
      .unionByName(Seq((990001L,
        "a genuinely new crawl document about nothing indexed at all"))
        .toDF("doc_id", "text"))
      .repartition(1).write.parquet(feed2)
    val rej = tmp("graft-cli-admrej") + "/rej"
    val refTbl = tmp("graft-cli-admref") + "/ref"
    cat.read("db.ref").write.parquet(refTbl)
    val adm2 = writeCfg(tmp("graft-cli-admcfg3"),
      s"""{"index":"$idx","action":"admit","feed":"$feed2","out":"$out",
         |"checkpoint":"${tmp("graft-cli-admckpt2")}/ck",
         |"verifyJaccard":0.8,"refTexts":"$refTbl","rejects":"$rej",
         |"compactEvery":1}""".stripMargin)
    assert(Main.run(Seq("-index", adm2), sess) == 0)
    assert(spark.read.parquet(out).filter($"doc_id" === 990001L).count() == 1)
    assert(spark.read.parquet(out).filter($"doc_id" >= 900000L &&
      $"doc_id" < 990000L).count() == 0)
    val rejRows = spark.read.parquet(rej)
    assert(rejRows.filter($"doc_id" >= 900000L && $"jaccard" === 1.0)
      .count() >= 1)
    assert(rejRows.filter($"jaccard" < 0.8).count() == 0)
  }

  test("-index kind=flat builds, appends, and gates semantic admission") {
    val root = tmp("graft-cli-flatsrc")
    val cat = new ParquetCatalog(spark, root, "db")
    val e = Tables.load(spark, sf0001, "embeddings")
      .filter($"embedding".isNotNull).select($"vec_id", $"embedding")
    cat.write("db.ref1", e.filter($"vec_id" % 4 === 0))
    cat.write("db.ref2", e.filter($"vec_id" % 4 === 2))
    // probe: exact copies of indexed vectors (rejected at cos = 1) +
    // the odd half (admitted unless a natural near-dup of the evens)
    cat.write("db.probe", e.filter($"vec_id" % 8 === 0)
      .select(($"vec_id" + 700000L).as("vec_id"), $"embedding")
      .unionByName(e.filter($"vec_id" % 2 === 1)))
    val idx = tmp("graft-cli-flat") + "/flatix"
    def cfg(name: String, json: String): String = writeCfg(tmp(name), json)
    assert(Main.run(Seq("-index", cfg("graft-cli-flatcfg1",
      s"""{"source":"$root","namespace":"db.ref1","index":"$idx",
         |"kind":"flat","action":"build","centroids":8}""".stripMargin)),
      sess) == 0)
    assert(Main.run(Seq("-index", cfg("graft-cli-flatcfg2",
      s"""{"source":"$root","namespace":"db.ref2","index":"$idx",
         |"kind":"flat","action":"append"}""".stripMargin)), sess) == 0)
    val out = tmp("graft-cli-flatout") + "/new"
    assert(Main.run(Seq("-index", cfg("graft-cli-flatcfg3",
      s"""{"index":"$idx","action":"query","source":"$root","kind":"flat",
         |"namespace":"db.probe","out":"$out"}""".stripMargin)), sess) == 0)
    val admitted = spark.read.parquet(out)
    assert(admitted.filter($"vec_id" >= 700000L).count() == 0)
    assert(admitted.count() > 0)
    // the engine-side probe agrees with the CLI verb
    assert(admitted.count() ==
      graft.ml.Similarity.vecNewStaged(cat.read("db.probe"), "vec_id",
        "embedding", idx).count())
    // describe reports the IVF drift diagnostic (list occupancy skew)
    val descOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(descOut)) {
      assert(Main.run(Seq("-index", cfg("graft-cli-flatcfg4",
        s"""{"index":"$idx","action":"describe"}""")), sess) == 0)
    }
    assert(descOut.toString.contains("skew(max/mean)"))
    // recluster (drift maintenance) keeps the index probe-able and
    // exact copies of indexed vectors stay rejected under the new
    // geometry (the replay contract)
    assert(Main.run(Seq("-index", cfg("graft-cli-flatcfg5",
      s"""{"index":"$idx","action":"recluster","iters":2}""")), sess) == 0)
    val out2 = tmp("graft-cli-flatout2") + "/new2"
    assert(Main.run(Seq("-index", cfg("graft-cli-flatcfg6",
      s"""{"index":"$idx","action":"query","source":"$root","kind":"flat",
         |"namespace":"db.probe","out":"$out2"}""".stripMargin)), sess) == 0)
    assert(spark.read.parquet(out2).filter($"vec_id" >= 700000L).count() == 0)
  }

  test("-index kind=census builds, appends, probes, and describes a gram census") {
    val root = tmp("graft-cli-censrc")
    val cat = new ParquetCatalog(spark, root, "db")
    val d = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).select($"doc_id", $"text")
    cat.write("db.ref1", d.filter($"doc_id" % 3 === 0))
    cat.write("db.ref2", d.filter($"doc_id" % 3 === 2))
    cat.write("db.batch", d.filter($"doc_id" % 3 === 1))
    val idx = tmp("graft-cli-cens") + "/ix"
    val build = writeCfg(tmp("graft-cli-censcfg1"),
      s"""{"source":"$root","namespace":"db.ref1","index":"$idx",
         |"kind":"census","action":"build","k":40}""".stripMargin)
    assert(Main.run(Seq("-index", build), sess) == 0)
    val append = writeCfg(tmp("graft-cli-censcfg2"),
      s"""{"source":"$root","namespace":"db.ref2","index":"$idx",
         |"kind":"census","action":"append"}""".stripMargin)
    assert(Main.run(Seq("-index", append), sess) == 0)
    val out = tmp("graft-cli-censout") + "/spans"
    val query = writeCfg(tmp("graft-cli-censcfg3"),
      s"""{"source":"$root","namespace":"db.batch","index":"$idx",
         |"kind":"census","action":"query","out":"$out"}""".stripMargin)
    assert(Main.run(Seq("-index", query), sess) == 0)
    // the CLI probe == the API probe against the same staged+appended index
    val api = graft.text.Substrings.newDupSpans(
      cat.read("db.batch"), "doc_id", col("text"), idx)
    val cli = spark.read.parquet(out)
    assert(cli.count() > 0)
    assert(cli.exceptAll(api).isEmpty && api.exceptAll(cli).isEmpty)
    // describe reads the shared manifest (mode recorded)
    val desc = writeCfg(tmp("graft-cli-censcfg4"),
      s"""{"index":"$idx","action":"describe"}""")
    assert(Main.run(Seq("-index", desc), sess) == 0)
    // an anchored append onto an exact index is refused by mode
    val badAppend = writeCfg(tmp("graft-cli-censcfg5"),
      s"""{"source":"$root","namespace":"db.ref2","index":"$idx",
         |"kind":"census","action":"append","mode":"anchored"}""".stripMargin)
    intercept[IllegalArgumentException] { Main.run(Seq("-index", badAppend), sess) }
    // a guarantee knob on an exact build is refused, never dropped
    val badBuild = writeCfg(tmp("graft-cli-censcfg6"),
      s"""{"source":"$root","namespace":"db.ref1","index":"$idx",
         |"kind":"census","action":"build","k":40,"guarantee":80}""".stripMargin)
    intercept[IllegalArgumentException] { Main.run(Seq("-index", badBuild), sess) }
    // compact (index-dir-only, kind off the manifest): probe unchanged
    val compact = writeCfg(tmp("graft-cli-censcfg7"),
      s"""{"index":"$idx","action":"compact"}""")
    assert(Main.run(Seq("-index", compact), sess) == 0)
    val cli2 = spark.read.parquet(out) // stale out: re-probe and compare
    val api2 = graft.text.Substrings.newDupSpans(
      cat.read("db.batch"), "doc_id", col("text"), idx)
    assert(api2.exceptAll(cli2).isEmpty && cli2.exceptAll(api2).isEmpty)
    // compact dispatches on the manifest kind for bm25 layouts too
    val bm = tmp("graft-cli-bm25") + "/ix"
    graft.text.Retrieval.stageBm25(cat.read("db.ref1"), "doc_id",
      col("text"), bm, buckets = 8)
    val bmCompact = writeCfg(tmp("graft-cli-censcfg8"),
      s"""{"index":"$bm","action":"compact"}""")
    assert(Main.run(Seq("-index", bmCompact), sess) == 0)
    // rebucket (corpus-scaled bucket maintenance): probe unchanged,
    // manifest carries the new count
    val rebucket = writeCfg(tmp("graft-cli-censcfg9"),
      s"""{"source":"$root","namespace":"db.batch","index":"$idx",
         |"kind":"census","action":"rebucket","perBucket":100}""".stripMargin)
    assert(Main.run(Seq("-index", rebucket), sess) == 0)
    assert(graft.util.IndexManifest.read(spark, idx).paramInt("buckets")
      > 64)
    val api3 = graft.text.Substrings.newDupSpans(
      cat.read("db.batch"), "doc_id", col("text"), idx)
    assert(api3.exceptAll(cli2).isEmpty && cli2.exceptAll(api3).isEmpty)
  }

  test("-index kind=lsh builds, appends, queries, and compacts a band index") {
    val root = tmp("graft-cli-lshsrc")
    val cat = new ParquetCatalog(spark, root, "db")
    val d = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).select($"doc_id", $"text")
    val reference = d.filter($"doc_id" % 2 === 0)
    cat.write("db.ref1", reference.filter($"doc_id" % 4 === 0))
    cat.write("db.ref2", reference.filter($"doc_id" % 4 === 2))
    // probe batch: tail-mutated copies of reference docs
    cat.write("db.batch", reference.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 500000L).as("doc_id"),
        concat($"text", lit(" near duplicate tail")).as("text")))
    val idx = tmp("graft-cli-lshix") + "/ix"
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-lshcfg1"),
      s"""{"source":"$root","namespace":"db.ref1","index":"$idx",
         |"kind":"lsh","action":"build","buckets":8}""".stripMargin)), sess) == 0)
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-lshcfg2"),
      s"""{"source":"$root","namespace":"db.ref2","index":"$idx",
         |"kind":"lsh","action":"append"}""".stripMargin)), sess) == 0)
    val out = tmp("graft-cli-lshout") + "/pairs"
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-lshcfg3"),
      s"""{"source":"$root","namespace":"db.batch","index":"$idx",
         |"kind":"lsh","action":"query","out":"$out"}""".stripMargin)), sess) == 0)
    // the CLI probe == the direct two-sided run over the whole reference
    val api = graft.text.Dedup.lshNewCandidates(cat.read("db.batch"),
      reference, "doc_id", col("text"))
    val cli = spark.read.parquet(out)
    assert(cli.count() > 0)
    assert(cli.exceptAll(api).isEmpty && api.exceptAll(cli).isEmpty)
    // a re-append of already-indexed ids is refused; a recipe knob on
    // append is refused (the manifest is the contract)
    intercept[IllegalArgumentException] {
      Main.run(Seq("-index", writeCfg(tmp("graft-cli-lshcfg4"),
        s"""{"source":"$root","namespace":"db.ref1","index":"$idx",
           |"kind":"lsh","action":"append"}""".stripMargin)), sess)
    }
    intercept[IllegalArgumentException] {
      Main.run(Seq("-index", writeCfg(tmp("graft-cli-lshcfg5"),
        s"""{"source":"$root","namespace":"db.batch","index":"$idx",
           |"kind":"lsh","action":"query","numHashes":8}""".stripMargin)), sess)
    }
    // compact dispatches on the manifest kind; probe unchanged
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-lshcfg6"),
      s"""{"index":"$idx","action":"compact"}""")), sess) == 0)
    val api2 = graft.text.Dedup.lshNewCandidatesStaged(cat.read("db.batch"),
      "doc_id", col("text"), idx)
    assert(api2.exceptAll(cli).isEmpty && cli.exceptAll(api2).isEmpty)
  }

  test("-index kind=bm25 builds, appends, queries, and compacts an inverted index") {
    val root = tmp("graft-cli-bmsrc")
    val cat = new ParquetCatalog(spark, root, "db")
    val d = Tables.load(spark, sf0001, "documents")
      .filter($"text".isNotNull).select($"doc_id", $"text")
    cat.write("db.half1", d.filter($"doc_id" % 2 === 0))
    cat.write("db.half2", d.filter($"doc_id" % 2 === 1))
    cat.write("db.corpus", d)
    cat.write("db.q", d.filter($"doc_id" < 3))
    val idx = tmp("graft-cli-bmix") + "/ix"
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-bmcfg1"),
      s"""{"source":"$root","namespace":"db.half1","index":"$idx",
         |"kind":"bm25","action":"build","buckets":8}""".stripMargin)), sess) == 0)
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-bmcfg2"),
      s"""{"source":"$root","namespace":"db.half2","index":"$idx",
         |"kind":"bm25","action":"append"}""".stripMargin)), sess) == 0)
    val out = tmp("graft-cli-bmout") + "/hits"
    assert(Main.run(Seq("-index", writeCfg(tmp("graft-cli-bmcfg3"),
      s"""{"source":"$root","namespace":"db.corpus","index":"$idx",
         |"kind":"bm25","action":"query","queries":"db.q","k":4,
         |"out":"$out"}""".stripMargin)), sess) == 0)
    // CLI stage-half+append-half == API restage over the full corpus
    val full = tmp("graft-cli-bmfull") + "/ix"
    graft.text.Retrieval.stageBm25(cat.read("db.corpus"), "doc_id",
      col("text"), full, buckets = 8)
    val api = graft.text.Retrieval.stagedBm25TopK(spark, full,
      cat.read("db.q").select($"doc_id".as("query_id"), $"text".as("qtext")),
      "query_id", col("qtext"), k = 4)
    val cli = spark.read.parquet(out)
    assert(cli.count() > 0)
    assert(cli.exceptAll(api).isEmpty && api.exceptAll(cli).isEmpty)
    // append and query refuse the staged-contract knob
    intercept[IllegalArgumentException] {
      Main.run(Seq("-index", writeCfg(tmp("graft-cli-bmcfg4"),
        s"""{"source":"$root","namespace":"db.half2","index":"$idx",
           |"kind":"bm25","action":"append","buckets":16}""".stripMargin)), sess)
    }
    val e = intercept[IllegalArgumentException] {
      Main.run(Seq("-index", writeCfg(tmp("graft-cli-bmcfg5"),
        s"""{"source":"$root","namespace":"db.corpus","index":"$idx",
           |"kind":"bm25","action":"query","queries":"db.q",
           |"buckets":16}""".stripMargin)), sess)
    }
    assert(e.getMessage.contains("only 'build' takes it"), e.getMessage)
  }

  test("-index: every kind refuses its build knobs off build; unknown actions list the kind's verbs") {
    val root = tmp("graft-cli-knobsrc")
    // never built: the refusals fire before anything is read
    val idx = tmp("graft-cli-knobix") + "/ix"
    def run(kind: String, action: String, extra: String): IllegalArgumentException =
      intercept[IllegalArgumentException] {
        Main.run(Seq("-index", writeCfg(tmp("graft-cli-knobcfg"),
          s"""{"source":"$root","namespace":"db.none","index":"$idx",
             |"kind":"$kind","action":"$action"$extra}""".stripMargin)), sess)
      }
    for (e <- graft.streaming.StagedKinds.all) {
      for (knob <- e.buildKnobs; action <- Seq("append", "query")) {
        val err = run(e.cli, action, s""","$knob":1""")
        assert(err.getMessage.contains(s"${e.cli} config has '$knob'"),
          s"${e.cli} $action $knob: ${err.getMessage}")
      }
      val listed = run(e.cli, "rebuild", "").getMessage
        .split("[(|)]").map(_.trim).toSet
      assert(listed.contains("reap") == e.ivf.nonEmpty, listed)
      assert(listed.contains("admit") == e.admit.nonEmpty, listed)
      assert(e.extra.keys.forall(listed), listed)
    }
  }

  test("-sql runs ad-hoc statements over catalog views with graft functions") {
    val out = tmp("graft-cli-sqlout") + "/res"
    // bare `nation` view (unambiguous) + a registered graft_* function
    val cfg = writeCfg(tmp("graft-cli-sqlcfg"),
      s"""{"source":"$sf0001","out":"$out",
         |"query":"SELECT n_regionkey, count(*) AS n, graft_mask(max(n_name), 'default') AS m FROM nation GROUP BY 1 ORDER BY 1"}""".stripMargin)
    assert(Main.run(Seq("-sql", cfg), sess) == 0)
    val res = spark.read.parquet(out).orderBy("n_regionkey").collect()
    assert(res.length == 5 && res.map(_.getLong(1)).sum == 25L)
    assert(res.head.getString(2).forall(ch => ch == 'X' || !ch.isLetterOrDigit))

    // qualified db_coll view + stdout mode (no out dir)
    val cfg2 = writeCfg(tmp("graft-cli-sqlcfg2"),
      s"""{"source":"$sf0001","limit":3,
         |"query":"SELECT count(*) AS n FROM local_region"}""".stripMargin)
    assert(Main.run(Seq("-sql", cfg2), sess) == 0)

    // a config without a query is rejected
    val bad = writeCfg(tmp("graft-cli-sqlcfg3"), s"""{"source":"$sf0001"}""")
    intercept[IllegalArgumentException] { Main.run(Seq("-sql", bad), sess) }
  }

  test("-optimize rewrites a namespace Z-ordered with size-balanced bins") {
    val out = tmp("graft-cli-opt") + "/events_z"
    val cfg = writeCfg(tmp("graft-cli-optcfg"),
      s"""{"source":"$sf0001","namespace":"local.events","out":"$out",
         |"dims":["user_id","event_id"],"bits":12,
         |"targetBytes":16384,"shardShift":16}""".stripMargin)
    assert(Main.run(Seq("-optimize", cfg), sess) == 0)

    val src = Tables.load(spark, sf0001, "events")
    val laid = spark.read.parquet(out)
    // lossless rewrite: same rows, same columns (+ bin)
    assert(laid.count() == src.count())
    assert(laid.columns.toSet == src.columns.toSet + "bin")
    assert(laid.select("event_id").except(src.select("event_id")).count() == 0)

    // the layout report tiles the row count and respects the size bound
    val report = spark.read.parquet(s"$out/_layout_report")
    assert(report.agg(sum("n_rows")).head().getLong(0) == src.count())
    assert(report.count() > 1, "expect multiple bins at this target size")
    report.select("bytes").collect().foreach(r =>
      assert(r.getLong(0) < 16384 + 128, s"bin overflows: ${r.getLong(0)}"))

    // Z-locality: within each bin the higher-cardinality dim spans a
    // bounded range, not the full domain (the zone-map tightness the
    // layout exists for; the tiny user domain cycles inside each
    // z-block, so tightness shows on the event dimension)
    val spans = laid.groupBy("bin").agg(
      (max("event_id") - min("event_id")).as("de"))
    val fullE = src.agg((max("event_id") - min("event_id")).as("de"))
      .head().getLong(0)
    assert(spans.filter(col("de") < fullE / 2).count() > 0,
      "at least some bins must be tighter than half the event range")

    // missing dims rejected
    val bad = writeCfg(tmp("graft-cli-optcfg2"),
      s"""{"source":"$sf0001","namespace":"local.events","out":"$out"}""")
    intercept[IllegalArgumentException] { Main.run(Seq("-optimize", bad), sess) }
  }

  test("-profile writes the one-scan column profile of a namespace") {
    val out = tmp("graft-cli-prof") + "/report"
    val cfg = writeCfg(tmp("graft-cli-profcfg"),
      s"""{"source":"$sf0001","namespace":"local.nation","out":"$out"}""")
    assert(Main.run(Seq("-profile", cfg), sess) == 0)
    val rep = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))).toMap
    assert(rep.keySet == Tables.load(spark, sf0001, "nation").columns.toSet)
    assert(rep("n_nationkey") == ((0L, 25L, "0", "24")))
    // a bad column list is rejected
    val bad = writeCfg(tmp("graft-cli-profcfg2"),
      s"""{"source":"$sf0001","namespace":"local.nation","columns":["nope"]}""")
    intercept[Exception] { Main.run(Seq("-profile", bad), sess) }
  }

  test("-curate minEntropy gate drops exactly the low-entropy docs") {
    // baseline run (no gate), then re-run with the median entropy as
    // the threshold — the gated manifest must be exactly the baseline
    // rows at/above it
    val outA = tmp("graft-cli-ent") + "/base"
    val cfgA = writeCfg(tmp("graft-cli-entcfgA"),
      s"""{"source":"$sf001","namespace":"local.documents","out":"$outA",
         |"minQuality":0,"langs":["en","fr","es","de"],"salt":"42"}""".stripMargin)
    assert(Main.run(Seq("-curate", cfgA), sess) == 0)
    val base = spark.read.parquet(outA).select("doc_id")
    val ents = base.join(Tables.load(spark, sf001, "documents"), Seq("doc_id"))
      .select($"doc_id", graft.text.TextFunctions.charEntropyCol($"text")
        .getField("entropy_nats").as("e"))
    val cutoff = ents.selectExpr("percentile(e, 0.5)").collect()(0).getDouble(0)
    val outB = tmp("graft-cli-ent") + "/gated"
    val cfgB = writeCfg(tmp("graft-cli-entcfgB"),
      s"""{"source":"$sf001","namespace":"local.documents","out":"$outB",
         |"minQuality":0,"langs":["en","fr","es","de"],"salt":"42",
         |"minEntropy":$cutoff}""".stripMargin)
    assert(Main.run(Seq("-curate", cfgB), sess) == 0)
    val gated = spark.read.parquet(outB).select("doc_id")
    val want = ents.filter($"e" >= cutoff).select("doc_id")
    assert(gated.exceptAll(want).isEmpty && want.exceptAll(gated).isEmpty)
    assert(gated.count() < base.count() && gated.count() > 0)
  }

  test("-tokenize writes BPE merges, fertility, and the encoded twin") {
    val out = tmp("graft-cli-tok") + "/model"
    val cfg = writeCfg(tmp("graft-cli-tokcfg"),
      s"""{"source":"$sf001","namespace":"local.documents","out":"$out",
         |"merges":6,"maxWords":500,"encode":"local.documents"}""".stripMargin)
    assert(Main.run(Seq("-tokenize", cfg), sess) == 0)
    val merges = spark.read.parquet(s"$out/merges")
    assert(merges.columns.toSeq ==
      Seq("rank", "left_sym", "right_sym", "pair_count"))
    assert(merges.count() == 6)
    // the model matches a direct library run exactly
    val (lib, syms) = graft.text.Bpe.trainMerges(
      Tables.load(spark, sf001, "documents"), $"text", 6, 500)
    assert(merges.exceptAll(lib).isEmpty && lib.exceptAll(merges).isEmpty)
    val fert = spark.read.parquet(s"$out/fertility")
    assert(fert.columns.toSet == Set("doc_id", "n_words", "n_tokens"))
    val viaLib = graft.text.Bpe.fertility(
      Tables.load(spark, sf001, "documents"), "doc_id", $"text", syms)
    assert(fert.exceptAll(viaLib).isEmpty && viaLib.exceptAll(fert).isEmpty)
    // encode of the training corpus itself: words all known, so every
    // doc's token cost can only be <= the unmerged char count
    val enc = spark.read.parquet(s"$out/encoded")
    assert(enc.count() == fert.count())
  }

  test("-mine writes rules, basket census, and the triangle census") {
    val out = tmp("graft-cli-mine") + "/mined"
    val cfg = writeCfg(tmp("graft-cli-minecfg"),
      s"""{"source":"$sf001","namespace":"local.lineitem",
         |"basket":"l_orderkey","item":"l_partkey",
         |"minItemSupport":3,"minPairSupport":2,"out":"$out"}""".stripMargin)
    assert(Main.run(Seq("-mine", cfg), sess) == 0)
    val rules = spark.read.parquet(s"$out/rules")
    assert(rules.columns.toSet == Set("item_a", "item_b", "n_baskets",
      "n_a", "n_b", "conf_a_to_b_ppm", "conf_b_to_a_ppm", "lift_ppm"))
    // matches a direct library run exactly
    val lib = graft.ops.Itemsets.rules(
      Tables.load(spark, sf001, "lineitem"), $"l_orderkey", $"l_partkey",
      3, 2)
    assert(rules.exceptAll(lib).isEmpty && lib.exceptAll(rules).isEmpty)
    val cen = spark.read.parquet(s"$out/census")
    assert(cen.count() == 1 &&
      cen.head.getAs[Long]("n_dropped_baskets") == 0L)
    val tri = spark.read.parquet(s"$out/triangles")
    assert(tri.columns.toSeq == Seq("n_nodes", "n_edges", "n_triangles"))
  }

  test("-curate writes the corpus manifest: dedup, gates, split, budgets") {
    val out = tmp("graft-cli-curate") + "/manifest"
    val cfg = writeCfg(tmp("graft-cli-curatecfg"),
      s"""{"source":"$sf001","namespace":"local.documents","out":"$out",
         |"minQuality":3,"langs":["en"],"salt":"42"}""".stripMargin)
    assert(Main.run(Seq("-curate", cfg), sess) == 0)
    val m = spark.read.parquet(out)
    assert(m.columns.toSet ==
      Set("doc_id", "n_tokens", "quality_score", "pred_lang", "bucket", "split"))
    assert(m.count() > 0)
    assert(m.filter($"quality_score" < 3 || $"pred_lang" =!= "en").count() == 0)
    // split assignment matches the library rule exactly (pure function)
    val viaLib = graft.text.Sampling.hashSplit(m.select("doc_id"), $"doc_id", "42",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).select("doc_id", "split")
    assert(m.select("doc_id", "split").exceptAll(viaLib).isEmpty)

    // with a line gate and budgets: fewer docs, budget respected
    val out2 = tmp("graft-cli-curate2") + "/manifest"
    val cfg2 = writeCfg(tmp("graft-cli-curatecfg2"),
      s"""{"source":"$sf001","namespace":"local.documents","out":"$out2",
         |"minQuality":0,"langs":["en"],"budgets":{"en":1000}}""".stripMargin)
    assert(Main.run(Seq("-curate", cfg2), sess) == 0)
    val m2 = spark.read.parquet(out2)
    val toks = m2.agg(sum("n_tokens")).head.getLong(0)
    // budget 1000 tokens, met to bucket resolution (boundary level slack)
    assert(toks > 0 && toks < 2000, s"selected $toks tokens against a 1000 budget")

    // a config without an out dir is rejected
    val bad = writeCfg(tmp("graft-cli-curatecfg3"),
      s"""{"source":"$sf001","namespace":"local.documents"}""")
    intercept[IllegalArgumentException] { Main.run(Seq("-curate", bad), sess) }
  }

  test("-curate substrCut removes cross-doc duplicated spans before scoring") {
    // docs 1 and 2 share an 80-char prefix with distinct tails; the cut
    // must remove EXACTLY the shared region from both (the maximal dup
    // span), so each manifest row counts only its tail's tokens
    val shared =
      "The quick brown fox jumps over the lazy dog and the cat of the house sat still."
    val t1 = "Alpha section keeps the unique content of this one here today."
    val t2 = "Beta part holds the different words of that other one there."
    val srcDir = tmp("graft-cli-curate-substr")
    Seq((1L, s"$shared $t1"), (2L, s"$shared $t2"),
        (3L, "An untouched document where the words of this text stay whole."))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$srcDir/docs.parquet")
    def run(cut: String, outTag: String): Map[Long, Long] = {
      val out = tmp(s"graft-cli-curate-substr-$outTag") + "/manifest"
      val cfg = writeCfg(tmp(s"graft-cli-curate-substrcfg-$outTag"),
        s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
           |"minQuality":0,"langs":["en"]$cut}""".stripMargin)
      assert(Main.run(Seq("-curate", cfg), sess) == 0)
      spark.read.parquet(out).select("doc_id", "n_tokens").as[(Long, Long)]
        .collect().toMap
    }
    val without = run("", "off")
    val withCut = run(""","substrCut":40""", "on")
    def nTok(s: String): Long = s.trim.split("\\s+").length.toLong
    assert(without(1L) == nTok(s"$shared $t1"))
    assert(withCut(1L) == nTok(t1), s"doc 1 kept ${withCut(1L)} tokens")
    assert(withCut(2L) == nTok(t2), s"doc 2 kept ${withCut(2L)} tokens")
    assert(withCut(3L) == without(3L)) // span-free doc untouched

    // anchored mode (the 100 TB default): same knob shape, winnow-
    // anchored span surface — a SUBSET of the exact cut, so each doc
    // keeps at least the exact-mode tokens and sheds at least one
    // shared-prefix token (the 81-char shared run ≥ the default
    // guarantee of substrCut+24 = 64 guarantees an anchor collision)
    val withAnch = run(""","substrCut":40,"substrMode":"anchored"""", "anch")
    assert(withAnch(1L) < without(1L), "anchored cut removed nothing from doc 1")
    assert(withAnch(2L) < without(2L), "anchored cut removed nothing from doc 2")
    assert(withAnch(1L) >= withCut(1L) && withAnch(2L) >= withCut(2L),
      "anchored cut removed MORE than the exact surface")
    assert(withAnch(3L) == without(3L)) // span-free doc untouched
    // a bad mode string fails loudly, never silently falls back to exact
    intercept[IllegalArgumentException] {
      run(""","substrCut":40,"substrMode":"banded"""", "badmode")
    }

    // incremental cut against a FROZEN staged census (substrIndex):
    // docs 1/2 duplicate the staged reference's shared run, doc 3
    // duplicates nothing — the probe rule (newDupSpans: in-reference
    // OR repeated in-batch) cuts 1/2 and leaves 3 whole
    val refDir = tmp("graft-cli-curate-refidx")
    graft.text.Substrings.stageGramCensus(
      Seq((100L, s"$shared Reference corpus copy one of that prefix here."))
        .toDF("doc_id", "text"),
      "doc_id", col("text"), k = 40, dir = refDir)
    val viaIdx = run(s""","substrIndex":"$refDir"""", "idx")
    assert(viaIdx(1L) < without(1L) && viaIdx(2L) < without(2L),
      "index cut removed nothing from the reference-duplicating docs")
    assert(viaIdx(3L) == without(3L)) // non-duplicating doc untouched
    // substrCut + substrIndex together are refused, and knobs the
    // index would silently override are refused too
    intercept[IllegalArgumentException] {
      run(s""","substrCut":40,"substrIndex":"$refDir"""", "both")
    }
    intercept[IllegalArgumentException] {
      run(s""","substrIndex":"$refDir","substrMode":"anchored"""", "modeidx")
    }
    // substrHash keys the cut census: on the EXACT surface the cut is
    // hash-invariant (spans are equality-of-key facts); it is refused
    // wherever it would be ignored (no cut; index — manifest decides)
    val withCutX = run(""","substrCut":40,"substrHash":"xxh64"""", "cutx")
    assert(withCutX(1L) == withCut(1L) && withCutX(2L) == withCut(2L) &&
      withCutX(3L) == withCut(3L))
    intercept[IllegalArgumentException] {
      run(""","substrHash":"xxh64"""", "hashnocut")
    }
    intercept[IllegalArgumentException] {
      run(s""","substrIndex":"$refDir","substrHash":"xxh64"""", "hashidx")
    }
    // anchored + xxh64 rank hash is ACCEPTED (round 12): selection
    // differs from md5 but the window guarantee holds — the planted
    // 120-char shared prefix (≥ guarantee = 64) is still cut on both
    // reference-duplicating docs
    val anchX = run(
      ""","substrCut":40,"substrMode":"anchored","substrHash":"xxh64"""",
      "hashanch")
    assert(anchX(1L) < without(1L) && anchX(2L) < without(2L),
      "anchored xxh64 cut removed nothing from the duplicating docs")
  }

  test("-curate stream: drains on arrival, second run is incremental, state survives runs") {
    val srcDir = tmp("graft-cli-stcur")
    val out = tmp("graft-cli-stcur-out") + "/curated"
    val ckpt = tmp("graft-cli-stcur-ckpt") + "/ckpt"
    val good1 = "the quick brown fox jumps over the lazy dog today"
    val good2 = "pack my box with five dozen liquor jugs mail me at a.b@x.io now"
    Seq((1L, good1, "2024-01-01 10:00:00"),
        (2L, "a b c 1 2 3 4 5 6 7", "2024-01-01 10:00:10")) // low alpha → gated out
      .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(s"$srcDir/docs.parquet")
    val cfg = writeCfg(tmp("graft-cli-stcurcfg"),
      s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
         |"minQuality":3,"langs":["en"],
         |"stream":{"checkpoint":"$ckpt","timeCol":"t"}}""".stripMargin)
    assert(Main.run(Seq("-curate", cfg), sess) == 0)
    val run1 = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(run1 == Set(1L))
    // files landing AFTER the first drain: a dup of doc 1 (must be
    // dropped by state RESTORED FROM THE CHECKPOINT) + a new good doc
    Seq((3L, good1, "2024-01-01 10:00:20"), // exact dup of run 1's doc 1
        (4L, good2, "2024-01-01 10:00:30"))
      .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(s"$srcDir/docs.parquet")
    assert(Main.run(Seq("-curate", cfg), sess) == 0)
    val run2 = spark.read.parquet(out)
      .select("doc_id", "scrubbed").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // incremental: run 2 added ONLY doc 4 (3 deduped across CLI runs —
    // the gate's state lives in the checkpoint, not the JVM)
    assert(run2.keySet == Set(1L, 4L))
    assert(run2(4L).contains("<EMAIL>"))
    // batch-only knobs are refused in stream mode
    val bad = writeCfg(tmp("graft-cli-stcurcfg2"),
      s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
         |"substrCut":40,
         |"stream":{"checkpoint":"$ckpt","timeCol":"t"}}""".stripMargin)
    intercept[IllegalArgumentException] { Main.run(Seq("-curate", bad), sess) }
    val bad2 = writeCfg(tmp("graft-cli-stcurcfg3"),
      s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
         |"stream":{"checkpoint":"$ckpt","timeCol":"t","appendAfterCut":true}}""".stripMargin)
    intercept[IllegalArgumentException] { Main.run(Seq("-curate", bad2), sess) }
    val bad3 = writeCfg(tmp("graft-cli-stcurcfg4"),
      s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
         |"stream":{"checkpoint":"$ckpt","timeCol":"nope"}}""".stripMargin)
    intercept[IllegalArgumentException] { Main.run(Seq("-curate", bad3), sess) }
  }

  test("-curate stream with substrIndex: on-arrival index cut + append-after-cut") {
    val boiler = "the shared duplicated boilerplate run appears here verbatim"
    val idxDir = tmp("graft-cli-stcuridx") + "/census"
    graft.text.Substrings.stageGramCensus(
      Seq((100L, s"reference document one containing $boiler inside it"))
        .toDF("doc_id", "text"),
      "doc_id", col("text"), k = 12, dir = idxDir, buckets = 4)
    val srcDir = tmp("graft-cli-stcuridx-src")
    val p = "the quick brown fox jumps over the lazy dog today "
    val run = "a run of text repeated across micro batches here today"
    // file 1 carries the reference boilerplate (cut via the index) and
    // plants `run`; file 2 repeats `run` (cut only via append-after-cut)
    Seq((10L, p + boiler + " " + run, "2024-01-01 10:00:00"))
      .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(s"$srcDir/docs.parquet")
    Thread.sleep(300)
    Seq((11L, "pack my box with five dozen liquor jugs quickly today " + run,
        "2024-01-01 10:00:10"))
      .toDF("doc_id", "text", "t").withColumn("t", to_timestamp(col("t")))
      .coalesce(1).write.mode("append").parquet(s"$srcDir/docs.parquet")
    val out = tmp("graft-cli-stcuridx-out") + "/curated"
    val cfg = writeCfg(tmp("graft-cli-stcuridxcfg"),
      s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
         |"minQuality":3,"langs":["en"],"substrIndex":"$idxDir",
         |"stream":{"checkpoint":"${tmp("graft-cli-stcuridx-ck")}/ckpt",
         |"timeCol":"t","maxFilesPerTrigger":1,
         |"appendAfterCut":true,"compactEvery":1}}""".stripMargin)
    assert(Main.run(Seq("-curate", cfg), sess) == 0)
    val got = spark.read.parquet(out).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(10L, 11L))
    // the reference boilerplate is cut from doc 10; its planted run
    // survives (first arrival) and is appended, so doc 11's repeat of
    // the run is cut on arrival
    assert(!got(10L).contains(boiler) && got(10L).contains(run))
    assert(!got(11L).contains(run))
  }

  test("-curate audit: entropy and budget drops are named; fates partition the namespace") {
    val good1 = "the quick brown fox jumps over the lazy dog and the cat sits today"
    val good2 = "pack my box with five dozen liquor jugs and mail the parcel today"
    val good3 = "we all agree that good fences make good neighbors said the farmer"
    val srcDir = tmp("graft-cli-auditsrc")
    Seq(
      (1L, good1), (2L, good2), (3L, good3),
      (4L, good1), // byte-identical dup of 1
      (5L, "aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa aaaa"), // low entropy
      (6L, "a b c 1 2 3 4 5 6 7 8 9"), // low quality
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$srcDir/docs.parquet")
    val out = tmp("graft-cli-auditout") + "/manifest"
    val adir = tmp("graft-cli-auditout2") + "/audit"
    // en budget of 30 tokens: the three good docs carry ~13 each, so
    // the hashed admission keeps a strict subset — at least one
    // dropped_budget row must appear
    val cfg = writeCfg(tmp("graft-cli-auditcfg"),
      s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
         |"minQuality":3,"langs":["en"],"minEntropy":2.0,
         |"budgets":{"en":30},"audit":"$adir"}""".stripMargin)
    assert(Main.run(Seq("-curate", cfg), sess) == 0)
    val fates = spark.read.parquet(adir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates.size == 7, "one fate row per namespace document")
    assert(fates(4L) == "dropped_duplicate")
    assert(fates(5L) == "dropped_entropy")
    assert(fates(6L) == "dropped_quality")
    assert(fates(7L) == "dropped_null_text")
    val goodFates = Seq(1L, 2L, 3L).map(fates)
    assert(goodFates.forall(f => f == "kept" || f == "dropped_budget"),
      goodFates.toString)
    assert(goodFates.contains("dropped_budget"), "budget must bind")
    // fates reconcile exactly with the manifest: kept == selected ids
    val selected = spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSet
    assert(fates.filter(_._2 == "kept").keySet == selected)
    // audit is batch-only: refused with a stream config
    val bad = writeCfg(tmp("graft-cli-auditcfg2"),
      s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
         |"audit":"$adir","stream":{"checkpoint":"x","timeCol":"t"}}""".stripMargin)
    intercept[IllegalArgumentException] { Main.run(Seq("-curate", bad), sess) }
  }

  test("-curate dedups on RAW text before the line gate (stream-surface parity)") {
    // docs 1 and 2 differ in raw text but gate to the identical kept
    // line; doc 3 is a raw duplicate of doc 1. Dedup-before-gate (the
    // DocStream.curateStream order) keeps 1 and 2 and drops only 3 —
    // gating first would key the dedup on gated text and collapse 1
    // and 2 as well, making the batch and stream surfaces select
    // different corpora.
    val kept = "The quick brown fox jumps over the lazy dog today."
    val srcDir = tmp("graft-cli-curate-raw")
    Seq(
      (1L, kept + "\nshort junk"),
      (2L, kept + "\nother filler junk"),
      (3L, kept + "\nshort junk"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$srcDir/docs.parquet")
    val out = tmp("graft-cli-curate-raw-out") + "/manifest"
    val cfg = writeCfg(tmp("graft-cli-curate-rawcfg"),
      s"""{"source":"$srcDir","namespace":"local.docs","out":"$out",
         |"minQuality":0,"langs":["en"],"lineGate":3}""".stripMargin)
    assert(Main.run(Seq("-curate", cfg), sess) == 0)
    val ids = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L), s"got $ids")
  }

  test("-sql on a multi-db catalog: qualified views always, bare only when unambiguous") {
    import graft.sources.MultiDbParquetCatalog
    val root = tmp("graft-cli-sqlmdb")
    val cat = new MultiDbParquetCatalog(spark, root)
    val rows = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    cat.write("db1.shared", rows)
    cat.write("db2.shared", rows) // same collection name in two dbs
    cat.write("db1.only", rows)
    val out = tmp("graft-cli-sqlmdbout") + "/res"
    // db1_shared and db2_shared resolve; bare `only` resolves (unique)
    val cfg = writeCfg(tmp("graft-cli-sqlmdbcfg"),
      s"""{"source":"$root","out":"$out",
         |"query":"SELECT (SELECT count(*) FROM db1_shared) + (SELECT count(*) FROM db2_shared) + (SELECT count(*) FROM only) AS n"}""".stripMargin)
    assert(Main.run(Seq("-sql", cfg), sess) == 0)
    assert(spark.read.parquet(out).head().getLong(0) == 6L)
    // bare `shared` must NOT exist (ambiguous across dbs)
    val cfg2 = writeCfg(tmp("graft-cli-sqlmdbcfg2"),
      s"""{"source":"$root","query":"SELECT count(*) FROM shared"}""")
    intercept[Exception] { Main.run(Seq("-sql", cfg2), sess) }
  }

  test("-compare with compare_mode=chunked walks splitter blocks and agrees with bucketed") {
    val target = tmp("graft-cli-chunkcmp")
    val source = new ParquetCatalog(spark, sf0001, "src")
    val sink = new ParquetCatalog(spark, target, "src")
    sink.write("src.nation", source.read("src.nation"))
    def cfgWith(mode: String) = writeCfg(tmp(s"graft-cli-chunkcmp-$mode"),
      s"""{"command":"all","source":"$sf0001","target":"$target",
         |"compare_mode":"$mode","block":7,
         |"includes":[{"namespace":"src.nation"}]}""".stripMargin)
    assert(Main.run(Seq("-compare", cfgWith("chunked")), sess) == 0)
    // perturb one row: both modes must flag it
    sink.write("src.nation", sink.read("src.nation")
      .withColumn("n_regionkey",
        when($"n_nationkey" === 3, $"n_regionkey" + 7).otherwise($"n_regionkey"))
      .localCheckpoint(true))
    assert(Main.run(Seq("-compare", cfgWith("chunked")), sess) == 2)
    assert(Main.run(Seq("-compare", cfgWith("bucketed")), sess) == 2)
    // unknown mode is a config error
    intercept[IllegalArgumentException] {
      graft.config.MigratorConfig.parse(
        """{"command":"all","source":"s","target":"t","compare_mode":"zigzag"}""")
    }
  }

  test("-start with command=index replicates index definitions only") {
    val target = tmp("graft-cli-idx-target")
    val cfg = writeCfg(tmp("graft-cli-idxcfg"),
      s"""{"command":"index","source":"$sf0001","target":"$target",
         |"spool":"${tmp("graft-cli-idx-spool")}","port":36352,
         |"includes":[{"namespace":"src.nation"}]}""".stripMargin)
    assert(Main.run(Seq("-start", cfg), sess) == 0)
    val sink = new ParquetCatalog(spark, target, "src")
    val m = Manifest.load(spark, sink)
    assert(m.collections.isEmpty && m.indexes.nonEmpty)
    assert(!sink.dataExists("src.nation")) // no data phase ran
  }

  test("-start with buckets lays the sink out bucketed; a killed commit recovers on -resume") {
    import scala.jdk.CollectionConverters._
    def bucketDirs(p: java.nio.file.Path): Seq[String] = {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_bucket=")).toSeq
      finally s.close()
    }
    val spool = tmp("graft-cli-bk-spool")
    Simgen.changeLog(spark, 30, "src.gen")
      .write.mode("overwrite").parquet(s"$spool/changelog")
    val target = tmp("graft-cli-bk-target")
    val json =
      s"""{"command":"all","source":"$sf0001","target":"$target",
         |"spool":"$spool","port":36354,"buckets":16,
         |"includes":[{"namespace":"src.gen"}]}""".stripMargin
    val cfgFile = writeCfg(tmp("graft-cli-bkcfg"), json)
    assert(Main.run(Seq("-start", cfgFile), sess) == 0)

    // the stream-fed table landed in the hash-bucket partition layout
    val table = Paths.get(target, "gen.parquet")
    assert(bucketDirs(table).nonEmpty)
    val sink = new ParquetCatalog(spark, target, "src", buckets = 16)
    assert(sink.read("src.gen").count() > 0)

    // kill mid-commit: live moved aside, staging died before its
    // sentinel — the on-disk state of a process killed mid-publish
    val aside = Paths.get(target, "gen.parquet.__old__")
    Files.move(table, aside)
    val staging = Paths.get(target, "gen.parquet.__staging__")
    Files.createDirectory(staging)
    Files.write(staging.resolve("part-00000.parquet"), Array[Byte](0, 1, 2))

    // fresh churn beyond the consumed offsets gives the restarted
    // stream a real micro-batch to merge into the recovered table
    Simgen.changeLog(spark, 10, "src.gen", t0 = 1800000000L)
      .write.mode("append").parquet(s"$spool/changelog")
    assert(Main.run(Seq("-resume", cfgFile), sess) == 0)
    assert(Files.exists(table) && !Files.exists(aside) && !Files.exists(staging))
    assert(bucketDirs(table).nonEmpty)

    // recovered-then-resumed table == both logs folded from scratch
    val cfg = graft.config.MigratorConfig.parse(json)
    val fresh = new ParquetCatalog(spark, tmp("graft-cli-bk-fresh"), "src")
    graft.streaming.ApplyJob.catchUp(spark, s"$spool/changelog", fresh, cfg,
      tmp("graft-cli-bk-freshckpt"))
    val got = sink.read("src.gen")
    val want = fresh.read("src.gen")
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("-start with tail:true follows a moving feed until stopped, then exits 0") {
    val spool = tmp("graft-cli-tail-spool")
    Simgen.changeLog(spark, 20, "src.gen")
      .write.mode("overwrite").parquet(s"$spool/changelog")
    val target = tmp("graft-cli-tail-target")
    val cfg = writeCfg(tmp("graft-cli-tailcfg"),
      s"""{"command":"all","source":"$sf0001","target":"$target",
         |"spool":"$spool","port":36355,"tail":true,
         |"includes":[{"namespace":"src.gen"}]}""".stripMargin)

    // the CLI blocks in the tail phase — run it off-thread
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rc = Future(Main.run(Seq("-start", cfg), sess))

    // the catch-up query shares the tail query's name — the status
    // phase flipping to "live tail" (set after the tail stream starts)
    // is the signal that the blocking-phase query is the TAIL
    val deadline = System.currentTimeMillis() + 120000
    def phase(): String =
      try {
        val c = new java.net.URL("http://localhost:36355/status")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try new String(c.getInputStream.readAllBytes(), "UTF-8")
        finally c.disconnect()
      } catch { case _: java.io.IOException => "" }
    while (!phase().contains("live tail") && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    val q = spark.streams.active.find(_.name.startsWith("graft-apply-"))
      .getOrElse(fail("tail stream never started"))

    val sink = new ParquetCatalog(spark, target, "src")
    assert(sink.read("src.gen").count() > 0) // catch-up drained the backlog
    Simgen.changeLog(spark, 15, "src.gen", t0 = 1800000000L)
      .write.mode("append").parquet(s"$spool/changelog")
    // the LIVE tail (not the catch-up) must apply the new batch — its
    // applied counter is published through the status endpoint (the
    // counter belongs to the tail Handle alone, so any nonzero value is
    // post-catch-up work; net row count may go any direction, the new
    // feed churns existing ids)
    def applied(): Long =
      "\"applied\":(\\d+)".r.findFirstMatchIn(phase()).map(_.group(1).toLong).getOrElse(0L)
    while (applied() == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(applied() > 0)

    q.stop() // operator shutdown — SIGTERM's shutdown hook does the same
    assert(Await.result(rc, 60.seconds) == 0)
    assert(sink.read("src.gen").count() > 0)
  }

  test("-resume converges a half-copied target") {
    val target = tmp("graft-cli-res-target")
    val source = new ParquetCatalog(spark, sf0001, "src")
    val sink = new ParquetCatalog(spark, target, "src")
    sink.write("src.region", source.read("src.region").limit(2))
    val cfg = writeCfg(tmp("graft-cli-rescfg"),
      s"""{"command":"all","source":"$sf0001","target":"$target",
         |"spool":"${tmp("graft-cli-res-spool")}","port":36353,
         |"includes":[{"namespace":"src.nation"},{"namespace":"src.region"}]}""".stripMargin)
    assert(Main.run(Seq("-resume", cfg), sess) == 0)
    assert(sink.read("src.region").count() == source.read("src.region").count())
    assert(sink.read("src.nation").count() == source.read("src.nation").count())
  }
}
