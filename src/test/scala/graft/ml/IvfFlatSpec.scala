package graft.ml

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The IVF-flat staged kind — the exact-threshold SEMANTIC admission
  * tier: raw quantized vectors partitioned by IVF list, probed with the
  * integer cosine test. Pins: staged probe == a driver-side reference
  * on the same arithmetic, append == restage, new-ids guard, list
  * pruning, broadcast == shuffle strategy, degenerate staging. */
class IvfFlatSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.load(spark, sf0001, "embeddings")
    .filter(col("embedding").isNotNull)

  private def quantized(df: org.apache.spark.sql.DataFrame)
      : Map[Long, IndexedSeq[Long]] =
    df.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
      .as[(Long, Array[Long])].collect()
      .map { case (id, q) => id -> q.toIndexedSeq }.toMap

  /** Driver-side reference of [[Similarity.vecNewStaged]]'s admission
    * decision: probes = top-`nprobe` centroids by (dot desc, idx asc),
    * reject iff any reference vector ASSIGNED to a probed list passes
    * dot > 0 ∧ 10⁶·dot² ≥ p²·n2_q·n2_r (BigInt — the engine's
    * DECIMAL(38,0)). */
  private def admittedRef(batch: Map[Long, IndexedSeq[Long]],
      ref: Map[Long, IndexedSeq[Long]], cents: IndexedSeq[Seq[Long]],
      nprobe: Int, p: Long): Set[Long] = {
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def probes(v: Seq[Long]): Seq[Int] =
      cents.zipWithIndex.map { case (c, i) => (-dot(v, c), i + 1) }
        .sorted.take(nprobe).map(_._2)
    def assign(v: Seq[Long]): Int = probes(v).head
    val refLists = ref.map { case (id, v) => id -> assign(v) }
    batch.collect { case (qid, qv)
        if !refLists.exists { case (rid, rl) =>
          probes(qv).contains(rl) && {
            val d = dot(qv, ref(rid))
            val n2q = dot(qv, qv); val n2r = dot(ref(rid), ref(rid))
            d > 0 && BigInt(1000000) * BigInt(d) * BigInt(d) >=
              BigInt(p) * BigInt(p) * BigInt(n2q) * BigInt(n2r)
          }
        } => qid
    }.toSet
  }

  test("staged IVF-flat admission == driver reference; append == restage; pruning") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val reference = emb.filter(col("vec_id") < 100)
    // batch: exact copies of reference vectors (must reject) + fresh ones
    val batch = reference.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") >= 100 && col("vec_id") < 140)
        .select(col("vec_id"), col("embedding")))
    val dir = java.nio.file.Files.createTempDirectory("flatidx").toString
    Similarity.stageIvfFlat(reference.filter(col("vec_id") < 60),
      "vec_id", "embedding", numCentroids = 8, dir = dir)
    Similarity.appendIvfFlat(reference.filter(col("vec_id") >= 60),
      "vec_id", "embedding", dir = dir)
    val admitted = Similarity.vecNewStaged(batch, "vec_id", "embedding",
      dir, minCosPermille = 900, nprobe = 2)
    val got = admitted.select("vec_id").as[Long].collect().toSet
    // centroids are frozen from the STAGED half (first 8 by id)
    val cents = Similarity.ivfCentroids(reference.filter(col("vec_id") < 60),
      "vec_id", "embedding", 8)
    val want = admittedRef(quantized(batch), quantized(reference), cents,
      nprobe = 2, p = 900L)
    assert(got == want)
    // every exact copy is rejected (identical vector probes its
    // original's list; cos = 1); at least one fresh vector is admitted
    assert(got.forall(_ < 5000L) && got.nonEmpty)
    // static pruning: the vecs scan carries a partition filter on `list`
    // (pinned on the LAZY rejected frame — vecNewStaged's return is an
    // eagerly checkpointed RDD whose plan no longer shows the scan)
    val rejected = SimilarityOracles.vecRejectedFrame(batch, "vec_id",
      "embedding", dir, minCosPermille = 900, nprobe = 2)
    val plan = rejected.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val vecScans = plan.collect { case s: FileSourceScanExec => s }
      .filter(_.metadata.get("Location").exists(_.contains("vecs")))
    assert(vecScans.nonEmpty && vecScans.forall(_.partitionFilters.nonEmpty),
      s"vecs scan reads every partition:\n$plan")
    // the shuffle strategy (cap = 0) is row-identical to the broadcast
    val bulk = Similarity.vecNewStaged(batch, "vec_id", "embedding", dir,
        minCosPermille = 900, nprobe = 2, broadcastCap = 0)
      .select("vec_id").as[Long].collect().toSet
    assert(bulk == got)
  }

  test("appendIvfFlat: an already-indexed id refuses before writing") {
    val reference = emb.filter(col("vec_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("flatguard").toString
    Similarity.stageIvfFlat(reference.filter(col("vec_id") < 30),
      "vec_id", "embedding", numCentroids = 4, dir = dir)
    val dirty = reference.filter(col("vec_id") >= 30)
      .unionByName(reference.filter(col("vec_id") === 5))
    val before = spark.read.parquet(s"$dir/vecs").count()
    val e = intercept[IllegalArgumentException] {
      Similarity.appendIvfFlat(dirty, "vec_id", "embedding", dir = dir)
    }
    assert(e.getMessage.contains("existing id"))
    assert(spark.read.parquet(s"$dir/vecs").count() == before)
    Similarity.appendIvfFlat(reference.filter(col("vec_id") >= 30),
      "vec_id", "embedding", dir = dir)
    assert(spark.read.parquet(s"$dir/vecs").count() == reference.count())
  }

  test("compactIvfFlat: one file per list, admission-identical, count refreshed") {
    val reference = emb.filter(col("vec_id") < 80)
    val batch = emb.filter(col("vec_id") >= 80 && col("vec_id") < 110)
    val dir = java.nio.file.Files.createTempDirectory("flatcompact").toString
    Similarity.stageIvfFlat(reference.filter(col("vec_id") < 40),
      "vec_id", "embedding", numCentroids = 4, dir = dir)
    for (s <- 40 until 80 by 10)
      Similarity.appendIvfFlat(
        reference.filter(col("vec_id") >= s && col("vec_id") < s + 10),
        "vec_id", "embedding", dir = dir)
    def admittedNow() = Similarity.vecNewStaged(batch, "vec_id", "embedding",
      dir, nprobe = 2).select("vec_id").as[Long].collect().toSet
    val before = admittedNow()
    Similarity.compactIvfFlat(spark, dir)
    assert(admittedNow() == before)
    val mf = graft.util.IndexManifest.read(spark, dir)
    assert(mf.counts.get("n_vectors").contains(reference.count()))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/vecs"))
      .filter(_.getPath.getName.startsWith("list="))
    assert(listDirs.nonEmpty && listDirs.forall(d =>
      fs.listStatus(d.getPath).count(f =>
        f.getPath.getName.endsWith(".parquet")) == 1))
  }

  test("reclusterIvfFlat: drift re-balances lists; copies still reject; geometry consistent") {
    import graft.util.IndexManifest
    // staged geometry: 4 unit axes in 6 dims → centroids = the axes
    def axis(i: Int): Array[Float] = Array.tabulate(6)(j => if (j == i) 1f else 0f)
    val staged = (0 until 4).map(i => (i.toLong, axis(i)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("flatrecl").toString
    Similarity.stageIvfFlat(staged, "vec_id", "embedding",
      numCentroids = 4, dir = dir)
    // drift: 40 vectors on an arc in the e5–e6 plane — orthogonal to
    // every frozen centroid, so ALL tie at dot 0 and pile into list 1
    val arc = (0 until 40).map { i =>
      val phi = i * (math.Pi / 2) / 39
      (100L + i, Array.tabulate(6)(j =>
        if (j == 4) math.cos(phi).toFloat
        else if (j == 5) math.sin(phi).toFloat else 0f))
    }.toDF("vec_id", "embedding")
    Similarity.appendIvfFlat(arc, "vec_id", "embedding", dir = dir)
    val before = Similarity.listSkew(spark, dir)
    assert(before.maxList >= 40, s"drift did not pile up: $before")
    Similarity.reclusterIvfFlat(spark, dir, iters = 3)
    val after = Similarity.listSkew(spark, dir)
    // no rows lost, centroid count preserved, manifest valid again
    assert(after.nVectors == before.nVectors && after.centroids == 4)
    val mf = IndexManifest.validate(spark, dir, IndexManifest.KindIvfFlat)
    assert(mf.paramInt("centroids") == 4 &&
      mf.counts.get("n_vectors").contains(44L))
    // the drifted mass split across re-seeded centroids: skew dropped
    assert(after.maxList < before.maxList && after.skew < before.skew,
      s"recluster did not rebalance: $before -> $after")
    // every stored row is assigned under the PUBLISHED centroids
    // (vecs and meta flipped together — the generation commit); the
    // live pair resolves through the manifest's gen param
    assert(mf.params.get("gen").contains("1"))
    val cents = spark.read.parquet(s"$dir/meta.g1").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Long](1)).toIndexedSeq
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val rows = spark.read.parquet(s"$dir/vecs.g1").select("q", "list")
      .collect().map(r => (r.getSeq[Long](0), r.getInt(1)))
    assert(rows.length == 44 && rows.forall { case (q, l) =>
      val dots = cents.map(c => dot(q, c))
      dots.indexOf(dots.max) + 1 == l
    })
    // the pre-recluster pair survives as the read-grace copy: a probe
    // that resolved the old manifest just before the flip still reads
    // a complete consistent index
    val fsg = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsg.exists(new org.apache.hadoop.fs.Path(dir, "vecs")) &&
      fsg.exists(new org.apache.hadoop.fs.Path(dir, "meta")))
    // exact copies of EVERY indexed vector still reject: a copy probes
    // its original's list under ANY geometry (probe and storage share
    // the published centroids — the replay contract survives recluster)
    val copies = staged.unionByName(arc)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
    assert(Similarity.vecNewStaged(copies, "vec_id", "embedding", dir,
      nprobe = 2).count() == 0)
    // appends keep working against the new geometry
    Similarity.appendIvfFlat(
      Seq((500L, Array.tabulate(6)(j => if (j == 3) -1f else 0f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir = dir)
    assert(Similarity.listSkew(spark, dir).nVectors == 45L)
    // recluster refuses non-flat kinds via the manifest
    intercept[IllegalArgumentException] {
      Similarity.reclusterIvfFlat(spark,
        java.nio.file.Files.createTempDirectory("notanidx").toString)
    }
  }

  test("reclusterIvfFlat crash windows: no dead window — every crash leaves a live generation") {
    import graft.util.IndexManifest
    val reference = emb.filter(col("vec_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("flatreclcrash").toString
    Similarity.stageIvfFlat(reference, "vec_id", "embedding",
      numCentroids = 4, dir = dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(dir, n)
    // a recluster that died BEFORE its manifest flip (during the
    // next-generation writes) leaves the live index fully intact —
    // probes and appends keep working on generation 0, and nothing
    // reads the half-written next generation
    fs.mkdirs(p("vecs.g1")): Unit // the half-written next gen
    fs.mkdirs(p("meta.g1")): Unit
    // pre-generation recluster tmps from an older layout are equally
    // dead weight
    fs.mkdirs(p("vecs.__recluster__")): Unit
    fs.mkdirs(p("meta.__recluster__")): Unit
    assert(IndexManifest.validate(spark, dir, IndexManifest.KindIvfFlat)
      .params.get("gen").isEmpty)
    val copies = reference.select((col("vec_id") + 9000L).as("vec_id"),
      col("embedding"))
    assert(Similarity.vecNewStaged(copies, "vec_id", "embedding", dir)
      .count() == 0)
    // the NEXT recluster clears every stale non-live dir and publishes
    // generation 1 with one atomic manifest rewrite
    Similarity.reclusterIvfFlat(spark, dir, iters = 1)
    assert(Similarity.listSkew(spark, dir).nVectors == reference.count())
    assert(!fs.exists(p("vecs.__recluster__")) &&
      !fs.exists(p("meta.__recluster__")))
    assert(IndexManifest.read(spark, dir).params.get("gen").contains("1"))
    // generation 0 survives as the read-grace copy...
    assert(fs.exists(p("vecs")) && fs.exists(p("meta")))
    // ...and is reaped by the recluster AFTER it (g1 becomes grace)
    Similarity.reclusterIvfFlat(spark, dir, iters = 1)
    assert(IndexManifest.read(spark, dir).params.get("gen").contains("2"))
    assert(!fs.exists(p("vecs")) && !fs.exists(p("meta")))
    assert(fs.exists(p("vecs.g1")) && fs.exists(p("vecs.g2")))
    assert(Similarity.vecNewStaged(copies, "vec_id", "embedding", dir)
      .count() == 0)
    // an interrupted RESTAGE (stage is invalidate-first) still reads
    // fail-closed — the generation design removes recluster's dead
    // window, not stage's
    IndexManifest.invalidate(spark, dir)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.vecNewStaged(copies, "vec_id", "embedding", dir)
    }
    assert(e1.getMessage.contains("not a graft index"))
    // recovery is an explicit restage; stale generation dirs from the
    // pre-restage life are cleared by the next recluster
    Similarity.stageIvfFlat(reference, "vec_id", "embedding",
      numCentroids = 4, dir = dir)
    assert(Similarity.vecNewStaged(copies, "vec_id", "embedding", dir)
      .count() == 0)
    Similarity.reclusterIvfFlat(spark, dir, iters = 1)
    assert(!fs.exists(p("vecs.g2")), "stale pre-restage generation kept")
    assert(Similarity.vecNewStaged(copies, "vec_id", "embedding", dir)
      .count() == 0)
  }

  test("reclusterIvfFlat is reader-atomic: concurrent probes never observe a half-published index") {
    val reference = emb.filter(col("vec_id") < 60)
    val dir = java.nio.file.Files.createTempDirectory("flatreclconc").toString
    Similarity.stageIvfFlat(reference, "vec_id", "embedding",
      numCentroids = 4, dir = dir)
    // exact copies reject under ANY geometry (a copy probes the same
    // lists as its original) — the probe invariant that must hold
    // through the flip
    val copies = reference
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    @volatile var failure: Option[Throwable] = None
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      while (!stop.get()) {
        try {
          val adm = Similarity.vecNewStaged(copies, "vec_id",
            "embedding", dir)
          val n = adm.count()
          graft.util.LocalCkpt.release(adm)
          if (n != 0) throw new IllegalStateException(
            s"copies admitted mid-recluster: $n")
          probes.incrementAndGet(): Unit
        } catch {
          case e: Throwable => failure = Some(e); stop.set(true)
        }
      }
    })
    t.start()
    try {
      // let the prober get going, then flip the generation under it
      while (probes.get() < 2 && failure.isEmpty) Thread.sleep(50)
      Similarity.reclusterIvfFlat(spark, dir, iters = 1)
      // and keep probing on the new generation a little
      val after = probes.get()
      while (probes.get() < after + 2 && failure.isEmpty) Thread.sleep(50)
    } finally { stop.set(true); t.join() }
    assert(failure.isEmpty, s"concurrent probe threw: $failure")
    graft.util.LocalCkpt.release(copies)
  }

  test("reapIvfGrace reclaims the flat grace generation early; probes/appends keep working") {
    val reference = emb.filter(col("vec_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("flatreap").toString
    Similarity.stageIvfFlat(reference, "vec_id", "embedding",
      numCentroids = 4, dir = dir)
    val copies = reference.select((col("vec_id") + 9000L).as("vec_id"),
      col("embedding"))
    Similarity.reclusterIvfFlat(spark, dir, iters = 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(dir, n)
    assert(fs.exists(p("vecs")) && fs.exists(p("meta")))
    // the operator declares readers drained: grace goes, live stays
    assert(Similarity.reapIvfGrace(spark, dir) == Seq("meta", "vecs"))
    assert(!fs.exists(p("vecs")) && !fs.exists(p("meta")))
    assert(Similarity.vecNewStaged(copies, "vec_id", "embedding", dir)
      .count() == 0)
    assert(Similarity.reapIvfGrace(spark, dir).isEmpty)
    // append + the next recluster keep working after a reap
    Similarity.appendIvfFlat(
      emb.filter(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", dir = dir)
    Similarity.reclusterIvfFlat(spark, dir, iters = 1)
    assert(Similarity.listSkew(spark, dir).nVectors == 50L)
  }

  test("an all-null-embedding corpus refuses to stage (no centroid geometry)") {
    // unlike the id-free kinds, the centroids ARE the index geometry —
    // an empty stage could never hold a vector, so it fails loudly
    val dir = java.nio.file.Files.createTempDirectory("flatempty").toString
    val unsigned = Seq((1L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.stageIvfFlat(unsigned, "vec_id", "embedding",
        numCentroids = 4, dir = dir)
    }
    assert(e.getMessage.contains("no non-null embeddings"))
    // a single-vector corpus is a valid geometry: stage, probe, append
    val one = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding"))
    Similarity.stageIvfFlat(one, "vec_id", "embedding",
      numCentroids = 4, dir = dir)
    val batch = emb.filter(col("vec_id") >= 1 && col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    Similarity.appendIvfFlat(batch, "vec_id", "embedding", dir)
    val copies = batch.select((col("vec_id") + 9000L).as("vec_id"),
      col("embedding"))
    assert(Similarity.vecNewStaged(copies, "vec_id", "embedding", dir)
      .count() == 0)
  }
}
