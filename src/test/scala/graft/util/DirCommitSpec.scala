package graft.util

import graft.SparkSpec
import graft.sources.ParquetCatalog
import graft.text.{Dedup, Substrings}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins [[DirCommit]]'s crash contract by enumeration, not by picked
  * kill points: every commit user (a bucketed catalog merge with its
  * marker, a plain merge, a census compaction, an overlapped band-index
  * compaction) is re-run once per filesystem step with a fault injected
  * before that step, then reopened fresh. The reopened result must equal
  * the fault-free run, with no staging or aside dir left behind. */
class DirCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally walk.close()
  }

  private def debris(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq
      .filter(n => n.endsWith(".__staging__") || n.endsWith(".__old__"))

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Runs `op` on a copy of `base` counting the commit steps, then once
    * per step N on a fresh copy with a fault before step N. `reopen`
    * reads a copy back through a fresh catalog or handle (finishing the
    * operation when the fault rolled it back); it must equal the
    * fault-free copy's reading. Its flag says whether the fault came
    * after the first sentinel write, i.e. the commit was sealed. The
    * next commit's entry recovery must then leave no staging or aside.
    * Returns the step count. */
  private def everyStep[A](base: String)(op: String => Unit)
      (reopen: (String, Boolean) => A): Int = {
    val clean = tmp("commit-clean")
    copyTree(base, clean)
    val counter = new DirCommit.Fault(clean, failAt = 0)
    DirCommit.fault = Some(counter)
    try op(clean) finally DirCommit.fault = None
    val want = reopen(clean, true)
    val steps = counter.steps.get
    val sealedAt = counter.names.asScala.toSeq.indexOf(DirCommit.Sentinel) + 1
    assert(sealedAt > 0, s"no sentinel among ${counter.names}")
    for (n <- 1 to steps) {
      val dir = tmp(s"commit-fault-$n")
      copyTree(base, dir)
      DirCommit.fault = Some(new DirCommit.Fault(dir, failAt = n))
      val e = try intercept[IllegalStateException](op(dir)) finally DirCommit.fault = None
      assert(e.getMessage.contains(s"injected fault before step $n "), e.getMessage)
      assert(reopen(dir, n > sealedAt) == want, s"fault before step $n: reopened state differs")
      DirCommit.recoverUnder(fs, new Path(dir))
      assert(debris(dir).isEmpty, s"fault before step $n left ${debris(dir)}")
    }
    steps
  }

  private val ns = "app.t"
  private def rows(lo: Int, hi: Int, tag: String) =
    (lo until hi).map(i => (i.toLong, s"$tag$i")).toDF("k", "v")

  /** Catalog state as a restarted reader sees it: rows, marker, count. */
  private def catalogState(dir: String, buckets: Int) = {
    val cat = new ParquetCatalog(spark, dir, "app", buckets = buckets)
    val data = cat.read(ns).orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    (data, cat.readMarker(ns, "batch"),
      DirCommit.readFile(fs, new Path(cat.tablePath(ns), "_graft_count")))
  }

  /** A merge interrupted by a fault either published (marker 2) or
    * left the pre-merge table exactly (marker 1, data unchanged); in the
    * latter case the replay finishes it — the exactly-once contract.
    * Once sealed, a merge must roll forward: the reopen alone already
    * reads marker 2. */
  private def everyStepOfMerge(buckets: Int): Int = {
    val base = tmp("commit-cat-base")
    val seed = new ParquetCatalog(spark, base, "app", buckets = buckets)
    seed.merge(ns, rows(0, 24, "a"), rows(0, 0, "").select("k"), "k", Some("batch" -> "1"))
    val before = catalogState(base, buckets)
    // one upserted and one deleted key: a bucketed merge rewrites at
    // most two of the buckets and carries the rest
    val ups = rows(3, 4, "b")
    val dels = Seq(17L).toDF("k")
    def merge(dir: String): Unit = {
      new ParquetCatalog(spark, dir, "app", buckets = buckets)
        .merge(ns, ups, dels, "k", Some("batch" -> "2")): Unit
    }
    everyStep(base)(merge) { (dir, isSealed) =>
      val s = catalogState(dir, buckets)
      if (s._2.contains("2")) s
      else {
        assert(!isSealed, "a sealed merge must roll forward, not back")
        assert(s == before, "a rolled-back merge must leave the pre-merge table")
        merge(dir)
        catalogState(dir, buckets)
      }
    }
  }

  test("every-step faults: bucketed catalog merge with marker") {
    // write, marker, count, rewritten list, sentinel, aside, ≥ 2
    // carries, publish, drop aside
    assert(everyStepOfMerge(buckets = 4) >= 10)
  }

  test("every-step faults: plain catalog merge") {
    // write, marker, count, sentinel, aside, publish, drop aside
    assert(everyStepOfMerge(buckets = 0) == 7)
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "a slow green turtle crawls under the old bridge by the river bank"),
    (3L, "the quick brown fox jumps over the sleepy cat near the old mill"),
    (4L, "seven tiny robots dance on a shiny table while the kettle boils"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (6L, "a slow green turtle crawls under the old bridge by the mill pond"))
    .toDF("doc_id", "text")

  test("every-step faults: census compaction") {
    val base = tmp("commit-census-base")
    Substrings.stageGramCensus(docs.filter($"doc_id" <= 3), "doc_id", col("text"),
      k = 12, dir = base, buckets = 2)
    Substrings.appendGramCensus(docs.filter($"doc_id" > 3), "doc_id", col("text"), base)
    val probe = docs.select(($"doc_id" + 100).as("doc_id"), $"text")
    val steps = everyStep(base)(Substrings.compactCensus(spark, _)) { (dir, _) =>
      // the probe opens the index, which recovers first
      val spans = Substrings.newDupSpans(probe, "doc_id", col("text"), dir)
        .collect().map(_.toString).sorted.toSeq
      val census = spark.read.parquet(s"$dir/census").groupBy("h").agg(sum("n"))
        .collect().map(_.toString).sorted.toSeq
      (spans, census)
    }
    // census then stats: write, sentinel, aside, publish, drop aside each
    assert(steps == 10)
  }

  test("every-step faults: overlapped band-index compaction") {
    val base = tmp("commit-bands-base")
    Dedup.stageBandIndex(docs.filter($"doc_id" <= 3), "doc_id", col("text"), base,
      buckets = 4)
    Dedup.appendBandIndex(docs.filter($"doc_id" > 3), "doc_id", col("text"), base)
    val batch = docs.select(($"doc_id" + 100).as("doc_id"),
      concat($"text", lit(" again")).as("text"))
    var candidates = 0
    val steps = everyStep(base)(Dedup.compactBandIndex(spark, _)) { (dir, _) =>
      val cands = Dedup.lshNewCandidatesStaged(batch, "doc_id", col("text"), dir)
        .collect().map(_.toString).sorted.toSeq
      candidates = cands.size
      val bands = spark.read.parquet(s"$dir/bands").distinct()
        .collect().map(_.toString).sorted.toSeq
      val ids = spark.read.parquet(s"$dir/ids").select("ref_id").distinct()
        .collect().map(_.toString).sorted.toSeq
      (cands, bands, ids)
    }
    assert(candidates > 0)
    // bands ∥ ids: write, sentinel, aside, publish, drop aside each
    assert(steps == 10)
  }

  test("a write that produces nothing aborts BEFORE touching the live layout") {
    val live = new Path(tmp("commit-empty"), "census")
    fs.mkdirs(live)
    intercept[IllegalArgumentException] {
      DirCommit.run(fs, live)(_ => DirCommit.Staged(()))
    }
    assert(fs.exists(live) && !fs.exists(DirCommit.asideOf(live)))
    assert(!fs.exists(DirCommit.stagingOf(live)))
  }

  test("a second commit of a directory in flight in this JVM is refused") {
    val live = new Path(tmp("commit-twice"), "data")
    val first = DirCommit.begin(fs, live)
    try intercept[IllegalArgumentException](DirCommit.begin(fs, live))
    finally first.close()
    DirCommit.begin(fs, live).close() // released: a new commit may enter
  }

  test("a rebucket whose stats commit fails to enter releases the census commit") {
    val dir = tmp("commit-rebucket-enter")
    Substrings.stageGramCensus(docs, "doc_id", col("text"), k = 12, dir = dir, buckets = 2)
    // debris the stats commit's entry recovery discards: fault that step
    fs.mkdirs(DirCommit.stagingOf(new Path(dir, "stats")))
    DirCommit.fault = Some(new DirCommit.Fault(dir, failAt = 1))
    try intercept[IllegalStateException](
      Substrings.rebucketCensus(spark, dir, perBucket = 1L, cap = 128))
    finally DirCommit.fault = None
    DirCommit.begin(fs, new Path(dir, "census")).close()
  }

  test("a second thread's commit of the same dir waits, then lands on top") {
    val live = new Path(tmp("commit-wait"), "data")
    def put(f: Path, v: String): Unit = {
      val o = fs.create(f); try o.write(v.getBytes) finally o.close()
    }
    put(new Path(live, "part-0"), "v0")
    val first = DirCommit.begin(fs, live)
    @volatile var second: Option[scala.util.Try[Unit]] = None
    val t = new Thread(() => second = Some(scala.util.Try(
      DirCommit.run(fs, live) { st => put(new Path(st, "part-0"), "v2"); DirCommit.Staged(()) })))
    try {
      first.write(st => put(new Path(st, "part-0"), "v1"))
      t.start()
      val deadline = System.currentTimeMillis() + 10000
      while (t.getState != Thread.State.WAITING && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      assert(t.getState == Thread.State.WAITING && second.isEmpty,
        s"the second commit did not wait: ${t.getState} $second")
      assert(fs.exists(first.staging), "the waiting commit touched the running one")
      first.commit()
    } finally first.close()
    t.join()
    assert(second.exists(_.isSuccess), s"the second commit failed: $second")
    assert(DirCommit.readFile(fs, new Path(live, "part-0")).contains("v2"))
    assert(debris(live.getParent.toString).isEmpty)
  }

  test("a probe rolls forward a sealed compaction staging beside live") {
    val dir = tmp("commit-sealed")
    Substrings.stageGramCensus(docs.filter($"doc_id" <= 3), "doc_id", col("text"),
      k = 12, dir = dir, buckets = 2)
    Substrings.appendGramCensus(docs.filter($"doc_id" > 3), "doc_id", col("text"), dir)
    def spans() = Substrings.newDupSpans(docs, "doc_id", col("text"), dir)
      .collect().map(_.toString).sorted.toSeq
    val want = spans()
    def files(bkt: Int): Int =
      new java.io.File(s"$dir/census/bkt=$bkt").list().count(_.endsWith(".parquet"))
    assert(files(0) > 1, "the append left one file per bucket")
    // a compaction that died after sealing the census staging, before
    // moving live aside: the commit is complete, so a reader finishes it
    val counter = new DirCommit.Fault(dir, failAt = 3)
    DirCommit.fault = Some(counter)
    try intercept[IllegalStateException](Substrings.compactCensus(spark, dir))
    finally DirCommit.fault = None
    assert(counter.names.asScala.toSeq.take(3) == Seq("write", DirCommit.Sentinel, "aside"))
    assert(Files.exists(Paths.get(dir, "census.__staging__", DirCommit.Sentinel)))
    assert(spans() == want)
    assert(debris(dir).isEmpty, s"the probe left ${debris(dir)}")
    assert(files(0) == 1 && files(1) == 1, "the sealed compaction was not published")
  }

  test("a stranded mid-swap state recovers at the probe to the pre-crash output") {
    val dir = tmp("commit-stranded")
    Substrings.stageGramCensus(docs, "doc_id", col("text"), k = 12, dir = dir, buckets = 2)
    def spans() = Substrings.newDupSpans(docs, "doc_id", col("text"), dir)
      .collect().map(_.toString).sorted.toSeq
    val want = spans()
    assert(want.nonEmpty)
    // a compaction that died after moving live aside: the staging was
    // never sealed, so the probe's validate rolls back to the aside
    Files.move(Paths.get(dir, "census"), Paths.get(dir, "census.__old__"))
    Files.createDirectory(Paths.get(dir, "census.__staging__"))
    assert(spans() == want)
    assert(debris(dir).isEmpty)
  }

  test("a reader's roll-forward racing its writer's publish loses no version") {
    // a sealed commit of a partitioned dir: `k=0` rewritten, `k=1`
    // carried. Its writer runs in another process and has already
    // decided each step, so its moves (aside, then carry and publish,
    // then drop aside) land between any two filesystem calls of a
    // reader rolling the same commit forward. A writer step that fails
    // ends that writer. The reader may fail when the writer's publish
    // splits around one of its calls (the run that loses a rename
    // fails), never when that publish lands whole between two of them.
    // A reader that returns reads the new version, and whatever the
    // interleaving, the next gate finds it
    def put(f: Path, v: String): Unit = {
      val p = Paths.get(f.toUri.getPath)
      Files.createDirectories(p.getParent)
      Files.write(p, v.getBytes): Unit
    }
    def arrange(live: Path): Unit = {
      Seq("0", "1").foreach(k => put(new Path(live, s"k=$k/part-0"), s"old$k"))
      val st = DirCommit.stagingOf(live)
      put(new Path(st, "k=0/part-0"), "new0")
      put(new Path(st, "_graft_touched"), "0")
      put(new Path(st, DirCommit.Sentinel), "")
    }
    def read(live: Path) =
      Seq("0", "1").map(k => DirCommit.readFile(fs, new Path(live, s"k=$k/part-0")))
    final class Racing(at: Int => Unit) extends org.apache.hadoop.fs.FilterFileSystem(fs) {
      var calls = 0
      private def call[A](f: => A): A = { calls += 1; at(calls); f }
      override def getFileStatus(p: Path) = call(super.getFileStatus(p))
      override def listStatus(p: Path) = call(super.listStatus(p))
      override def delete(p: Path, r: Boolean) = call(super.delete(p, r))
      override def rename(a: Path, b: Path) = call(super.rename(a, b))
      override def open(p: Path, n: Int) = call(super.open(p, n))
    }
    val counted = new Racing(_ => ())
    val calm = new Path(tmp("commit-race-calm"), "data")
    arrange(calm)
    DirCommit.settle(counted, calm)
    val want = Seq(Some("new0"), Some("old1"))
    assert(read(calm) == want)
    val points = counted.calls + 2
    val root = tmp("commit-race")
    var cases = 0
    for (a <- 1 to points; b <- a to points; c <- b to points) {
      val live = new Path(s"$root/$a-$b-$c", "data")
      arrange(live)
      val st = DirCommit.stagingOf(live); val aside = DirCommit.asideOf(live)
      def move(from: Path, to: Path): Unit =
        Files.move(Paths.get(from.toUri.getPath), Paths.get(to.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      val writer = Seq[(Int, () => Unit)](
        a -> (() => move(live, aside)),
        b -> (() => move(new Path(aside, "k=1"), new Path(st, "k=1"))),
        b -> (() => move(st, live)),
        c -> (() => fs.delete(aside, true): Unit))
      var next = 0
      def play(at: Int): Unit =
        while (next < writer.size && writer(next)._1 <= at) {
          next = if (scala.util.Try(writer(next)._2()).isSuccess) next + 1 else writer.size
        }
      val where = s"writer steps at reader calls $a/$b/$c"
      val reader = scala.util.Try(DirCommit.settle(new Racing(play), live))
      assert(reader.isSuccess || a < b, s"$where failed the reader: $reader")
      if (reader.isSuccess)
        assert(read(live) == want, s"$where: the reader returned beside ${read(live)}")
      play(points)
      DirCommit.settle(fs, live)
      assert(read(live) == want, s"$where lost a version: ${read(live)}")
      DirCommit.begin(fs, live).close()
      assert(debris(live.getParent.toString).isEmpty, s"$where left debris")
      cases += 1
    }
    assert(cases > 100)
  }

  test("a probe leaves a staging beside live to the next commit") {
    val dir = tmp("commit-foreign")
    Substrings.stageGramCensus(docs, "doc_id", col("text"), k = 12, dir = dir, buckets = 2)
    def spans() = Substrings.newDupSpans(docs, "doc_id", col("text"), dir)
      .collect().map(_.toString).sorted.toSeq
    val want = spans()
    // what a compaction running in another process shows mid-write: an
    // unsealed staging beside live. Deleting it would destroy that
    // writer's output, so only the next commit here may clear it
    val staging = Paths.get(dir, "census.__staging__")
    Files.createDirectory(staging)
    Files.write(staging.resolve("part-0"), Array[Byte](1))
    assert(spans() == want)
    assert(Files.exists(staging.resolve("part-0")))
    Substrings.compactCensus(spark, dir)
    assert(debris(dir).isEmpty)
    assert(spans() == want)
  }

  test("a staging deleted under a commit fails it instead of publishing") {
    val live = new Path(tmp("commit-vanish"), "data")
    def put(f: Path, v: String): Unit = {
      val o = fs.create(f); try o.write(v.getBytes) finally o.close()
    }
    put(new Path(live, "part-0"), "old")
    def written(st: Path): Unit = put(new Path(st, "part-0"), "new")
    // deleted during the write, as another process's recovery would
    intercept[IllegalArgumentException] {
      DirCommit.run(fs, live) { st => written(st); fs.delete(st, true); DirCommit.Staged(()) }
    }
    // deleted after the write, just before sealing: the sentinel must
    // not recreate the dir and publish it empty
    val c = DirCommit.begin(fs, live)
    try {
      c.write(written)
      fs.delete(c.staging, true)
      intercept[java.io.IOException](c.commit())
    } finally c.close()
    assert(DirCommit.readFile(fs, new Path(live, "part-0")).contains("old"))
    assert(!fs.exists(DirCommit.asideOf(live)) && !fs.exists(DirCommit.stagingOf(live)))
  }

  test("validate during an in-flight compaction leaves its staging alone") {
    val dir = tmp("commit-inflight")
    val data = Seq((1L, 0L), (2L, 1L), (3L, 0L)).toDF("id", "bkt")
    StagedIndex.stage(spark, dir, "demo", Map.empty) {
      data.write.partitionBy("bkt").parquet(s"$dir/data")
      Map("n_rows" -> 3L)
    }
    val staging = DirCommit.stagingOf(new Path(dir, "data"))
    val slow = udf { (id: Long) => Thread.sleep(400); id }
    @volatile var result: Option[scala.util.Try[IndexManifest]] = None
    val t = new Thread(() => result = Some(scala.util.Try(
      StagedIndex.compact(spark, dir, "demo") { _ =>
        Seq(StagedIndex.Layout("data", Some("bkt"), _.withColumn("id", slow($"id"))))
      } { _ => Map("n_rows" -> 3L) })))
    t.start()
    var sawStaging = false
    while (t.isAlive) {
      // a probe's entry point: validate finishes a sealed or stranded
      // commit, but must leave this running one, whose staging is
      // unsealed while it writes, alone
      IndexManifest.validate(spark, dir, "demo")
      sawStaging ||= fs.exists(staging)
      Thread.sleep(20)
    }
    t.join()
    assert(result.get.isSuccess, s"compaction killed by a concurrent probe: ${result.get}")
    assert(sawStaging, "the probes never overlapped the staging write")
    assert(spark.read.parquet(s"$dir/data").orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L), (2L, 1L), (3L, 0L)))
    assert(debris(dir).isEmpty)
  }
}
