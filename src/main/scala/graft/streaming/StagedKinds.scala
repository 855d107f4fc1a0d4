package graft.streaming

import graft.config.CliConfig
import graft.ml.Similarity
import graft.text.{Dedup, Retrieval, Substrings}
import graft.util.IndexManifest
import graft.util.IndexManifest._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The staged-kind table: one entry per [[IndexManifest]] kind, the
  * single place that maps a manifest's `kind` — or a `-index` config's
  * CLI `kind` — to its verbs. Every kind-agnostic call site — `-index`
  * (every action), [[DocStream.ingestStream]],
  * [[Similarity.reapIvfGrace]] and [[Similarity.listSkew]] — looks the
  * kind up here instead of matching on it, so a new kind touches this
  * table and its own module and nothing else. */
object StagedKinds {

  /** Opens a kind's streamed append ONCE per stream — (spark, index
    * dir, id column, value column, assumeNewIds) → the per-micro-batch
    * append. Kinds with an index handle (the census) open it here, so
    * no batch pays a manifest read. The value column is the text
    * (bm25 / census / bands / fingerprints) or the embedding (IVF). The
    * CLI `append` goes through the same function. */
  type Appender = (SparkSession, String, String, String, Boolean) => DataFrame => Unit

  /** The generation layout of an IVF kind: the base data-layout name
    * (`vecs` / `codes`) and the kind's recluster verb (spark, dir,
    * iters). */
  final case class Ivf(base: String, recluster: (SparkSession, String, Int) => Unit) {
    /** The live (data, meta) dir names under a manifest. */
    def live(mf: IndexManifest): (String, String) = Similarity.ivfNames(base, mf)
  }

  /** What a config-resolved `-index` verb (build / append / query /
    * an extra verb) reads: the parsed config, the index dir, the id and
    * value columns (config keys or the entry's defaults), the config's
    * corpus namespace and the source catalog's reader. */
  final case class Args(spark: SparkSession, conf: CliConfig, index: String,
      id: String, value: String, ns: String, read: String => DataFrame) {
    def corpus: DataFrame = read(ns)
    /** The probe namespace: `"queries"`, default the corpus itself. */
    def queries: DataFrame = read(conf.str("queries", ns))
  }

  /** What an admission gate reads: the parsed config (for the options
    * only that gate has), the streamed feed, its id and value columns,
    * the index, the admitted-rows sink, the checkpoint, the compaction
    * cadence and the optional rejects-audit sink. */
  final case class AdmitArgs(conf: CliConfig, feed: DataFrame, id: String,
      value: String, index: String, out: String, checkpoint: String,
      compactEvery: Int, rejects: Option[String])

  /** An index-resident admission gate and what it rejects on. */
  final case class Gate(label: String, start: AdmitArgs => StreamingQuery)

  /** The `-index` actions that resolve the kind from the index's
    * manifest rather than from the config. */
  val ManifestVerbs: Seq[String] =
    Seq("ingest", "admit", "compact", "recluster", "reap", "describe")

  /** One staged kind. `cli` is its `-index` `"kind"` name; `id` the
    * default id column; `value` both the config key and the default of
    * the value column. `build` stages the corpus and names what it
    * built; `query` probes the `queries` namespace in output order.
    * `buildKnobs` are the keys only `build` reads — the staged values
    * are the index's contract, so every other verb refuses them.
    * `check` validates a non-build verb's config against the index;
    * `extra` holds the verbs only this kind has (each returns its
    * report line). */
  final case class Entry(kind: String, cli: String, id: String, value: String,
      buildKnobs: Seq[String], build: Args => String, query: Args => DataFrame,
      append: Appender, compact: (SparkSession, String) => Unit,
      ivf: Option[Ivf] = None, admit: Option[Gate] = None,
      check: Args => Unit = _ => (),
      extra: Map[String, Args => String] = Map.empty) {

    /** Every `-index` action this kind answers. */
    def verbs: Seq[String] =
      Seq("build", "append", "query") ++ extra.keys.toSeq.sorted ++
        ManifestVerbs.filter {
          case "admit" => admit.nonEmpty
          case "recluster" | "reap" => ivf.nonEmpty
          case _ => true
        }

    /** The one rule for every non-build verb: a build knob would be
      * silently ignored, so it is refused. */
    def refuseBuildKnobs(conf: CliConfig): Unit =
      buildKnobs.foreach(f => require(!conf.has(f),
        s"$cli config has '$f' but the index's staged value is the " +
          "contract — drop it (only 'build' takes it)"))
  }

  /** The census discipline a config names (default exact). */
  private def censusMode(conf: CliConfig): String = {
    val mode = conf.str("mode", "exact")
    require(Set("exact", "anchored")(mode),
      s"census mode must be exact|anchored, got $mode")
    mode
  }

  val all: Seq[Entry] = Seq(
    /* `ivfpq` (the default CLI kind): the IVF-PQ ANN retrieval index
      * ([[Similarity.stageIvfPq]]). Build takes `"centroids"` (64),
      * `"m"` (4), `"ksub"` (16); query returns each probe row's top
      * `"k"` (5) neighbors within `"nprobe"` (4) probed lists, as
      * (query_id, neighbor_id, rank, ...). */
    Entry(KindIvfPq, "ivfpq", "vec_id", "embedding",
      Seq("centroids", "m", "ksub"),
      build = a => {
        Similarity.stageIvfPq(a.corpus, a.id, a.value,
          numCentroids = a.conf.int("centroids", 64), m = a.conf.int("m", 4),
          ksub = a.conf.int("ksub", 16), dir = a.index)
        "index"
      },
      query = a => Similarity.stagedIvfPqTopK(a.spark, a.index, a.queries,
          a.id, a.value, k = a.conf.int("k", 5), nprobe = a.conf.int("nprobe", 4))
        .orderBy("query_id", "rank"),
      append = (_, dir, id, value, assumeNewIds) =>
        b => Similarity.appendIvfPq(b, id, value, dir, assumeNewIds),
      compact = Similarity.compactIvfPq,
      ivf = Some(Ivf("codes", Similarity.reclusterIvfPq))),
    /* `flat`: the IVF-flat vector index ([[Similarity.stageIvfFlat]]) —
      * the exact-threshold SEMANTIC admission tier next to the PQ
      * retrieval tier. Build takes `"centroids"` (64); query returns the
      * probe namespace's genuinely-new vectors (no indexed neighbor of
      * cosine ≥ `"minCos"`/1000, default 900, within `"nprobe"` probed
      * lists, default 4). Its admit gate ([[DocStream.admitVecStream]])
      * takes the same two knobs plus `"reclusterSkew"` (with
      * compactEvery: auto-recluster at compaction points whenever
      * list-occupancy skew reads ≥ s) and `"reclusterIters"` (3). */
    Entry(KindIvfFlat, "flat", "vec_id", "embedding", Seq("centroids"),
      build = a => {
        Similarity.stageIvfFlat(a.corpus, a.id, a.value,
          numCentroids = a.conf.int("centroids", 64), dir = a.index)
        "ivf-flat index"
      },
      query = a => Similarity.vecNewStaged(a.queries, a.id, a.value, a.index,
          minCosPermille = a.conf.int("minCos", 900),
          nprobe = a.conf.int("nprobe", 4))
        .orderBy(a.id),
      append = (_, dir, id, value, assumeNewIds) =>
        b => Similarity.appendIvfFlat(b, id, value, dir, assumeNewIds),
      compact = Similarity.compactIvfFlat,
      ivf = Some(Ivf("vecs", Similarity.reclusterIvfFlat)),
      admit = Some(Gate("semantic", g => DocStream.admitVecStream(g.feed,
        g.id, g.value, g.index, g.out, g.checkpoint,
        minCosPermille = g.conf.int("minCos", 900),
        nprobe = g.conf.int("nprobe", 4), compactEvery = g.compactEvery,
        reclusterSkew = g.conf.double("reclusterSkew", 0.0),
        reclusterIters = g.conf.int("reclusterIters", 3),
        rejectsPath = g.rejects)))),
    /* `census`: the substring-dedup gram census
      * ([[Substrings.stageGramCensus]] / [[Substrings.stageAnchorCensus]])
      * — the reference side of `-curate`'s `substrIndex` incremental
      * cut. Build takes `"k"` (40), `"buckets"` (64),
      * `"mode": "exact"|"anchored"` (+ `"guarantee"`, default k+24,
      * anchored only) and `"hash": "md5"|"xxh64"` (md5 default —
      * oracle-recomputable; xxh64 stores 8-byte census keys, 4× smaller,
      * the production choice at scale). Every other verb takes the
      * whole discipline from the index's manifest: a `"mode"` that
      * contradicts it is refused. Query writes the probe namespace's
      * duplicated spans. `rebucket` resizes an append-grown census to
      * `"perBucket"` (1024) grams per bucket ([[Substrings.rebucketCensus]]
      * — stage-grade commit; re-open any handles after). */
    Entry(KindGramCensus, "census", "doc_id", "text",
      Seq("k", "buckets", "guarantee", "hash"),
      build = a => {
        val mode = censusMode(a.conf)
        val k = a.conf.int("k", 40)
        require(!a.conf.has("guarantee") || mode == "anchored",
          "census config has 'guarantee' but mode is not 'anchored' — " +
            "guarantee only parameterizes the anchored census")
        // hash is a build-time param for BOTH modes: exact spans are
        // hash-invariant; anchored selection changes with the rank
        // hash but keeps the window guarantee (Substrings.winnowRows)
        val hash = a.conf.str("hash", Substrings.HashMd5)
        val buckets = a.conf.int("buckets", 64)
        if (mode == "anchored")
          Substrings.stageAnchorCensus(a.corpus, a.id, col(a.value), k,
            guarantee = a.conf.int("guarantee", k + 24), dir = a.index,
            buckets = buckets, hash = hash)
        else
          Substrings.stageGramCensus(a.corpus, a.id, col(a.value), k,
            dir = a.index, buckets = buckets, hash = hash)
        s"$mode census"
      },
      query = a => Substrings.probeIndex(a.queries, a.id, col(a.value), a.index)
        .orderBy(a.id, "span_start"),
      append = (spark, dir, id, value, _) => {
        val idx = Substrings.openIndex(spark, dir)
        b => Substrings.appendToIndex(b, id, col(value), idx, maxChars = 0)
      },
      compact = Substrings.compactCensus,
      check = a => {
        val mode = censusMode(a.conf)
        if (a.conf.has("mode")) {
          val im = Substrings.censusMode(
            IndexManifest.validate(a.spark, a.index, KindGramCensus))
          require(mode == im,
            s"config mode '$mode' contradicts the index's '$im' discipline")
        }
      },
      extra = Map("rebucket" -> (a => {
        val nb = Substrings.rebucketCensus(a.spark, a.index,
          perBucket = a.conf.int("perBucket", 1024).toLong)
        s"rebucketed ${a.index} to $nb buckets"
      }))),
    /* `bm25`: the staged BM25 inverted index ([[Retrieval.stageBm25]])
      * — the lexical retrieval surface. Build takes `"buckets"` (64);
      * append folds NEW documents in at batch cost; query scores the
      * `"queries"` namespace (same id/text columns) against the index,
      * top `"k"` (5) as (query_id, doc-id, rank, score). */
    Entry(KindBm25, "bm25", "doc_id", "text", Seq("buckets"),
      build = a => {
        Retrieval.stageBm25(a.corpus, a.id, col(a.value), a.index,
          buckets = a.conf.int("buckets", 64))
        "bm25 index"
      },
      query = a => {
        // queries usually share the corpus' column names — rename so
        // the output's (query_id, doc-id) pair never collides
        val qs = a.queries.select(col(a.id).as("query_id"),
          col(a.value).as("qtext"))
        Retrieval.stagedBm25TopK(a.spark, a.index, qs, "query_id",
            col("qtext"), k = a.conf.int("k", 5))
          .orderBy("query_id", "rank")
      },
      append = (_, dir, id, value, assumeNewIds) =>
        b => Retrieval.appendBm25(b, id, col(value), dir, assumeNewIds),
      compact = Retrieval.compactBm25),
    /* `lsh`: the MinHash band index ([[Dedup.stageBandIndex]]) — the
      * reference side of near-dup admission. Build signs the corpus
      * under a frozen recipe: `"numHashes"` (16), `"rowsPerBand"` (2),
      * `"shingleWords"` (3), `"buckets"` (16), and `"storeTexts": true`
      * to make the index self-contained for Jaccard-VERIFIED admission.
      * Query returns (batch_id, ref_id) candidate pairs (`"maxBucket"`,
      * 1000). The admit gate ([[DocStream.admitNearStream]]) takes
      * `"maxBucket"`, and `"verifyJaccard"` (+ `"refTexts"`, a parquet
      * of the staged corpus, on a legacy index) for Jaccard-verified
      * rejection. `storetexts` migrates a legacy index to the
      * store-texts layout ([[Dedup.migrateBandIndexTexts]]): the frame
      * must be the index's exact doc set — the staged namespace UNION
      * the gate's admitted out dir (`"admitted"`). */
    Entry(KindMinhashBands, "lsh", "doc_id", "text",
      Seq("numHashes", "rowsPerBand", "shingleWords", "buckets", "storeTexts"),
      build = a => {
        Dedup.stageBandIndex(a.corpus, a.id, col(a.value), a.index,
          numHashes = a.conf.int("numHashes", 16),
          rowsPerBand = a.conf.int("rowsPerBand", 2),
          shingleWords = a.conf.int("shingleWords", 3),
          buckets = a.conf.int("buckets", 16),
          storeTexts = a.conf.bool("storeTexts"))
        "lsh band index"
      },
      query = a => Dedup.lshNewCandidatesStaged(a.queries, a.id, col(a.value),
          a.index, maxBucket = a.conf.int("maxBucket", 1000))
        .orderBy("batch_id", "ref_id"),
      append = (_, dir, id, value, assumeNewIds) =>
        b => Dedup.appendBandIndex(b, id, col(value), dir, assumeNewIds),
      compact = Dedup.compactBandIndex,
      admit = Some(Gate("text near-dup", g => DocStream.admitNearStream(
        g.feed, g.id, g.value, g.index, g.out, g.checkpoint,
        maxBucket = g.conf.int("maxBucket", 1000),
        compactEvery = g.compactEvery,
        verifyJaccard = g.conf.opt("verifyJaccard").map(_.asDouble()),
        refTexts = g.conf.opt("refTexts")
          .map(p => g.feed.sparkSession.read.parquet(p.asText())),
        rejectsPath = g.rejects))),
      extra = Map("storetexts" -> (a => {
        val base = a.corpus.select(col(a.id), col(a.value))
        val frame = a.conf.opt("admitted")
          .fold(base)(p => base.unionByName(a.spark.read.parquet(p.asText())
            .select(col(a.id), col(a.value))))
          .localCheckpoint(true) // evaluated 3x by the verb
        try Dedup.migrateBandIndexTexts(frame, a.id, col(a.value), a.index)
        finally graft.util.LocalCkpt.release(frame)
        s"migrated ${a.index} to the store-texts layout"
      }))),
    /* `fp`: the exact-dedup fingerprint set ([[Dedup.stageFingerprints]])
      * — the reference side of EXACT admission. Build takes `"buckets"`
      * (64); query returns the probe namespace's genuinely-new docs. */
    Entry(KindFingerprints, "fp", "doc_id", "text", Seq("buckets"),
      build = a => {
        Dedup.stageFingerprints(a.corpus, col(a.value), a.index,
          buckets = a.conf.int("buckets", 64))
        "fingerprint index"
      },
      query = a => Dedup.exactNewStaged(a.queries, a.id, col(a.value), a.index)
        .orderBy(a.id),
      append = (_, dir, _, value, _) => b => Dedup.appendFingerprints(b, col(value), dir),
      compact = Dedup.compactFingerprints,
      admit = Some(Gate("exact", g => DocStream.admitStream(g.feed, g.id,
        g.value, g.index, g.out, g.checkpoint,
        compactEvery = g.compactEvery, rejectsPath = g.rejects)))))

  private val byKind = all.map(e => e.kind -> e).toMap
  private val byCli = all.map(e => e.cli -> e).toMap

  /** The entry of a manifest's kind; an unknown kind fails loudly. */
  def of(mf: IndexManifest): Entry = byKind.getOrElse(mf.kind,
    throw new IllegalArgumentException(s"unknown index kind '${mf.kind}'"))

  /** The entry of the index staged at `dir` (one manifest read). */
  def at(spark: SparkSession, dir: String): Entry = of(IndexManifest.read(spark, dir))

  /** The entry of a `-index` config's `"kind"` name. */
  def cli(name: String): Entry = {
    require(byCli.contains(name),
      s"index kind must be ${all.map(_.cli).mkString("|")}, got $name")
    byCli(name)
  }
}
