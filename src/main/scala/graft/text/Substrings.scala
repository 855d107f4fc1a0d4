package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExprBridge

/** Substring-level exact dedup — the Lee et al. 2022 ("Deduplicating
  * Training Data Makes Language Models Better") family: find and remove
  * every VERBATIM substring that occurs more than once in the corpus,
  * regardless of alignment or the surrounding document. Document- and
  * line-level dedup ([[Dedup]], [[Lines]]) miss these: a quoted
  * paragraph, a syndicated article body, boilerplate stitched into
  * otherwise-distinct pages.
  *
  * Two paths, one semantics:
  *
  *  - '''Exact''' ([[dupSpans]]): a char is duplicated iff it lies
  *    inside some k-char gram that occurs ≥ 2 times in the corpus
  *    (within or across documents). For a repeated region of length
  *    ≥ k this marks EXACTLY the full region (every char of it sits in
  *    a fully-contained dup gram), so merged spans are the maximal
  *    duplicated substrings — the same answer the reference suffix-array
  *    formulation gives at ≥ k granularity, reached with two hash
  *    aggregates instead of a global suffix sort. Cost: one row per
  *    CHAR of corpus through the census shuffle (~48 bytes each:
  *    md5 hex + id + pos) — the honest price of exactness.
  *
  *  - '''Anchored''' ([[anchorSpans]]): winnowing fingerprint selection
  *    ([[graft.functions.WinnowAnchors]]) first picks an
  *    alignment-robust ~2/(G+1) subset of gram positions
  *    (G = guarantee − k + 1); only those enter the census. Any shared
  *    substring of ≥ `guarantee` chars is still caught (the winnowing
  *    window guarantee), shorter dups may be missed, and marked spans
  *    cover the selected grams rather than the full region — the
  *    13×-lighter shuffle you run at 100 TB, tuned against the exact
  *    path by [[coverageEval]] (the dedup twin of the ANN recall
  *    harness).
  *
  * Scale notes: the census is `groupBy(h).count` — map-side combined,
  * so a gram repeated a billion times collapses per map task before the
  * exchange; the join back to positions is a plain shuffle join (AQE
  * splits hot grams). Span merging windows are partitioned per DOCUMENT
  * (bounded by one doc's gram count), never corpus-global. The census
  * hash is a staged parameter ([[HashMd5]]/[[HashXxh64]]): md5 hex
  * keeps every value recomputable by any engine (the DuckDB oracle
  * pins each stage bit-for-bit — the fixture default), xxh64 stores
  * 8-byte keys — 4× less census shuffle and storage, the production
  * mode at 100 TB. Probes and appends derive the hash from the index's
  * manifest like `k`/`buckets`. On the EXACT path the two hashes emit
  * identical span frames (spans are hash-equality facts; SubstringsSpec
  * pins it); on the ANCHORED path the hash also RANKS the winnowing, so
  * xxh64 selects a different anchor set — the window guarantee holds
  * under both (pinned as a property), and md5 stays the oracle default.
  *
  * Reference: lee2021dedup ExactSubstr; also suffix_array.py in the
  * google-research/deduplicate-text-datasets release (public paper +
  * code; the reference repo has no substring-level operator).
  */
object Substrings {

  /** The census hash modes: `md5` (32-char hex — every value
    * recomputable by any SQL engine, the oracle-pinned default) and
    * `xxh64` (8-byte long via [[graft.functions.GramXxh64s]], seed-42
    * `xxhash64(gram)` — 4× smaller census keys on the shuffle and at
    * rest, the production mode for the 100 TB exact path; spans are
    * hash-identical absent collisions, pinned by SubstringsSpec). */
  val HashMd5 = "md5"
  val HashXxh64 = "xxh64"
  private def requireHash(hash: String): Unit =
    require(Set(HashMd5, HashXxh64)(hash),
      s"census hash must be $HashMd5|$HashXxh64, got $hash")

  /** (idCol, p, h): every k-gram position of every document, 1-based,
    * with its hash (md5 hex or xxh64 long — see [[HashMd5]]).
    * `maxChars` caps the per-document scan (0 = no cap) — the
    * [[Shingles.MaxChars]]-style per-doc cost ceiling. */
  def gramRows(df: DataFrame, idCol: String, text: Column, k: Int,
      maxChars: Int = 0, hash: String = HashMd5): DataFrame = {
    require(k >= 1, "k must be >= 1")
    requireHash(hash)
    val t = capped(text, maxChars)
    val grams =
      if (hash == HashXxh64)
        graft.functions.GramXxh64s(ExprBridge.expression(t), k)
      else graft.functions.GramMd5s(ExprBridge.expression(t), k)
    df.filter(text.isNotNull)
      .select(col(idCol),
        posexplode(ExprBridge.column(grams)).as(Seq("__p0", "h")))
      .select(col(idCol), (col("__p0") + 1).as("p"), col("h"))
  }

  /** Declarative twin of [[gramRows]]' native expression — pinned equal
    * by SubstringsSpec; the formulation the DuckDB oracle mirrors. */
  private[graft] def gramRowsDeclarative(df: DataFrame, idCol: String,
      text: Column, k: Int, maxChars: Int = 0): DataFrame = {
    val t = capped(text, maxChars)
    df.filter(text.isNotNull && length(t) >= k)
      .select(col(idCol), explode(sequence(lit(1), length(t) - (k - 1))).as("p"),
        t.as("__t"))
      .select(col(idCol), col("p"), md5(col("__t").substr(col("p"), lit(k))).as("h"))
  }

  /** Maximal duplicated spans per document (see object doc, exact
    * path): (idCol, span_start, span_end, span_len), 1-based inclusive
    * char bounds, spans disjoint and non-adjacent per document.
    *
    * `hash` picks the EPHEMERAL census key ([[HashMd5]] default /
    * [[HashXxh64]]): only hash EQUALITY reaches the output (a gram is
    * duplicated iff its key repeats), so the spans are hash-identical
    * absent collisions — xxh64 runs the census at ~half the cost and
    * a quarter of the shuffle bytes (tools/CensusSweep), the
    * production choice. The ANCHORED path's hash knob lives on
    * [[anchorSpans]]/[[stageAnchorCensus]] and CHANGES the selection
    * (winnowing ranks by hash) while preserving the window guarantee —
    * a different contract, deliberately not this parameter. */
  def dupSpans(df: DataFrame, idCol: String, text: Column, k: Int,
      maxChars: Int = 0, hash: String = HashMd5): DataFrame = {
    val g = gramRows(df, idCol, text, k, maxChars, hash)
    mergeSpans(dupPositions(g, k), idCol)
  }

  /** Positions of grams whose hash occurs more than once corpus-wide,
    * as char spans [p, p+k−1]. */
  private def dupPositions(g: DataFrame, k: Int): DataFrame = {
    val census = g.groupBy(col("h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("h"))
    g.join(census, "h")
      .select(g.columns.head, "p")
      .withColumn("e", col("p") + (k - 1))
  }

  /** Merge overlapping-or-adjacent [p, e] spans per document: classic
    * cumulative-max sweep — window per DOCUMENT (never corpus-global),
    * then one output-sized aggregate. */
  private[graft] def mergeSpans(spans: DataFrame, idCol: String): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("p"))
    val runEnd = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    spans
      .withColumn("__brk",
        when(col("p") > coalesce(max(col("e")).over(
          Window.partitionBy(col(idCol)).orderBy(col("p"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0)) + 1, 1)
          .otherwise(0))
      .withColumn("__gid", sum(col("__brk")).over(byDoc))
      .groupBy(col(idCol), col("__gid"))
      .agg(min(col("p")).cast("long").as("span_start"),
        max(col("e")).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Per-document dedup report over the exact spans: char counts, the
    * integer per-mille duplicated, and the md5 of the text with every
    * duplicated span REMOVED (the Lee-et-al cut step, pinned by hash so
    * the oracle compares without shipping rebuilt documents).
    * Documents with no duplicated span report dup_chars 0 and the md5
    * of their original text. */
  def dupStats(df: DataFrame, idCol: String, text: Column, k: Int,
      maxChars: Int = 0, hash: String = HashMd5): DataFrame =
    spanAgged(df, idCol, text, k, maxChars, hash)
      .select(col(idCol),
        length(col("__t")).cast("long").as("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        floor(lit(1000) * coalesce(col("dup_chars"), lit(0L))
          / length(col("__t"))).as("dup_permille"),
        md5(when(col("__sp").isNull, col("__t"))
          .otherwise(removedCol(col("__t"), col("__sp")))).as("clean_md5"))

  /** The cut step as a joinable frame: (idCol, text_clean, dup_chars) —
    * the corpus with every duplicated span removed; span-free documents
    * pass through unchanged. The batch curation pipeline
    * ([[graft.Main]] `-curate` `substrCut`) joins this back by id. */
  def cleanedCorpus(df: DataFrame, idCol: String, text: Column, k: Int,
      maxChars: Int = 0, hash: String = HashMd5): DataFrame =
    cleanedFrom(spanAgged(df, idCol, text, k, maxChars, hash))

  /** The cut step over the ANCHORED span surface ([[anchorSpans]]) —
    * same output contract as [[cleanedCorpus]], ~2/(G+1) of its census
    * cost (winnow-selected grams only). The 100 TB default: any shared
    * run of ≥ `guarantee` chars still contributes spans on both sides;
    * [[coverageEval]] is the dial that tunes (k, guarantee) against the
    * exact surface. */
  def cleanedCorpusAnchored(df: DataFrame, idCol: String, text: Column,
      k: Int, guarantee: Int, maxChars: Int = 0,
      hash: String = HashMd5): DataFrame =
    cleanedFrom(spanJoined(df, idCol, text,
      anchorSpans(df, idCol, text, k, guarantee, maxChars, hash), maxChars))

  /** A staged census RESOLVED: the probe/append contract (discipline,
    * gram width, bucketing, hash, guarantee) read out of the manifest
    * ONCE. Every probe/append entry point takes either a directory (it
    * opens the index per call — fine for one-shot batch jobs) or this
    * handle via [[openIndex]] — the shape a continuous-ingest service
    * uses: the stream opens the index before the first micro-batch and
    * every batch probes through the handle, paying zero per-batch
    * manifest reads or stats lookups
    * ([[graft.streaming.DocStream.curateStreamAgainstIndex]]). */
  final case class CensusIndex private[text] (dir: String, mode: String,
      k: Int, buckets: Long, hash: String, guarantee: Int,
      censusSchema: Option[org.apache.spark.sql.types.StructType] = None) {
    private[text] def requireMode(expect: String): CensusIndex = {
      require(mode == expect,
        s"$dir is a '$mode' census; this operation requires '$expect' — " +
          "exact and anchored disciplines never mix")
      this
    }
  }

  /** Open a staged census: one manifest read, no Spark job — `k`,
    * `buckets`, `mode`, `hash`, `guarantee` are all manifest params
    * (the stats frame duplicates the geometry for distributed readers
    * but the contract lives in the manifest). */
  def openIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): CensusIndex = {
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindGramCensus)
    val mode = censusMode(mf)
    CensusIndex(dir, mode, mf.paramInt("k"), mf.paramInt("buckets").toLong,
      censusHash(mf),
      if (mode == "anchored") mf.paramInt("guarantee") else 0,
      // manifest-recorded census READ schema (schema.census): probes
      // through this handle pass it explicitly, so no parquet footer
      // schema-inference job per micro-batch probe (guide §6);
      // None (a pre-schema-param index) falls back to inference
      mf.layoutSchema("census"))
  }

  /** The cut step against a FROZEN staged census — incremental
    * curation: the batch's duplicated spans come from [[probeIndex]]
    * (the discipline the index itself declares), so a batch is cleaned
    * against a reference corpus the job never re-scans. Same output
    * contract as [[cleanedCorpus]]. Note the semantic difference from
    * the batch cut: spans here mark text duplicating the REFERENCE (or,
    * with `selfDups` on, repeated within the batch), not text merely
    * repeated across the batch's own documents.
    *
    * `selfDups = false` makes the cut REFERENCE-ONLY: each document's
    * spans depend on (document, index) alone, never on which other
    * documents share its batch — the property that makes the cut
    * micro-batch-invariant, so the STREAMING pipeline
    * ([[graft.streaming.DocStream.curateStreamAgainstIndex]]) emits the
    * same corpus for every batching of the same feed (DocStreamSpec
    * pins stream-cut ≡ batch-cut). Batch-internal repeats are then the
    * append discipline's job: append each cut batch's grams and later
    * arrivals collide with the index (first-wins, like the dedup
    * gate). */
  def cleanedAgainstIndex(df: DataFrame, idCol: String, text: Column,
      dir: String, maxChars: Int = 0, selfDups: Boolean = true): DataFrame =
    cleanedAgainstIndex(df, idCol, text,
      openIndex(df.sparkSession, dir), maxChars, selfDups)

  /** [[cleanedAgainstIndex]] through an open handle (per-micro-batch
    * callers). */
  def cleanedAgainstIndex(df: DataFrame, idCol: String, text: Column,
      idx: CensusIndex, maxChars: Int, selfDups: Boolean): DataFrame =
    cleanedFrom(spanJoined(df, idCol, text,
      probeIndex(df, idCol, text, idx, maxChars, selfDups), maxChars))

  /** Probe a staged census with the discipline the INDEX declares —
    * the one mode-dispatch point ([[newDupSpans]] for exact,
    * [[newAnchorSpans]] for anchored). `selfDups = false` restricts
    * spans to reference collisions only (see [[cleanedAgainstIndex]]). */
  def probeIndex(batch: DataFrame, idCol: String, text: Column,
      dir: String, maxChars: Int = 0, selfDups: Boolean = true): DataFrame =
    probeIndex(batch, idCol, text,
      openIndex(batch.sparkSession, dir), maxChars, selfDups)

  /** [[probeIndex]] through an open handle (per-micro-batch callers). */
  def probeIndex(batch: DataFrame, idCol: String, text: Column,
      idx: CensusIndex, maxChars: Int, selfDups: Boolean): DataFrame =
    idx.mode match {
      case "anchored" => newAnchorSpans(batch, idCol, text, idx, maxChars, selfDups)
      case _ => newDupSpans(batch, idCol, text, idx, maxChars, selfDups)
    }

  /** Append a batch with the discipline the INDEX declares — the
    * ingest twin of [[probeIndex]]'s one mode-dispatch point
    * ([[appendGramCensus]] for exact, [[appendAnchorCensus]] for
    * anchored). */
  def appendToIndex(batch: DataFrame, idCol: String, text: Column,
      dir: String, maxChars: Int = 0): Unit =
    appendToIndex(batch, idCol, text,
      openIndex(batch.sparkSession, dir), maxChars)

  /** [[appendToIndex]] through an open handle (per-micro-batch
    * callers). */
  def appendToIndex(batch: DataFrame, idCol: String, text: Column,
      idx: CensusIndex, maxChars: Int): Unit =
    idx.mode match {
      case "anchored" =>
        appendCensusRows(winnowRows(batch, idCol, text, idx.k,
          idx.guarantee, maxChars, idx.hash), idx.dir, idx.buckets)
      case _ =>
        appendCensusRows(gramRows(batch, idCol, text, idx.k, maxChars,
          idx.hash), idx.dir, idx.buckets)
    }

  /** The census discipline an index declares. Absent `mode` (an index
    * staged before the anchored variant existed) reads as exact —
    * consistent everywhere, validation included. */
  def censusMode(mf: graft.util.IndexManifest): String =
    mf.params.getOrElse("mode", "exact")

  /** The census hash an index declares; absent `hash` (a pre-round-11
    * index) reads as md5 — the only mode that existed then. */
  def censusHash(mf: graft.util.IndexManifest): String =
    mf.params.getOrElse("hash", HashMd5)

  private def cleanedFrom(agged: DataFrame): DataFrame = {
    val idCol = agged.columns.head
    agged.select(col(idCol),
      when(col("__sp").isNull, col("__t"))
        .otherwise(removedCol(col("__t"), col("__sp"))).as("text_clean"),
      coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
  }

  /** Corpus left-joined with its sorted merged spans:
    * (idCol, __t, __sp, n_spans, dup_chars); __sp NULL for span-free
    * docs. */
  private def spanAgged(df: DataFrame, idCol: String, text: Column, k: Int,
      maxChars: Int, hash: String = HashMd5): DataFrame =
    spanJoined(df, idCol, text,
      dupSpans(df, idCol, text, k, maxChars, hash), maxChars)

  private def spanJoined(df: DataFrame, idCol: String, text: Column,
      spanFrame: DataFrame, maxChars: Int): DataFrame = {
    val spans = spanFrame
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("span_start"), col("span_end"))))
          .as("__sp"),
        count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("dup_chars"))
    df.filter(text.isNotNull)
      .select(col(idCol), capped(text, maxChars).as("__t"))
      .join(spans, Seq(idCol), "left")
  }

  /** Text with the sorted spans cut out: segment i runs from (previous
    * span end)+1 up to the next span start (the final segment to end of
    * string) — one narrow array expression, no second shuffle. */
  private def removedCol(t: Column, sp: Column): Column = {
    val segs = transform(sequence(lit(0), size(sp)), i => {
      val lo = when(i === 0, lit(1))
        .otherwise(element_at(sp, i).getField("span_end") + 1)
      val hi = when(i === size(sp), length(t) + 1)
        .otherwise(element_at(sp, i + 1).getField("span_start"))
      t.substr(lo.cast("int"), greatest(hi - lo, lit(0)).cast("int"))
    })
    concat_ws("", segs)
  }

  /** Winnowing-selected fingerprints: (idCol, p, h), the ~2/(G+1)
    * density subset ([[graft.functions.WinnowAnchors]]).
    *
    * `hash` picks the RANK hash (and census key): md5 (the
    * oracle-recomputable default — winnow SELECTION depends on hash
    * ORDER, so md5 is what the DuckDB twins pin) or xxh64
    * ([[graft.functions.WinnowAnchors64]] — 8-byte keys, no digest per
    * gram; the production mode). The two modes select DIFFERENT anchor
    * sets, but the window guarantee (any shared run of ≥ `guarantee`
    * chars collides) holds under any hash — SubstringsSpec pins it as a
    * property of both. */
  def winnowRows(df: DataFrame, idCol: String, text: Column, k: Int,
      guarantee: Int, maxChars: Int = 0, hash: String = HashMd5): DataFrame = {
    requireHash(hash)
    val t = capped(text, maxChars)
    val anchors =
      if (hash == HashXxh64)
        graft.functions.WinnowAnchors64(ExprBridge.expression(t), k, guarantee)
      else graft.functions.WinnowAnchors(ExprBridge.expression(t), k, guarantee)
    df.filter(text.isNotNull)
      .select(col(idCol), explode(ExprBridge.column(anchors)).as("__a"))
      .select(col(idCol), col("__a").getField("pos").as("p"),
        col("__a").getField("h").as("h"))
  }

  /** Anchored duplicated spans (scale path): winnow-selected grams whose
    * hash occurs ≥ 2 times among SELECTED grams corpus-wide, merged per
    * document. Subset of [[dupSpans]]' coverage by construction; any
    * shared run of ≥ `guarantee` chars contributes at least one anchor
    * on each side — under EITHER rank hash (`hash`, see [[winnowRows]]:
    * xxh64 selects a different-but-equally-guaranteed anchor set at a
    * quarter of the census key bytes; md5 is the oracle default). */
  def anchorSpans(df: DataFrame, idCol: String, text: Column, k: Int,
      guarantee: Int, maxChars: Int = 0, hash: String = HashMd5): DataFrame = {
    val w = winnowRows(df, idCol, text, k, guarantee, maxChars, hash)
    mergeSpans(dupPositions(w, k), idCol)
  }

  /** The tuning harness: how much of the exact duplicated surface do the
    * anchors mark at this (k, guarantee)? One row:
    * (exact_spans, exact_chars, anchor_spans, anchor_chars,
    * overlap_chars, covered_permille). Both span sets are disjoint
    * within a document, so summed pairwise overlaps = |intersection|. */
  def coverageEval(df: DataFrame, idCol: String, text: Column, k: Int,
      guarantee: Int, maxChars: Int = 0, hash: String = HashMd5): DataFrame = {
    // `hash` keys the EXACT side's ephemeral census only (spans are
    // equality-of-key facts — see dupSpans); the anchored side's winnow
    // rank stays md5, its selection order is the oracle contract
    val ex = dupSpans(df, idCol, text, k, maxChars, hash)
    val an = anchorSpans(df, idCol, text, k, guarantee, maxChars)
    val exAgg = ex.agg(count(lit(1)).as("exact_spans"),
      sum(col("span_len")).as("exact_chars"))
    val anAgg = an.agg(count(lit(1)).as("anchor_spans"),
      sum(col("span_len")).as("anchor_chars"))
    val ov = ex.select(col(idCol).as("__id"), col("span_start").as("__es"),
        col("span_end").as("__ee"))
      .join(an.select(col(idCol).as("__id"), col("span_start").as("__as"),
        col("span_end").as("__ae")), Seq("__id"))
      .select((least(col("__ee"), col("__ae"))
        - greatest(col("__es"), col("__as")) + 1).as("__ov"))
      .filter(col("__ov") > 0)
      .agg(coalesce(sum(col("__ov")), lit(0L)).as("overlap_chars"))
    exAgg.crossJoin(anAgg).crossJoin(ov)
      .select(col("exact_spans"), col("exact_chars"), col("anchor_spans"),
        col("anchor_chars"), col("overlap_chars"),
        floor(lit(1000) * col("overlap_chars") / col("exact_chars"))
          .as("covered_permille"))
  }

  /** Materialize the gram census as a reusable index — the substring
    * analog of [[Dedup.exactNew]]'s frozen-reference admission and
    * [[Retrieval.stageBm25]]'s staged postings: a curation service pays
    * the reference-corpus gram pass ONCE, then probes every incoming
    * batch against it at batch-proportional cost. Layout under `dir`:
    *  - `census/` — (h, n) per distinct gram hash, PARTITIONED BY
    *    `bkt = pmod(xxhash64(h), buckets)` so a batch probe scans only
    *    its own hashes' buckets;
    *  - `stats/` — one row: (k, buckets, n_grams, n_docs) — probes and
    *    appends derive the SAME gram width and bucketing from the
    *    index, never from caller arguments.
    *
    * `buckets = 0` AUTO-SIZES the bucket count from the corpus' gram
    * estimate ([[censusBuckets]] — the corpus-scaled bucketing that
    * keeps key-dense probes corpus-independent); an explicit count
    * pins the layout (tests, oracle twins). */
  def stageGramCensus(corpus: DataFrame, idCol: String, text: Column, k: Int,
      dir: String, buckets: Int = 64, maxChars: Int = 0,
      hash: String = HashMd5): Unit = {
    requireHash(hash)
    stageCensusFrom(corpus, text,
      gramRows(corpus, idCol, text, k, maxChars, hash),
      k, dir, buckets, maxChars, Map("mode" -> "exact", "hash" -> hash))
  }

  /** Stage the ANCHORED census — the 100 TB staged variant: one row per
    * WINNOW-SELECTED gram (~2/(G+1) of the exact census' rows and
    * shuffle bytes; any shared run of ≥ `guarantee` chars still
    * collides, [[winnowRows]]). Same layout + manifest kind as
    * [[stageGramCensus]] with `mode=anchored` + `guarantee` params, so
    * a probe can never silently mix census disciplines: exact probes
    * ([[newDupSpans]]) and anchored probes ([[newAnchorSpans]]) both
    * validate the mode before scanning. */
  def stageAnchorCensus(corpus: DataFrame, idCol: String, text: Column, k: Int,
      guarantee: Int, dir: String, buckets: Int = 64, maxChars: Int = 0,
      hash: String = HashMd5): Unit = {
    require(guarantee >= k, "guarantee must be >= k")
    requireHash(hash)
    stageCensusFrom(corpus, text,
      winnowRows(corpus, idCol, text, k, guarantee, maxChars, hash),
      k, dir, buckets, maxChars,
      Map("mode" -> "anchored", "guarantee" -> guarantee.toString,
        "hash" -> hash))
  }

  /** Census-exchange partition count, scaled to the corpus' GRAM
    * surface instead of the session default: the stage's
    * one-row-per-char shuffle outgrows a fixed partition count as the
    * corpus grows (the per-reducer aggregation hash table is the
    * binding constraint — at 30× the sf0.1 reference, 32 local
    * partitions put ~112 M rows in every task's table and the stage
    * went super-linear; 128 partitions ≈ 28 M rows/task linearized it
    * at ~20 s). Sized at ~16 M rows per reducer for 8-byte xxh64 keys
    * (≈ 0.8 GB of aggregation table, comfortably inside a 4 GB task
    * share and safely below the measured 28 M-rows/task good point),
    * half that for 32-char md5 keys; floored at the session's
    * parallelism and capped at 200 k partitions. MEASURED both ways:
    * a 500 k-rows/reducer first cut produced 2 400 partitions at 10×
    * and tripled the stage wall (21 s vs 7–8 s) on pure task/shuffle-
    * block overhead — over-splitting this exchange costs as much as
    * under-splitting it. */
  private def censusPartitions(spark: org.apache.spark.sql.SparkSession,
      estRows: Double, hash: String): Int = {
    val perPartition = if (hash == HashXxh64) 16000000.0 else 8000000.0
    math.max(spark.sparkContext.defaultParallelism.toLong,
      math.min((estRows / perPartition).toLong, 200000L)).toInt
  }

  /** The [[censusPartitions]] sizing discipline applied to the BUCKET
    * count: corpus-scaled buckets are what keep a probe's pruned scan
    * a corpus-independent read. A probe with `B` distinct batch hashes
    * touches ≤ min(B, buckets) buckets, so it reads ≈
    * `n_grams × (1 − exp(−B/buckets))` census rows — with a FIXED
    * bucket count that fraction hits 1 as soon as the batch is
    * key-dense (the 300× anchored probe touched all 64 default
    * buckets and went scan-bound), while with `buckets ≈
    * n_grams / perBucket` the read is bounded by `B × perBucket` rows
    * REGARDLESS of corpus size. `perBucket` (default 1024 grams ≈ a
    * ~16 KB bucket file) trades pruning resolution against
    * files-per-layout; the cap (default 131072) bounds directory
    * count — past it the probe read grows with the corpus again,
    * honestly (a key-dense probe against an ever-growing census needs
    * point lookups, not scans, beyond that). Floored at 16. */
  def censusBuckets(estGrams: Double, perBucket: Long = 1024L,
      cap: Int = 131072): Int = {
    require(perBucket > 0 && cap > 0, "perBucket and cap must be positive")
    math.max(16L, math.min((estGrams / perBucket).toLong, cap.toLong)).toInt
  }

  private def stageCensusFrom(corpus: DataFrame, text: Column, rows: DataFrame,
      k: Int, dir: String, buckets0: Int, maxChars: Int,
      extraParams: Map[String, String]): Unit = {
    require(buckets0 >= 0, "buckets must be positive (0 = auto-size)")
    val spark = corpus.sparkSession
    // ONE corpus-stats pass up front feeds the manifest's n_docs
    // (previously a separate post-write count scan), the census
    // exchange's partition count ([[censusPartitions]] — exact mode
    // emits ~1 row per char, anchored ~2/(window+1)), and the
    // auto-sized bucket count ([[censusBuckets]] over the same gram
    // estimate). The char sum honors the per-doc maxChars cap:
    // gramRows only censuses the capped prefix, and sizing the
    // exchange from the UNCAPPED length would over-partition a
    // truncated stage by the truncation ratio — the exact
    // over-splitting penalty censusPartitions documents
    val cappedLen =
      if (maxChars > 0) least(length(text), lit(maxChars))
      else length(text)
    val st = corpus.filter(text.isNotNull)
      .agg(count(lit(1)), coalesce(sum(cappedLen), lit(0L)))
      .collect()(0)
    val (docs, chars) = (st.getLong(0), st.getLong(1))
    val density = extraParams.get("guarantee") match {
      case Some(g) => 2.0 / (g.toInt - k + 2) // anchored winnow window
      case None => 1.0
    }
    val buckets =
      if (buckets0 > 0) buckets0 else censusBuckets(chars * density)
    // the as-written census frame, lazily, so its schema is recorded as
    // a manifest param (probes then skip the per-read schema-inference
    // job — [[graft.util.StagedIndex.schemaParam]]); stats' one-row
    // schema is a fixed literal shape
    val censusF = rows.select(col("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .withColumn("bkt", pmod(xxhash64(col("h")), lit(buckets.toLong)))
    val statsDdl =
      "k INT, buckets BIGINT, n_grams BIGINT, n_docs BIGINT"
    // invalidate-first/manifest-last bracket (StagedIndex.stage)
    graft.util.StagedIndex.stage(spark, dir,
        graft.util.IndexManifest.KindGramCensus,
        params = Map("k" -> k.toString, "buckets" -> buckets.toString,
          graft.util.StagedIndex.schemaParam("census", censusF),
          "schema.stats" -> statsDdl)
          ++ extraParams) {
      val parts = censusPartitions(spark, chars * density,
        extraParams.getOrElse("hash", HashMd5))
      // n_grams rides an Observation on the census write itself — the
      // alternative (re-scanning the written census to count it) pays a
      // second full census pass per stage, which at one row per corpus
      // char is a second pass over the corpus' gram surface
      val obs = org.apache.spark.sql.Observation()
      rows.select(col("h"))
        // the explicit size-scaled exchange IS the census shuffle: the
        // following groupBy's distribution requirement is satisfied by
        // it, so no second exchange is planned (and the pre-exchange
        // partial aggregate it replaces bought nothing — gram hashes
        // are mostly unique within a partition)
        .repartition(parts, col("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("n"))
        .observe(obs, count(lit(1)).as("n_grams"))
        .withColumn("bkt", pmod(xxhash64(col("h")), lit(buckets.toLong)))
        // co-locate each bucket before the write: without this every task
        // holds rows of every bucket (the census exchange hashes on `h`)
        // and the layout sprays tasks×buckets tiny files
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$dir/census")
      val nGrams = obs.get("n_grams").asInstanceOf[Long]
      import spark.implicits._
      Seq((k, buckets.toLong, nGrams, docs))
        .toDF("k", "buckets", "n_grams", "n_docs")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/stats")
      Map("n_docs" -> docs, "n_grams" -> nGrams)
    }
  }

  /** Fold a new batch into a [[stageGramCensus]] index WITHOUT
    * re-scanning the reference corpus: the batch's own census appends
    * as new rows (existing files untouched — readers sum `n` per hash,
    * so append-then-probe ≡ restage-from-scratch; SubstringsSpec pins
    * it). Batch-proportional, the [[graft.ml.Similarity.appendIvfPq]]
    * discipline. The stats frame is NOT rewritten: its `k` and
    * `buckets` are the index contract (immutable by design); its
    * n_grams/n_docs counters describe the last full stage. */
  def appendGramCensus(batch: DataFrame, idCol: String, text: Column,
      dir: String, maxChars: Int = 0): Unit = {
    val idx = openIndex(batch.sparkSession, dir).requireMode("exact")
    appendCensusRows(
      gramRows(batch, idCol, text, idx.k, maxChars, idx.hash),
      idx.dir, idx.buckets)
  }

  /** [[appendGramCensus]] for an ANCHORED index: the batch contributes
    * its winnow-selected rows under the index's frozen (k, guarantee)
    * contract. Same append-≡-restage property (readers sum `n`). */
  def appendAnchorCensus(batch: DataFrame, idCol: String, text: Column,
      dir: String, maxChars: Int = 0): Unit = {
    val idx = openIndex(batch.sparkSession, dir).requireMode("anchored")
    appendCensusRows(
      winnowRows(batch, idCol, text, idx.k, idx.guarantee, maxChars, idx.hash),
      idx.dir, idx.buckets)
  }

  private def appendCensusRows(rows: DataFrame, dir: String,
      buckets: Long): Unit =
    rows.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .withColumn("bkt", pmod(xxhash64(col("h")), lit(buckets)))
      .repartition(col("bkt")) // one file per touched bucket per append
      .write.mode("append").partitionBy("bkt").parquet(s"$dir/census")

  /** COMPACT a staged census: re-sum the per-hash counts and rewrite
    * each bucket as ONE file. The append discipline adds one file per
    * touched bucket per append — operationally right (batch-
    * proportional writes, existing files untouched), but after 10⁴
    * appends every probe lists 10⁴ files per scanned bucket and the
    * per-hash rows it must sum grow with append count, not vocabulary.
    * Compaction is the maintenance verb that restores stage-fresh
    * probe cost; it is PROBE-INVISIBLE by construction (readers sum
    * `n` per hash, and sum is associative), so the manifest stays
    * valid throughout — only its `n_grams` count (and the stats
    * frame) refresh to the distinct-hash count, which appends leave
    * stale by design. Mode-agnostic: exact and anchored censuses share
    * the (h, n, bkt) layout. The layout swap is crash-safe
    * ([[graft.util.DirSwap]] — re-run to recover); single writer per
    * index, as with stage/append. */
  def compactCensus(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import graft.util.StagedIndex.Layout
    val obs = org.apache.spark.sql.Observation()
    graft.util.StagedIndex.compact(spark, dir,
        graft.util.IndexManifest.KindGramCensus) { mf =>
      Seq(
        // re-sum the per-hash counts appends accumulate
        Layout("census", Some("bkt"),
          _.groupBy(col("bkt"), col("h")).agg(sum(col("n")).as("n"))
            .observe(obs, count(lit(1)).as("n_grams"))
            .select(col("h"), col("n"), col("bkt"))), // layout column order
        // stats refreshes INSIDE the compact bracket, as its own
        // crash-safe DirSwap sublayout BEFORE the manifest count
        // refresh: a plain overwrite after the bracket (the previous
        // shape) left two windows — a crash between the manifest write
        // and the stats rewrite pinned n_grams disagreeing between the
        // two forever, and a crash mid-overwrite left a valid manifest
        // next to a deleted/partial stats dir that probes crash on.
        // Layouts swap in declaration order, so the census rewrite has
        // completed (and bound `obs`) by the time this one's rebuild
        // runs; the read frame is ignored — stats is one derived row.
        Layout("stats", None, { _ =>
          import spark.implicits._
          Seq((mf.paramInt("k"), mf.paramInt("buckets").toLong,
              obs.get("n_grams").asInstanceOf[Long],
              mf.counts.getOrElse("n_docs", 0L)))
            .toDF("k", "buckets", "n_grams", "n_docs")
            .coalesce(1)
        }))
    } { mf =>
      Map("n_docs" -> mf.counts.getOrElse("n_docs", 0L),
        "n_grams" -> obs.get("n_grams").asInstanceOf[Long])
    }
    ()
  }

  /** RE-BUCKET a staged census to a corpus-scaled bucket count — the
    * maintenance verb for an index whose corpus has OUTGROWN its
    * stage-time bucketing: appends grow the census linearly but the
    * bucket count is frozen, so a key-dense probe eventually touches
    * every bucket and its "pruned" scan is the whole layout (the 300×
    * anchored probe went scan-bound exactly this way). The new count
    * comes from [[censusBuckets]] over the layout's ROW count (parquet
    * footer metadata, no data read — an upper bound on the vocabulary,
    * erring toward finer pruning); a no-op when the count is already
    * right.
    *
    * The bucket count is part of the probe CONTRACT (like `k` and
    * `guarantee`): rows probed under a count other than the one they
    * were bucketed with are silently MISSED, so this is a STAGE-grade
    * commit, not a compact — the re-aggregated layout lands fully in a
    * temp dir under a still-valid manifest (crash there: live index
    * untouched), then the manifest is dropped, census and stats swap,
    * and the manifest is rewritten with the new count: every crash
    * window inside the commit reads loudly as "not a graft index"
    * (recovery = restage from the corpus), never as a silently
    * mis-pruning index. Explicit-verb-only by design — the streaming
    * compaction cadence never calls it, because an OPEN
    * [[CensusIndex]] handle pins the old bucket count and must be
    * re-opened after a rebucket (the single-writer discipline). */
  def rebucketCensus(spark: org.apache.spark.sql.SparkSession,
      dir: String, perBucket: Long = 1024L, cap: Int = 131072): Int = {
    import org.apache.hadoop.fs.Path
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindGramCensus)
    val old = mf.layoutSchema("census") match {
      case Some(s) => spark.read.schema(s).parquet(s"$dir/census")
      case None => spark.read.parquet(s"$dir/census")
    }
    val newBuckets = censusBuckets(old.count().toDouble, perBucket, cap)
    if (newBuckets == mf.paramInt("buckets")) return newBuckets
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ctmp = new Path(dir, "census.__rebucket__")
    val stmp = new Path(dir, "stats.__rebucket__")
    fs.delete(ctmp, true): Unit
    fs.delete(stmp, true): Unit
    // full rewrites land in temp dirs FIRST, under a still-valid
    // manifest — the slow window is crash-free for the live index
    val obs = org.apache.spark.sql.Observation()
    old.groupBy(col("h")).agg(sum(col("n")).as("n"))
      .observe(obs, count(lit(1)).as("n_grams"))
      .withColumn("bkt", pmod(xxhash64(col("h")), lit(newBuckets.toLong)))
      .repartition(col("bkt")) // one file per bucket
      .write.mode("overwrite").partitionBy("bkt").parquet(ctmp.toString)
    val nGrams = obs.get("n_grams").asInstanceOf[Long]
    val nDocs = mf.counts.getOrElse("n_docs", 0L)
    import spark.implicits._
    Seq((mf.paramInt("k"), newBuckets.toLong, nGrams, nDocs))
      .toDF("k", "buckets", "n_grams", "n_docs")
      .coalesce(1).write.mode("overwrite").parquet(stmp.toString)
    // commit bracket: manifest dropped, two swaps, manifest rewritten
    // with the new bucket count
    graft.util.StagedIndex.stage(spark, dir,
        graft.util.IndexManifest.KindGramCensus,
        mf.params + ("buckets" -> newBuckets.toString)) {
      def publish(name: String, tmp: Path): Unit = {
        fs.delete(new Path(dir, name), true): Unit
        require(fs.rename(tmp, new Path(dir, name)),
          s"rebucket failed to publish $tmp into $dir/$name")
      }
      publish("census", ctmp)
      publish("stats", stmp)
      Map("n_docs" -> nDocs, "n_grams" -> nGrams)
    }
    newBuckets
  }

  /** Duplicated spans of an incoming BATCH against a frozen
    * [[stageGramCensus]] reference: a batch char is duplicated iff its
    * gram occurs in the reference index OR more than once within the
    * batch itself (so the probe also catches batch-internal copies —
    * same census rule as [[dupSpans]], with the reference pre-counted).
    * The census scan prunes statically to the batch's hash buckets, and
    * nothing reference-corpus-sized shuffles: probe cost scales with
    * the BATCH. Output matches [[dupSpans]]' span frame. */
  def newDupSpans(batch: DataFrame, idCol: String, text: Column,
      dir: String, maxChars: Int = 0, selfDups: Boolean = true): DataFrame =
    newDupSpans(batch, idCol, text,
      openIndex(batch.sparkSession, dir), maxChars, selfDups)

  /** [[newDupSpans]] through an open handle (per-micro-batch callers). */
  def newDupSpans(batch: DataFrame, idCol: String, text: Column,
      idx: CensusIndex, maxChars: Int, selfDups: Boolean): DataFrame = {
    idx.requireMode("exact")
    probeSpans(gramRows(batch, idCol, text, idx.k, maxChars, idx.hash),
      idCol, idx.k, idx.dir, idx.buckets, selfDups, idx.censusSchema)
  }

  /** [[newDupSpans]] against an ANCHORED index ([[stageAnchorCensus]]):
    * a batch anchor is duplicated iff its hash occurs in the reference's
    * SELECTED-gram census or more than once among the batch's own
    * selected grams. Anchored on BOTH sides, so the winnowing guarantee
    * composes: a batch run sharing ≥ `guarantee` chars with the
    * reference selects at least one colliding anchor. Probe cost is
    * batch-proportional at ~2/(G+1) of the exact probe's rows — the
    * incremental shape a 100 TB curation service actually runs. */
  def newAnchorSpans(batch: DataFrame, idCol: String, text: Column,
      dir: String, maxChars: Int = 0, selfDups: Boolean = true): DataFrame =
    newAnchorSpans(batch, idCol, text,
      openIndex(batch.sparkSession, dir), maxChars, selfDups)

  /** [[newAnchorSpans]] through an open handle (per-micro-batch
    * callers). */
  def newAnchorSpans(batch: DataFrame, idCol: String, text: Column,
      idx: CensusIndex, maxChars: Int, selfDups: Boolean): DataFrame = {
    idx.requireMode("anchored")
    probeSpans(
      winnowRows(batch, idCol, text, idx.k, idx.guarantee, maxChars, idx.hash),
      idCol, idx.k, idx.dir, idx.buckets, selfDups, idx.censusSchema)
  }

  /** The shared probe: rows (idCol, p, h) of the batch vs a staged
    * census — duplicated iff in-reference or (with `selfDups`) ≥2
    * within the batch's own rows; census scan prunes statically to the
    * batch's hash buckets. */
  private def probeSpans(g: DataFrame, idCol: String, k: Int, dir: String,
      buckets: Long, selfDups: Boolean = true,
      censusSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val spark = g.sparkSession
    // the batch census feeds THREE consumers (the bucket collect, the
    // >1 filter, the reference semi-join): eager-materialize it once
    // (the Resample/Staging discipline) so the batch's gram/winnow
    // scan re-runs only for the span join, not per consumer
    // LAZY checkpoint: the bucket collect right below computes every
    // partition anyway and doubles as the materializing action (one job
    // per probe instead of a checkpoint job + a collect job)
    val bc = g.groupBy(col("h")).agg(count(lit(1)).as("__nb"))
      .localCheckpoint(false)
    val qb = bc.select(pmod(xxhash64(col("h")), lit(buckets)).as("bkt"))
      .distinct().collect().map(_.getLong(0))
    // explicit manifest-recorded schema when the handle carries one:
    // no parquet footer schema-inference job per probe (guide §6)
    val ref = censusSchema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(s"$dir/census")
      .filter(col("bkt").isin(qb: _*))
      .select(col("h"))
    val refHit = bc.select(col("h")).join(ref, Seq("h"), "left_semi")
    val dupH =
      if (selfDups)
        bc.filter(col("__nb") > 1).select(col("h"))
          .unionByName(refHit).distinct()
      else refHit
    val spans = g.join(dupH, "h")
      .select(col(idCol), col("p"))
      .withColumn("e", col("p") + (k - 1))
    mergeSpans(spans, idCol)
  }

  private def capped(text: Column, maxChars: Int): Column = {
    require(maxChars >= 0, "maxChars must be >= 0")
    if (maxChars == 0) text else substring(text, 1, maxChars)
  }
}
