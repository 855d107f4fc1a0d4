package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface:
  * exact (hash-groupBy), MinHash+LSH near-dup (shingle → minhash →
  * band → bucket-join), exact n-gram Jaccard verification, and
  * cluster resolution (pairs → connected components).
  *
  * Scale discipline: candidate generation is ALWAYS banded/bucketed —
  * the only join key is (band, band-signature), so work is proportional
  * to bucket sizes, never |docs|². Signatures are md5-based (portable,
  * deterministic, engine-agnostic); the lexicographic min of fixed-width
  * lowercase hex equals the numeric min, so `min(md5(..))` is a valid
  * minhash without any hex→int conversion.
  *
  * Plan shape: the whole signature chain is ONE hash-aggregate per doc —
  * all `numHashes` minhashes are computed as parallel min() aggregates in
  * a single groupBy(id) pass over the shingle set (no k× row explosion),
  * and band signatures are a narrow array-slice projection of that
  * result. The shingle set itself ([[shingles]]) is the shared upstream
  * of candidates AND verification — compute it once, persist, and feed
  * it to [[lshCandidatesFromShingles]] instead of re-deriving the
  * lineage per stage.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id.
    * One map-side-combined hash aggregate — the 100 TB plan is the same
    * plan. Output: (content_hash, keep_id, dup_count). */
  def exact(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Per-document word cap for [[shingles]] — bounds shingle rows per doc
    * at scale (a pathological single-line 100 MB doc otherwise emits
    * O(words) rows). Any oracle must apply the same cap. */
  val MaxShingleWords = 4096

  /** Distinct word-n-gram shingle set: (id, s). The shared upstream of
    * the near-dup pipeline — persist this and pass it to
    * [[lshCandidatesFromShingles]] so the tokenize+distinct shuffle
    * runs once. */
  def shingles(df: DataFrame, idCol: String, text: Column,
      shingleWords: Int = 3, maxWords: Int = MaxShingleWords): DataFrame =
    // the split word array is BOUND before the n-gram lambda references
    // it (re-evaluation-per-element trap — see Shingles class doc)
    df.select(col(idCol),
        slice(split(lower(text), " "), 1, maxWords).as("__w"))
      .select(col(idCol),
        explode(Shingles.wordNGramsOf(col("__w"), shingleWords)).as("s"))
      .filter(col("s").isNotNull)
      .distinct()

  /** Modulus of the minhash permutation family (shared with any oracle). */
  val MinHashP: Long = graft.functions.TextExprs.MinHashP

  /** Deterministic permutation coefficients (a_k, b_k), derived from the
    * same md5 rule on BOTH engines is unnecessary — they are plain
    * constants, embedded literally in the oracle SQL. a_k ∈ [1, 2^28)
    * (odd), b_k ∈ [0, 2^28): products stay below 2^56. */
  def minhashCoeffs(numHashes: Int): IndexedSeq[(Long, Long)] =
    (0 until numHashes).map { k =>
      def h7(tag: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val d = md.digest(s"$tag|$k".getBytes("UTF-8"))
        d.take(4).map("%02x".format(_)).mkString.substring(0, 7) match {
          case hex => java.lang.Long.parseLong(hex, 16)
        }
      }
      ((h7("mh-a") | 1L), h7("mh-b"))
    }

  /** The 28-bit md5 seed hash of a shingle, as a SQL column — the
    * single digest each shingle pays. Oracle twin:
    * `CAST(('0x' || substr(md5(s),1,7)) AS BIGINT)`. */
  private def seedHash(s: Column): Column =
    conv(substring(md5(s), 1, 7), 16, 10).cast("long")

  /** All `numHashes` permuted minhashes in ONE aggregate pass:
    * (id, mh: array<long>[numHashes]) — min over `(a_k·h + b_k) mod p`
    * of the 28-bit seed hash. The exploded-aggregate twin of
    * [[minhashNarrow]] for callers that already hold a shingle set. */
  def minhashArray(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val h = seedHash(col("s"))
    sh.groupBy(col(idCol)).agg(
      array(minhashCoeffs(numHashes).map { case (a, b) =>
        min((h * a + b) % MinHashP)
      }: _*).as("mh"))
  }

  /** The NARROW signature path: per-doc minhash array straight off the
    * shingle array via [[graft.functions.MinHashSigs]] — no explode, no
    * distinct, no aggregate (min over the multiset IS min over the set),
    * one md5 per shingle. The signature stage shuffles nothing; the
    * near-dup pipeline's first exchange becomes the band bucket
    * aggregation. Pinned equal to [[minhashArray]]∘[[shingles]] by
    * DedupSpec. */
  def minhashNarrow(df: DataFrame, idCol: String, text: Column, numHashes: Int,
      shingleWords: Int = 3, maxWords: Int = MaxShingleWords): DataFrame =
    // `mh` is null exactly when text is null OR the doc has fewer than
    // `shingleWords` words (its only shingle is NULL). Filter on that
    // CHEAP equivalent predicate up front: filtering on `mh` itself
    // would push the whole one-md5-per-shingle signature expression
    // into the Filter condition and the plan would digest every doc
    // TWICE (filter + project). The split is recomputed by the filter,
    // but it is O(chars) against the signature's O(shingles) digests.
    df.filter(text.isNotNull &&
        size(slice(split(lower(text), " "), 1, maxWords)) >= shingleWords)
      .select(col(idCol),
        minhashCol(text, numHashes, shingleWords, maxWords).as("mh"))

  /** The per-doc minhash signature as a bare Column (the expression
    * [[minhashNarrow]] projects) — for callers that need the signature
    * alongside the full row, e.g. the streaming near-dup gate. */
  def minhashCol(text: Column, numHashes: Int, shingleWords: Int = 3,
      maxWords: Int = MaxShingleWords): Column = {
    val sh = Shingles.wordNGramsOf(
      slice(split(lower(text), " "), 1, maxWords), shingleWords)
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      graft.functions.MinHashSigs(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(sh),
        minhashCoeffs(numHashes)))
  }

  /** Band signatures from the minhash array: `rowsPerBand` consecutive
    * minhashes hash into one bucket key per band — a narrow projection,
    * no extra shuffle. P(candidate) ≈ 1-(1-J^r)^b. */
  def bandSignatures(mh: DataFrame, idCol: String, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val bands = numHashes / rowsPerBand
    // minhashes are longs; the band key hashes their decimal rendering
    // ("v1|v2"), which any engine reproduces with a CAST AS VARCHAR
    val mhs = transform(col("mh"), v => v.cast("string"))
    mh.select(col(idCol), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(array_join(slice(mhs, b * rowsPerBand + 1, lit(rowsPerBand)), "|")))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bsig")
  }

  /** Per-(band, bsig) bucket sizes — the degenerate-bucket census. Use it
    * to audit what a `maxBucket` cap in [[lshCandidates]] drops (no
    * silent truncation: callers log/metric `bucketSizes(..).filter(n >
    * cap)` alongside the capped run). */
  def bucketSizes(df: DataFrame, idCol: String, text: Column,
      numHashes: Int = 16, rowsPerBand: Int = 2, shingleWords: Int = 3): DataFrame =
    bandSignatures(minhashArray(shingles(df, idCol, text, shingleWords), idCol, numHashes),
      idCol, numHashes, rowsPerBand)
      .groupBy("band", "bsig").agg(count(lit(1)).as("n"))

  /** LSH candidate pairs (id_a < id_b) sharing at least one band bucket.
    * The self-join keys on (band, bsig) — bucket-sized work only.
    *
    * `maxBucket` caps degenerate buckets: a bucket of b docs emits
    * b·(b−1)/2 pairs, so one boilerplate/empty-doc bucket of 10^6 docs
    * would emit 5·10^11 pairs and kill the job at 100 TB. Buckets larger
    * than the cap are dropped BEFORE the self-join (the size census is a
    * partial-agg on the same shuffle key, so AQE reuses the exchange).
    * Docs in a dropped bucket still pair through their other bands —
    * near-dups agreeing on several bands lose little recall; exact dups
    * of mega-duplicated content belong to [[exact]] anyway. */
  def lshCandidates(df: DataFrame, idCol: String, text: Column,
      numHashes: Int = 16, rowsPerBand: Int = 2, shingleWords: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    candidatesFromBands(
      bandSignatures(minhashNarrow(df, idCol, text, numHashes, shingleWords),
        idCol, numHashes, rowsPerBand),
      idCol, maxBucket)

  /** [[lshCandidates]] over a precomputed (persisted) shingle set.
    *
    * Returns an EAGERLY MATERIALIZED pair list (`localCheckpoint`): the
    * band table feeds three subtrees (the bucket census and both sides of
    * the self-join), and under AQE the unmaterialized subtrees race to
    * recompute shared lineage concurrently — cache population is not a
    * barrier, so a lazy persist here is both slow (duplicate work) and a
    * cross-query cache leak. Materializing the (small) result lets this
    * function release every intermediate before returning; callers may
    * reference the result any number of times with no caller-side
    * persist. (On executor loss the blocks recompute from lineage-cut
    * parents — acceptable for a derived candidate list; contrast
    * [[graft.ops.RangeSplitter.exactBounds]] which collects its tiny
    * result to the driver instead.) */
  def lshCandidatesFromShingles(sh: DataFrame, idCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 2, maxBucket: Int = 1000): DataFrame =
    candidatesFromBands(
      bandSignatures(minhashArray(sh, idCol, numHashes), idCol, numHashes, rowsPerBand),
      idCol, maxBucket)

  /** Capped in-bucket pair expansion shared by both signature paths:
    * ONE aggregation gathers each (band, bsig) bucket's ids (the census
    * is `size(ids)` on the same exchange — no separate count+join), the
    * cap filter drops degenerate buckets before any pair exists, and
    * [[graft.functions.SortedPairs]] expands each surviving bucket to
    * its a<b pairs in a narrow projection. Replaces a census aggregate +
    * census join + self-join (4 exchanges on the bucket key) with one
    * exchange + the final pair `distinct`. `collect_list` is safe
    * exactly BECAUSE of the cap: a bucket holds ≤ maxBucket ids by
    * construction of the filter that immediately consumes it. */
  private def candidatesFromBands(bands: DataFrame, idCol: String,
      maxBucket: Int): DataFrame = {
    val pairs = org.apache.spark.sql.graftbridge.ExprBridge.column(
      graft.functions.SortedPairs(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(col("__ids"))))
    bands.groupBy("band", "bsig").agg(collect_list(col(idCol)).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
      .select(explode(pairs).as("__p"))
      .select(col("__p.id_a"), col("__p.id_b"))
      .distinct()
      .localCheckpoint(true)
  }

  /** Quote-inclusion / subset near-dup pairs — the asymmetric case the
    * symmetric families miss: a short document fully EMBEDDED in a long
    * one (a quoted article, a reposted excerpt) has high one-way
    * CONTAINMENT `|A∩B| / min(|A|,|B|)` but low Jaccard
    * (`|A∩B| / |A∪B|` is diluted by the long doc's tail), so an
    * [[lshCandidates]]+[[jaccardVerify]] pipeline scores it clean.
    *
    * Candidates: pairs sharing at least one full non-blank LINE
    * ([[Lines.lineRows]]) — a quoted excerpt preserves its source's
    * line boundaries, and the line hash is the cheapest whole-unit
    * witness of that. The same `maxBucket` cap discipline as LSH
    * banding applies: a line shared by more than `maxBucket` docs is
    * boilerplate (header/footer), not quotation, and its bucket is
    * dropped before any pair exists — candidates stay output-sensitive,
    * never corpus². Verification: word-`shingleWords`-gram containment
    * scored per pair over [[jaccardVerify]]'s array-payload shape, as
    * exact integer per-mille (`1000·|A∩B| DIV min(|A|,|B|)`).
    *
    * Output: (id_a, id_b, n_inter, n_small, containment_permille) with
    * id_a < id_b, filtered to ≥ `minPermille`, eagerly materialized
    * (the [[lshCandidatesFromShingles]] contract). `stagingDir`
    * switches the candidate shingle-set intermediate from `persist()`
    * to a parquet staging write ([[graft.util.Staging]]). */
  def containmentPairs(df: DataFrame, idCol: String, text: Column,
      minPermille: Int = 500, maxBucket: Int = 1000,
      shingleWords: Int = 3, stagingDir: Option[String] = None): DataFrame = {
    require(minPermille >= 0 && minPermille <= 1000,
      "minPermille must be in [0, 1000]")
    val banded = Lines.lineRows(df, idCol, text)
      .select(col(idCol), lit(0).as("band"), md5(col("line")).as("bsig"))
      .distinct()
    val pairs = candidatesFromBands(banded, idCol, maxBucket)
    val candIds = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol)))
      .distinct()
    val (ssets, release) = graft.util.Staging.stage(
      df.join(candIds, Seq(idCol), "left_semi")
        .select(col(idCol), array_distinct(array_compact(
          Shingles.wordNGramsOf(
            slice(split(lower(text), " "), 1, MaxShingleWords),
            shingleWords))).as("__sset")),
      stagingDir, "containment_ssets")
    try {
      ssets.count(): Unit // materialize BEFORE the two consuming joins
      pairs
        .join(ssets.select(col(idCol).as("id_a"), col("__sset").as("__sa")),
          Seq("id_a"))
        .join(ssets.select(col(idCol).as("id_b"), col("__sset").as("__sb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("__sa"), col("__sb"))).cast("long")
            .as("n_inter"),
          least(size(col("__sa")), size(col("__sb"))).cast("long")
            .as("n_small"))
        .withColumn("containment_permille",
          when(col("n_small") > 0, expr("1000 * n_inter DIV n_small"))
            .otherwise(lit(0L)))
        .filter(col("containment_permille") >= minPermille)
        .localCheckpoint(true)
    } finally release()
  }

  /** Incremental exact dedup: the rows of `batch` whose content does
    * not already exist in `reference` — the admission check a pipeline
    * runs on every new crawl batch before it joins the corpus.
    * Batch-internal duplicates collapse to their min-id representative
    * first (a batch can carry its own dups).
    *
    * Plan shape at 100 TB: a direct `batch ANTI JOIN reference` cannot
    * broadcast (only an anti-join's RIGHT side builds the hash table,
    * and the right side here is the corpus) — the reference would
    * shuffle. Instead the SMALL batch-hash set broadcasts into a
    * reference-side SEMI join (one corpus scan, zero corpus shuffle,
    * output ≤ |batch| matched hashes), and the batch anti-joins that
    * tiny matched set. At scale `reference` would be a persisted
    * content-hash index — same plan, pre-digested. */
  /** The batch collapsed to its min-id winner per content hash —
    * (idCol, __text, __ch), one row per distinct md5(text) — the
    * shared winner-selection invariant of ALL THREE exact-admission
    * strategies ([[exactNew]], [[exactNewBloom]], [[exactNewStaged]]):
    * three hand-rolled copies of this block could drift independently
    * on the one semantics the shared oracle pins. */
  private def collapseByContent(batch: DataFrame, idCol: String,
      text: Column): DataFrame =
    batch.select(col(idCol), text.as("__text"), md5(text).as("__ch"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("__ch")
          .orderBy(col(idCol))))
      .filter(col("__rn") === 1)

  def exactNew(batch: DataFrame, reference: DataFrame, idCol: String,
      text: Column): DataFrame = {
    val bh = collapseByContent(batch, idCol, text)
    val seen = reference.select(md5(text).as("__ch"))
      .join(broadcast(bh.select("__ch")), Seq("__ch"), "left_semi")
      .distinct()
    bh.join(broadcast(seen), Seq("__ch"), "left_anti")
      .select(col(idCol), col("__text").as("text"))
  }

  /** [[exactNew]] with a Bloom prefilter on the reference scan — the
    * SAME exact result (the filter only ever passes extra rows into the
    * exact check, never drops a true match), reached without
    * broadcasting the batch-hash SET.
    *
    * When it matters: [[exactNew]] broadcasts the batch's content
    * hashes into the reference semi-join — fine until the batch is
    * itself huge (10⁸ docs ≈ GBs of hash set, past any broadcast
    * budget). The Bloom bits are CONSTANT-SIZE (`mBits/8` bytes
    * regardless of batch cardinality, e.g. 2²⁷ bits = 16 MB for ~10⁸
    * keys at ~1% FP with k=5), so the reference scan stays
    * shuffle-free at any batch size; only the prefilter's survivors —
    * true matches + FP·|reference| — reach the exact semi-join.
    *
    * The filter is pure built-in column arithmetic (xxhash64 → bit
    * test against a broadcast array<long>), fully codegen'd — no UDF,
    * no custom expression. The bit array is OR-folded distributed
    * (map-side-combined `bit_or` per 64-bit word), and collected —
    * `mBits/64` longs of driver traffic, independent of batch size. */
  def exactNewBloom(batch: DataFrame, reference: DataFrame, idCol: String,
      text: Column, mBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    require(mBits >= 64 && (mBits & 63) == 0, "mBits must be a positive multiple of 64")
    require(numHashes > 0, "numHashes must be positive")
    val spark = batch.sparkSession
    import spark.implicits._
    val bh = collapseByContent(batch, idCol, text).persist()
    try {
      // --- build: k positions per key, OR-fold into mBits/64 words ---
      val words = mBits / 64
      val setWords = bh.select(explode(
          array((0 until numHashes).map(lit): _*)).as("__s"), col("__ch"))
        .select(pmod(xxhash64(col("__ch"), col("__s")), lit(mBits.toLong)).as("__p"))
        .groupBy(expr("CAST(__p DIV 64 AS INT)").as("__w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT)))").as("__m"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val bits = Array.tabulate(words)(w => setWords.getOrElse(w, 0L))
      val bitsDf = Seq(Tuple1(bits.toSeq)).toDF("__bits")
      // --- probe: reference scan with the broadcast bits, no shuffle ---
      val might = (0 until numHashes).map { i =>
        expr(s"""(shiftright(element_at(__bits,
                 |  CAST(pmod(xxhash64(__ch, $i), ${mBits}L) DIV 64 AS INT) + 1),
                 |  CAST(pmod(xxhash64(__ch, $i), ${mBits}L) % 64 AS INT)) & 1) = 1
                 |""".stripMargin.replace("\n", " "))
      }.reduce(_ && _)
      val refCand = reference.select(md5(text).as("__ch"))
        .crossJoin(broadcast(bitsDf))
        .where(might)
        .select("__ch")
      // exact tail — same semantics as exactNew's, but with NO forced
      // broadcasts: in the motivating case the batch-hash set is
      // exactly what outgrew the broadcast budget, so the join strategy
      // is left to AQE (auto-broadcast while small, batch-proportional
      // shuffle join beyond — never corpus-proportional: refCand is
      // the Bloom survivors)
      val seen = refCand
        .join(bh.select("__ch"), Seq("__ch"), "left_semi")
        .distinct()
      bh.join(seen, Seq("__ch"), "left_anti")
        .select(col(idCol), col("__text").as("text"))
        .localCheckpoint(true)
    } finally { bh.unpersist(false); () }
  }

  /** Incremental near-dup candidates: (batch id, reference id) pairs
    * sharing an LSH band bucket — batch×reference only, never
    * batch×batch or reference×reference. The reference band table is
    * the INDEX a 100 TB pipeline keeps persisted (bucketed by (band,
    * bsig)); the batch side probes it with a bucket-key join, so probe
    * cost scales with the batch, not the corpus. `maxBucket` caps
    * degenerate reference buckets exactly as in [[lshCandidates]]. */
  def lshNewCandidates(batch: DataFrame, reference: DataFrame, idCol: String,
      text: Column, numHashes: Int = 16, rowsPerBand: Int = 2,
      shingleWords: Int = 3, maxBucket: Int = 1000): DataFrame = {
    def bands(df: DataFrame, as: String) =
      bandSignatures(minhashNarrow(df, idCol, text, numHashes, shingleWords),
        idCol, numHashes, rowsPerBand)
        .withColumnRenamed(idCol, as)
    // the reference band table feeds the census AND the probe join:
    // persist so the corpus signature pass runs ONCE (at 100 TB this
    // frame is the persisted index itself and the derivation vanishes);
    // result materialized so the cache can be released before return
    val rb = bands(reference, "ref_id").persist()
    try {
      val ok = rb.groupBy("band", "bsig").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucket)
        .select("band", "bsig")
      bands(batch, "batch_id")
        .join(rb.join(ok, Seq("band", "bsig"), "left_semi"), Seq("band", "bsig"))
        .select("batch_id", "ref_id")
        .distinct()
        .localCheckpoint(true)
    } finally { rb.unpersist(false); () }
  }

  /** The (ref_id, band, bsig) rows one side contributes to the LSH band
    * surface — the shared derivation of [[lshNewCandidates]]' two sides
    * and the STAGED band index's layout/probe/append. */
  private def bandRows(df: DataFrame, idCol: String, text: Column,
      numHashes: Int, rowsPerBand: Int, shingleWords: Int): DataFrame =
    bandSignatures(minhashNarrow(df, idCol, text, numHashes, shingleWords),
        idCol, numHashes, rowsPerBand)
      .select(col(idCol).as("ref_id"), col("band"), col("bsig"))

  /** Materialize the LSH reference band table as a staged index — the
    * fourth staged kind (BM25 postings, gram census, IVF-PQ codes,
    * now minhash bands), making [[lshNewCandidates]]' "at 100 TB this
    * frame is the persisted index itself" literal: a near-dup admission
    * service pays the reference signature pass ONCE and probes every
    * incoming batch at batch-proportional cost. Layout under `dir`:
    *  - `bands/` — (ref_id, band, bsig) PARTITIONED BY
    *    `bkt = pmod(xxhash64(band, bsig), buckets)`, so a batch probe
    *    scans only its own band-bucket partitions;
    *  - `ids/` — ONE row per signed doc, PARTITIONED BY
    *    `idb = pmod(xxhash64(ref_id), buckets)` — the new-ids guard's
    *    frame (the BM25 `dl` discipline, plus pruning): an id probe of
    *    `bands/` can't prune (band-sig partitioning is orthogonal to
    *    ids) and pays 8 rows per reference doc; the ids frame is
    *    doc-count-sized AND statically prunable to the batch's id
    *    buckets, so the guard scales with the batch, never the
    *    reference;
    *  - `_graft_index.json` — the frozen signature recipe (num_hashes,
    *    rows_per_band, shingle_words, buckets, id_col, store_texts):
    *    probes and appends derive it from the manifest, never from
    *    caller args — a batch signed under a different recipe would
    *    silently miss every collision.
    *
    * `storeTexts = true` additionally carries each SIGNED doc's text on
    * its `ids/` row (same partitioning, same single-pass write — the
    * text rides the id-sentinel row, so no extra job and no extra
    * shuffle beyond one text copy per doc). That makes the index
    * self-contained for Jaccard VERIFICATION: a candidate pair's
    * matched-side text is fetched from `ids/` with static pruning to
    * the candidates' id buckets ([[bandIndexTexts]]) instead of
    * re-scanning a corpus-sized (id, text) table per probe — the
    * batch-proportional verify shape
    * [[graft.streaming.DocStream.admitNearStream]] needs at 100 TB.
    * Readers that only want the new-ids guard still read the `ref_id`
    * column alone (parquet column pruning never touches the text
    * bytes), so the guard's cost is unchanged. */
  def stageBandIndex(reference: DataFrame, idCol: String, text: Column,
      dir: String, numHashes: Int = 16, rowsPerBand: Int = 2,
      shingleWords: Int = 3, buckets: Int = 16,
      storeTexts: Boolean = false): Unit = {
    require(numHashes % rowsPerBand == 0,
      "numHashes must be a multiple of rowsPerBand")
    require(buckets > 0, "buckets must be positive")
    val spark = reference.sparkSession
    // the one signature-pass frame, built LAZILY up front so both
    // sublayouts' READ schemas land as manifest params (schema.ids /
    // schema.bands — probes then pass explicit schemas instead of
    // paying a parquet footer schema-inference job per staged re-read,
    // guide §6): ids/ files drop the bkt partition level in the
    // publish move, bands/ files the idb level (writeBandSublayouts)
    val rows = bandAndIdRows(reference, idCol, text, numHashes,
      rowsPerBand, shingleWords, buckets.toLong, storeTexts)
    import graft.util.StagedIndex.schemaParam
    // invalidate-first/manifest-last bracket (StagedIndex.stage)
    graft.util.StagedIndex.stage(spark, dir,
        graft.util.IndexManifest.KindMinhashBands,
        params = Map("num_hashes" -> numHashes.toString,
          "rows_per_band" -> rowsPerBand.toString,
          "shingle_words" -> shingleWords.toString,
          "buckets" -> buckets.toString, "id_col" -> idCol,
          "store_texts" -> (if (storeTexts) "1" else "0"),
          schemaParam("ids", rows.drop("bkt")),
          schemaParam("bands", rows.drop("idb")))) {
      // fresh layout: drop previous sublayouts first (the manifest is
      // already invalidated, so a crash here reads as "not a graft
      // index — restage to recover")
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir, "bands"), true): Unit
      fs.delete(new org.apache.hadoop.fs.Path(dir, "ids"), true): Unit
      val nDocs = writeBandSublayouts(rows, dir, buckets.toLong)
      Map("n_docs" -> nDocs)
    }
  }

  /** Both band-index sublayouts' rows from ONE signature pass: per
    * signed doc, its `bands` (band, bsig, bkt, idb=null) rows PLUS one
    * id-sentinel (band/bsig/bkt null, idb set) row, generated by a
    * single explode over the per-doc band-signature array with a
    * sentinel element appended — the document is tokenized and
    * min-hashed exactly once, with no cache and no distinct (one
    * sentinel per doc by construction — per input ROW: ids are the
    * caller's identity contract, as in every id-carrying append, so a
    * frame carrying the same id twice writes duplicate ids/bands rows
    * and over-counts n_docs until [[compactBandIndex]]'s distincts
    * collapse them; the pre-single-pass stage paid a full extra
    * distinct shuffle to mask that contract violation). `bkt` uses the
    * same (band:int, bsig:string) hash as [[bandRows]]-derived
    * probes.
    *
    * With `storeText` the id-sentinel row additionally carries the
    * doc's text (a `text` column, null on band rows — bytes of parquet
    * nulls in `bands/` files; the per-doc text crosses the write
    * shuffle exactly once, on the sentinel): the store-texts layout of
    * [[stageBandIndex]], still one signature pass and one job. */
  private def bandAndIdRows(df: DataFrame, idCol: String, text: Column,
      numHashes: Int, rowsPerBand: Int, shingleWords: Int,
      buckets: Long, storeText: Boolean = false): DataFrame = {
    val bands = numHashes / rowsPerBand
    val mhs = transform(col("mh"), v => v.cast("string"))
    val signed =
      if (!storeText) minhashNarrow(df, idCol, text, numHashes, shingleWords)
      else df.filter(text.isNotNull &&
          size(slice(split(lower(text), " "), 1, MaxShingleWords)) >= shingleWords)
        .select(col(idCol), minhashCol(text, numHashes, shingleWords).as("mh"),
          text.as("__t"))
    val exploded = signed
      .select(col(idCol).as("ref_id") +:
        (if (storeText) Seq(col("__t")) else Nil) :+
        posexplode(concat(
          transform(sequence(lit(0), lit(bands - 1)),
            b => md5(array_join(
              slice(mhs, b * rowsPerBand + 1, lit(rowsPerBand)), "|"))),
          array(lit(null).cast("string")))): _*)
    val core = Seq(col("ref_id"),
      when(col("col").isNotNull, col("pos")).as("band"),
      col("col").as("bsig"),
      when(col("col").isNotNull,
        pmod(xxhash64(col("pos"), col("col")), lit(buckets))).as("bkt"),
      when(col("col").isNull,
        pmod(xxhash64(col("ref_id")), lit(buckets))).as("idb"))
    if (storeText)
      exploded.select(core :+ when(col("col").isNull, col("__t")).as("text"): _*)
    else exploded.select(core: _*)
  }

  /** Spark's directory name for a NULL partition value — how the one
    * staged write below keeps the two sublayouts' rows apart. */
  private val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"

  /** Write a batch's TWO band-index sublayouts in ONE job:
    * [[bandAndIdRows]] hashed once on (idb, bkt) — one file per
    * partition dir — lands in a per-append staging dir
    * (`_append.tmp`, partitioned by both columns), whose files are
    * then MOVED into `ids/` and `bands/`, ids FIRST. The move order
    * preserves the fail-closed crash contract: a crash between the
    * moves means a RETRY of the same batch refuses loudly on the
    * new-ids guard (recoverable — restage, or assumeNewIds FOLLOWED BY
    * [[compactBandIndex]]: a crash part-way through the bands move may
    * have landed some buckets' files, and the re-append then carries a
    * second copy of those rows until the compaction's distinct
    * collapses them); the reverse order would let the retry's guard
    * pass and double-append band rows, the silent bucket-census
    * corruption the guard exists to refuse. Id-side data files carry
    * null band/bsig columns (bytes of parquet metadata — readers
    * select ref_id only, and compaction rewrites the slim schema).
    * Returns the batch's signed-doc count (its id-sentinel rows). */
  private def writeBandSublayouts(rows: DataFrame, dir: String,
      buckets: Long): Long = {
    import org.apache.hadoop.fs.Path
    val spark = rows.sparkSession
    val obs = org.apache.spark.sql.Observation()
    val tmp = new Path(dir, "_append.tmp")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rows
      .repartition(col("idb"), col("bkt")) // one file per partition dir
      .observe(obs, count(when(col("idb").isNotNull, 1)).as("n_docs"))
      .write.mode("overwrite").partitionBy("idb", "bkt")
      .parquet(tmp.toString)
    def movePartFiles(src: Path, dst: Path): Unit = if (fs.exists(src)) {
      fs.mkdirs(dst): Unit
      fs.listStatus(src).map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .foreach(p => require(fs.rename(p, new Path(dst, p.getName)),
          s"failed to move $p into $dst"))
    }
    // both sublayout roots exist even for an all-short (or empty)
    // batch/corpus — an absent ids/ must keep MEANING "pre-ids layout"
    fs.mkdirs(new Path(dir, "ids")): Unit
    fs.mkdirs(new Path(dir, "bands")): Unit
    // ids FIRST — see scaladoc
    fs.listStatus(tmp).map(_.getPath)
      .filter(p => p.getName.startsWith("idb=") &&
        p.getName != s"idb=$HiveNullPart")
      .foreach(p => movePartFiles(new Path(p, s"bkt=$HiveNullPart"),
        new Path(dir, s"ids/${p.getName}")))
    val bandsRoot = new Path(tmp, s"idb=$HiveNullPart")
    if (fs.exists(bandsRoot))
      fs.listStatus(bandsRoot).map(_.getPath)
        .filter(_.getName.startsWith("bkt="))
        .foreach(p => movePartFiles(p, new Path(dir, s"bands/${p.getName}")))
    fs.delete(tmp, true): Unit
    obs.get("n_docs").asInstanceOf[Long]
  }

  /** Refuse a band index missing its `ids/` sublayout (staged by a
    * pre-ids layout): checked on EVERY append — including
    * `assumeNewIds` appends, whose `mode("append")` write would
    * otherwise CREATE a partial ids frame holding only that batch,
    * silently bypassing the guard for every originally staged id
    * forever after — and on compaction, which would otherwise die on
    * a raw missing-path read mid-swap. */
  private def requireBandIds(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val ids = new org.apache.hadoop.fs.Path(dir, "ids")
    val fs = ids.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(ids),
      s"$dir has no ids/ sublayout — it was staged by a pre-ids " +
        "band-index layout. Appending would create a PARTIAL ids frame " +
        "that silently disarms the new-ids guard for every originally " +
        "staged id; restage (stageBandIndex) to adopt the current layout.")
  }

  /** The guard frame of [[appendBandIndex]]: already-indexed ids among
    * `batchIds` (a distinct, materialized (ref_id) frame), read from the
    * `ids/` layout with STATIC pruning to the batch's id buckets —
    * exposed for the plan-audit pin. Same adaptive join strategy as
    * [[exactNewStaged]]: the batch-id set broadcasts into the pruned
    * scan's semi-join below `broadcastCap`, shuffles co-partitioned on
    * the id above it — a bulk backfill degrades instead of OOMing. */
  private[graft] def bandIndexSeenIds(batchIds: DataFrame, dir: String,
      buckets: Long, broadcastCap: Long = AdmitBroadcastCap,
      idsSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val spark = batchIds.sparkSession
    // ONE aggregate action yields the batch-id count AND the id bucket
    // set (≤ `buckets` longs — bounded, driver-safe): the size probe
    // (`limit(cap+1).count()`) and the bucket collect were two
    // back-to-back driver round-trips on every append's guard — the
    // last unfused instance of the exactNewStaged/bandIndexTexts
    // one-aggregate pattern (batchIds is distinct per the contract
    // above, so the count IS the distinct-id count the cap compares)
    val head = batchIds.agg(count(lit(1)).as("__n"),
      collect_set(pmod(xxhash64(col("ref_id")), lit(buckets))).as("__qb"))
      .collect()(0)
    val small = broadcastCap > 0 && head.getLong(0) <= broadcastCap
    val qb = head.getSeq[Long](1).toArray
    // empty-tolerant read (StagedIndex.readLayout): a just-staged index
    // whose corpus signed nothing has an EMPTY ids/ dir that must read
    // as "no ids seen", not die on schema inference; with data present
    // the manifest-recorded staged schema (`idsSchema`, passed by
    // callers holding the manifest) skips the per-append inference
    // job — inference stays the fallback for pre-schema-param indexes
    // (the batch's id type matches through the join's implicit cast
    // either way)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      batchIds.schema("ref_id"),
      org.apache.spark.sql.types.StructField("idb",
        org.apache.spark.sql.types.LongType)))
    graft.util.StagedIndex.readLayout(spark, s"$dir/ids", schema, idsSchema)
      .filter(col("idb").isin(qb: _*))
      .join(if (small) broadcast(batchIds) else batchIds,
        Seq("ref_id"), "left_semi")
      // id column ONLY: the guard's consumer collects whole rows, and
      // without this projection a store-texts index would read its
      // text payload (and the pre-compact null band/bsig columns) on
      // every append's guard scan
      .select(col("ref_id"))
  }

  /** Fold a batch of NEW documents into a [[stageBandIndex]] index —
    * batch-proportional (one file per touched bucket, existing files
    * untouched), signature recipe taken from the manifest. The new-ids
    * contract is ENFORCED (the [[graft.text.Retrieval.appendBm25]]
    * discipline): a re-appended id would duplicate its band rows, which
    * the probe's `distinct()` hides from the PAIR output but which
    * double-counts the id in the `maxBucket` bucket census — a
    * borderline bucket silently tips over the cap and its candidates
    * vanish. `assumeNewIds = true` skips the guard scan when
    * disjointness is proven upstream. The guard probes the staged
    * `ids/` frame (doc-count-sized, statically pruned to the batch's
    * id buckets — see [[stageBandIndex]]), never the 8-rows-per-doc
    * `bands/` table. */
  def appendBandIndex(batch: DataFrame, idCol: String, text: Column,
      dir: String, assumeNewIds: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindMinhashBands)
    require(mf.params.get("id_col").contains(idCol),
      s"$dir was staged with id_col=${mf.params.getOrElse("id_col", "?")}; " +
        s"append got $idCol — the band schema is the index contract")
    requireBandIds(spark, dir)
    val buckets = mf.paramInt("buckets").toLong
    if (!assumeNewIds) {
      // batch-id frame materialized ONCE (it feeds the bucket collect
      // and the semi-join probe), released once the guard has run
      val bids = batch.select(col(idCol).as("ref_id")).distinct()
        .localCheckpoint(true)
      try graft.util.StagedIndex.requireNewIds(
        bandIndexSeenIds(bids, dir, buckets,
          idsSchema = mf.layoutSchema("ids")),
        "appendBandIndex", dir,
        "a re-appended id double-counts in the maxBucket census and " +
          "silently drops a borderline bucket's candidates.",
        "stageBandIndex")
      finally graft.util.LocalCkpt.release(bids)
    }
    // ONE signature pass + ONE job feeds both sublayouts, ids moved
    // into place before bands (the fail-closed ordering —
    // writeBandSublayouts). The ids frame tracks bands: signed batch
    // docs only. store_texts comes from the MANIFEST (the recipe
    // discipline): every append of a store-texts index carries its
    // texts, so the verify fetch's coverage can never silently drift.
    writeBandSublayouts(
      bandAndIdRows(batch, idCol, text, mf.paramInt("num_hashes"),
        mf.paramInt("rows_per_band"), mf.paramInt("shingle_words"),
        buckets, mf.params.get("store_texts").contains("1")),
      dir, buckets): Unit
  }

  /** The (ref_id, text) rows of a STORE-TEXTS band index
    * ([[stageBandIndex]] `storeTexts = true`) for the given candidate
    * ids — the Jaccard-verify text fetch that replaces a per-probe
    * corpus re-scan: the `ids/` sublayout (which carries the texts) is
    * read with STATIC pruning to the candidates' id buckets (collected
    * from `refIds` — ≤ `buckets` values) plus a semi-join back on the
    * id, so the scan touches only the bucket partitions holding a
    * candidate — candidate-proportional, never corpus-proportional
    * (the [[bandIndexSeenIds]] pruning applied to text payloads; size
    * `buckets` so one bucket ≈ a few GB at the target corpus, the
    * family's standing knob). `refIds` is a one-column (ref_id) frame
    * evaluated TWICE (the fused size+bucket aggregate, then the
    * semi-join) — pass it materialized or derived narrowly from a materialized
    * frame. Same adaptive broadcast as the guard. Refuses an index staged without texts — silently returning
    * nothing would make every verification fail open. */
  def bandIndexTexts(refIds: DataFrame, dir: String,
      broadcastCap: Long = AdmitBroadcastCap): DataFrame = {
    val spark = refIds.sparkSession
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindMinhashBands)
    require(mf.params.get("store_texts").contains("1"),
      s"$dir was staged without storeTexts — its ids/ rows carry no " +
        "text, so candidate pairs cannot be Jaccard-verified from the " +
        "index; restage with storeTexts=true (or pass the corpus texts " +
        "explicitly where the caller supports it).")
    requireBandIds(spark, dir)
    val buckets = mf.paramInt("buckets").toLong
    // ONE aggregate action yields the candidate-id count AND the id
    // bucket set (≤ `buckets` longs) — the size probe and the bucket
    // collect were two driver round-trips per micro-batch verify
    val head = refIds.agg(count(lit(1)).as("__n"),
      collect_set(pmod(xxhash64(col("ref_id")), lit(buckets))).as("__qb"))
      .collect()(0)
    val small = broadcastCap > 0 && head.getLong(0) <= broadcastCap
    val qb = head.getSeq[Long](1).toArray
    val schema = org.apache.spark.sql.types.StructType(Seq(
      refIds.schema("ref_id"),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("idb",
        org.apache.spark.sql.types.LongType)))
    // manifest-recorded staged schema: no inference job per verify fetch
    graft.util.StagedIndex.readLayout(spark, s"$dir/ids", schema,
        mf.layoutSchema("ids"))
      .filter(col("idb").isin(qb: _*))
      .join(if (small) broadcast(refIds) else refIds,
        Seq("ref_id"), "left_semi")
      .select(col("ref_id"), col("text"))
  }

  /** [[lshNewCandidates]] against a FROZEN [[stageBandIndex]] index:
    * the batch signs itself under the manifest's recipe, its band
    * buckets are collected (≤ `buckets` values) so the bands scan
    * prunes STATICALLY to the probed partitions, and the `maxBucket`
    * census is computed over the pruned scan — exact, because a
    * (band, bsig) group lives entirely inside one bucket partition.
    * Row-identical to the direct two-sided run (DedupSpec pins it);
    * probe cost scales with the batch, never the reference. */
  def lshNewCandidatesStaged(batch: DataFrame, idCol: String, text: Column,
      dir: String, maxBucket: Int = 1000): DataFrame = {
    val spark = batch.sparkSession
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindMinhashBands)
    val buckets = mf.paramInt("buckets").toLong
    // the batch band frame feeds the bucket collect AND the probe join:
    // eager-materialize once (the probeSpans discipline)
    // LAZY checkpoint: the bucket collect right below computes every
    // partition anyway, so it doubles as the materializing action — an
    // eager checkpoint would run the band-signing plan as its own job
    // first and the collect as a second (two jobs per micro-batch probe
    // where one suffices)
    val bb = bandRows(batch, idCol, text, mf.paramInt("num_hashes"),
        mf.paramInt("rows_per_band"), mf.paramInt("shingle_words"))
      .withColumnRenamed("ref_id", "batch_id")
      .localCheckpoint(false)
    val qb = bb.select(pmod(xxhash64(col("band"), col("bsig")), lit(buckets))
        .as("bkt"))
      .distinct().collect().map(_.getLong(0))
    // empty-tolerant read (StagedIndex.readLayout): an index staged
    // over a corpus where nothing signed a band has an EMPTY bands/
    // dir — it must probe as "no candidates", not die on schema
    // inference; with data present the manifest-recorded staged schema
    // skips the per-probe inference job (inference fallback for
    // pre-schema-param indexes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      bb.schema("batch_id").copy(name = "ref_id"),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("bsig",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bkt",
        org.apache.spark.sql.types.LongType)))
    val ref = graft.util.StagedIndex.readLayout(spark, s"$dir/bands", schema,
        mf.layoutSchema("bands"))
      .filter(col("bkt").isin(qb: _*))
    val ok = ref.groupBy("band", "bsig").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select("band", "bsig")
    bb.join(ref.join(ok, Seq("band", "bsig"), "left_semi"),
        Seq("band", "bsig"))
      .select("batch_id", "ref_id")
      .distinct()
  }

  /** COMPACT a [[stageBandIndex]] index after appends: one file per
    * bucket again, manifest count refreshed. Band rows are immutable
    * per-(doc, band) facts, so compaction is a pure file consolidation —
    * probe-invisible; crash-safe swap via [[graft.util.DirSwap]]. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import graft.util.StagedIndex.Layout
    requireBandIds(spark, dir)
    val obs = org.apache.spark.sql.Observation()
    // bands and ids rewrites are independent sinks — overlapped
    // (StagedIndex.compact overlap; the ids rewrite binds its OWN obs)
    graft.util.StagedIndex.compact(spark, dir,
        graft.util.IndexManifest.KindMinhashBands, overlap = true) { mf =>
      // BOTH sublayouts DEDUP on the way through: a legitimate row is
      // unique by construction (one band row per (doc, band), one id
      // row per signed doc), so distinct is a no-op on a healthy
      // index — and it is what makes the documented crash RECOVERY
      // converge. A crash part-way through writeBandSublayouts' bands
      // move leaves some buckets' band files moved; the retry refuses
      // on the ids guard, and the assumeNewIds re-append then lands a
      // SECOND copy of the already-moved buckets' rows, double-counting
      // them in the maxBucket census (a borderline bucket silently
      // tips over the cap) until this compaction collapses the copies.
      // Recovery contract: assumeNewIds + compactBandIndex, in that
      // order — probes between the two may under-report borderline
      // buckets (DedupSpec pins the convergence).
      //
      // A store-texts index keeps its text payload through compaction
      // (collapsing crash-recovery duplicates to one row per id — the
      // duplicate texts are identical by the per-id contract, so
      // first() just picks the one row); a plain index rewrites the
      // slim (ref_id, idb) schema as before.
      val storeTexts = mf.params.get("store_texts").contains("1")
      Seq(
        Layout("bands", Some("bkt"),
          _.select(col("ref_id"), col("band"), col("bsig"), col("bkt"))
            .distinct()),
        Layout("ids", Some("idb"),
          in => (if (storeTexts)
              in.groupBy(col("ref_id"), col("idb"))
                .agg(first(col("text"), ignoreNulls = true).as("text"))
                .select(col("ref_id"), col("text"), col("idb"))
            else in.select(col("ref_id"), col("idb")).distinct())
            .observe(obs, count(lit(1)).as("n_docs"))))
    } { _ => Map("n_docs" -> obs.get("n_docs").asInstanceOf[Long]) }
    ()
  }

  /** MIGRATE a legacy (text-less) band index to the store-texts layout
    * — the adoption verb for the batch-proportional verify shape: a
    * deployment running Jaccard-verified admission against a legacy
    * index pays a corpus re-scan per micro-batch (the `refTexts`
    * surface); this rebuilds the index with `storeTexts = true` from
    * the caller's document frame (the originally staged corpus UNION
    * the gate's admitted `out` rows — every doc whose signatures the
    * index holds, with its text), preserving the frozen signature
    * recipe verbatim, so the migrated index is BYTE-IDENTICAL to a
    * fresh `storeTexts` stage of the same frame: probes, guards and
    * the bucket census are unchanged, and the verify fetch
    * ([[bandIndexTexts]]) works from `ids/` with static pruning from
    * the next batch on ([[graft.streaming.DocStream.admitNearStream]]
    * then refuses a redundant `refTexts` under its two-authorities
    * guard).
    *
    * The doc-set contract is ENFORCED in both directions before
    * anything is touched (a migration that silently changed the doc
    * set would also silently change admission decisions):
    *  - every indexed id must appear in `docs` — a missing id means
    *    the admitted outPath was not supplied and its state would be
    *    DROPPED;
    *  - every `docs` row that would sign under the recipe must
    *    already be indexed — an extra signing doc means the caller
    *    passed the wrong frame and the index would silently WIDEN.
    * Both guards are one doc-count-sized scan of `ids/` (ref_id column
    * only) joined against the frame — the acceptable one-off cost of
    * a maintenance verb that then rewrites the whole layout anyway.
    * `docs` is evaluated three times (two guards + the restage): pass
    * it materialized. Runs under the stage bracket
    * (invalidate-first/manifest-last): a crash mid-migration reads as
    * "not a graft index — restage to recover", never as a half-built
    * layout. Single-writer, like every stage. */
  def migrateBandIndexTexts(docs: DataFrame, idCol: String, text: Column,
      dir: String): Unit = {
    val spark = docs.sparkSession
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindMinhashBands)
    require(mf.params.get("id_col").contains(idCol),
      s"$dir was staged with id_col=${mf.params.getOrElse("id_col", "?")}; " +
        s"migrate got $idCol — the band schema is the index contract")
    requireBandIds(spark, dir)
    val shingleWords = mf.paramInt("shingle_words")
    val indexedIds = graft.util.StagedIndex.readLayout(spark, s"$dir/ids",
        org.apache.spark.sql.types.StructType(Seq(
          docs.schema(idCol).copy(name = "ref_id"),
          org.apache.spark.sql.types.StructField("idb",
            org.apache.spark.sql.types.LongType))),
        mf.layoutSchema("ids"))
      .select(col("ref_id"))
    val frameIds = docs.select(col(idCol).as("ref_id")).distinct()
    val dropped = indexedIds.join(frameIds, Seq("ref_id"), "left_anti")
      .limit(5).collect().map(_.get(0))
    require(dropped.isEmpty,
      s"migrateBandIndexTexts($dir): indexed ids missing from the " +
        s"supplied frame (e.g. ${dropped.mkString(", ")}) — their " +
        "signatures would be silently dropped. Supply the originally " +
        "staged corpus UNION every admitted batch (the gate's out path).")
    // the signing filter, expression-identical to bandAndIdRows'
    val widened = docs
      .filter(text.isNotNull &&
        size(slice(split(lower(text), " "), 1, MaxShingleWords)) >= shingleWords)
      .select(col(idCol).as("ref_id")).distinct()
      .join(indexedIds, Seq("ref_id"), "left_anti")
      .limit(5).collect().map(_.get(0))
    require(widened.isEmpty,
      s"migrateBandIndexTexts($dir): the supplied frame holds signing " +
        s"docs the index never saw (e.g. ${widened.mkString(", ")}) — " +
        "migration preserves the doc set; fold new docs in with " +
        "appendBandIndex after migrating.")
    stageBandIndex(docs, idCol, text, dir,
      numHashes = mf.paramInt("num_hashes"),
      rowsPerBand = mf.paramInt("rows_per_band"),
      shingleWords = shingleWords,
      buckets = mf.paramInt("buckets"),
      storeTexts = true)
  }

  /** Materialize a reference corpus' exact-dedup fingerprint set as a
    * staged index — the FIFTH staged kind (BM25 postings, gram census,
    * IVF-PQ codes, minhash bands, now content fingerprints), and the
    * production shape of [[exactNew]]: an admission service pays the
    * reference hash pass ONCE and probes every incoming batch at
    * batch-proportional cost instead of re-hashing a 100 TB reference
    * per batch. Layout under `dir`:
    *  - `fp/` — one row per distinct reference content hash `(ch)`
    *    PARTITIONED BY `fpb = pmod(xxhash64(ch), buckets)`, so a batch
    *    probe scans only its own hash-bucket partitions;
    *  - `_graft_index.json` — kind + bucket count.
    * Id-FREE like the gram census (a fingerprint says "this text
    * exists", not whose), so appends need no new-ids guard: a
    * duplicate hash row is probe-invisible (the probe is a semi-join)
    * and [[compactFingerprints]] consolidates duplicates away. */
  def stageFingerprints(reference: DataFrame, text: Column, dir: String,
      buckets: Int = 64): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = reference.sparkSession
    graft.util.StagedIndex.stage(spark, dir,
        graft.util.IndexManifest.KindFingerprints,
        // fp's schema is fixed by construction (fingerprintSeen reads it
        // as a literal) — recorded anyway so compactFingerprints' rewrite
        // read resolves it through the manifest like every other layout
        params = Map("buckets" -> buckets.toString,
          "schema.fp" -> "ch STRING, fpb BIGINT")) {
      val obs = org.apache.spark.sql.Observation()
      reference.filter(text.isNotNull).select(md5(text).as("ch")).distinct()
        .observe(obs, count(lit(1)).as("n_fingerprints"))
        .withColumn("fpb", pmod(xxhash64(col("ch")), lit(buckets.toLong)))
        .repartition(col("fpb")) // one file per bucket, not tasks×buckets
        .write.mode("overwrite").partitionBy("fpb").parquet(s"$dir/fp")
      Map("n_fingerprints" -> obs.get("n_fingerprints").asInstanceOf[Long])
    }
  }

  /** Fold a batch's fingerprints into a [[stageFingerprints]] index —
    * batch-proportional (one file per touched bucket). Typical caller:
    * append [[exactNewStaged]]'s ADMITTED docs after each admission
    * round, so the next batch dedups against reference + everything
    * admitted so far. Re-appending an already-present hash is
    * harmless (see [[stageFingerprints]] — the id-free exception to
    * the new-ids guard family). */
  def appendFingerprints(batch: DataFrame, text: Column,
      dir: String): Unit = {
    val spark = batch.sparkSession
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindFingerprints)
    batch.filter(text.isNotNull).select(md5(text).as("ch")).distinct()
      .withColumn("fpb",
        pmod(xxhash64(col("ch")), lit(mf.paramInt("buckets").toLong)))
      .repartition(col("fpb")) // one file per touched bucket per append
      .write.mode("append").partitionBy("fpb").parquet(s"$dir/fp")
  }

  /** Row cap under which the frozen-index admission probes BROADCAST
    * the collapsed batch (≈ tens of MB of md5 hashes — comfortably
    * inside driver/executor broadcast budgets); above it the probe
    * joins shuffle on the hash key instead, so a bulk backfill batch
    * DEGRADES to batch-proportional shuffles rather than OOMing the
    * driver. The [[resolveClusters]] adaptive discipline applied to
    * admission. Cap convention (uniform across every fused probe since
    * the r17 one-aggregate fusion): `0` disables broadcasting outright;
    * any POSITIVE cap is compared against the batch's measured row
    * count — so an "effectively unlimited" cap like `Long.MaxValue`
    * means ALWAYS broadcast (the caller opted out of the guard), not
    * "never broadcast" as the pre-fusion `< Int.MaxValue` idiom had
    * it. */
  val AdmitBroadcastCap: Long = 1000000L

  /** [[exactNew]] against a FROZEN [[stageFingerprints]] index: the
    * batch collapses to its min-id winners, its hash buckets are
    * collected (≤ `buckets` values) so the fp scan prunes STATICALLY
    * to the probed partitions, and the pruned fingerprints semi-join
    * the batch hashes — row-identical to the direct two-sided run
    * (DedupSpec pins it); probe cost scales with the batch + touched
    * partitions, never the reference.
    *
    * Adaptive join strategy (the [[resolveClusters]] discipline): one
    * cheap `limit(cap+1).count()` over the already-materialized
    * collapsed batch decides the plan — at streaming-micro-batch /
    * admission-batch sizes (≤ `broadcastCap` distinct hashes) the
    * batch-hash set BROADCASTS into the pruned scan's semi-join and
    * the matched set broadcasts back into the anti-join (zero
    * exchanges beyond the window); a BULK BACKFILL batch above the cap
    * switches both joins to shuffles co-partitioned on the hash key,
    * so admission degrades smoothly instead of OOMing the driver on a
    * reference-scale batch. Both paths are pinned row-identical by
    * DedupSpec. Result is eagerly materialized and the collapsed-batch
    * intermediate is released before returning (long-running
    * [[graft.streaming.DocStream.admitStream]] callers invoke this
    * every micro-batch — a leaked block per batch would accumulate
    * forever). */
  def exactNewStaged(batch: DataFrame, idCol: String, text: Column,
      dir: String, broadcastCap: Long = AdmitBroadcastCap): DataFrame = {
    val spark = batch.sparkSession
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindFingerprints)
    val buckets = mf.paramInt("buckets").toLong
    // the collapsed batch feeds the size probe, the bucket collect AND
    // both joins: persist + release (NOT localCheckpoint — its blocks
    // would outlive the call, see scaladoc)
    val bh = collapseByContent(batch, idCol, text).persist()
    try {
      // ONE materializing aggregate returns the collapsed-batch size AND
      // its bucket set (≤ `buckets` longs): the size probe and the
      // bucket collect were two back-to-back driver round-trips over the
      // same persisted frame — per-micro-batch cost in admitStream
      val head = bh.agg(count(lit(1)).as("__n"),
        collect_set(when(col("__ch").isNotNull,
          pmod(xxhash64(col("__ch")), lit(buckets)))).as("__qb"))
        .collect()(0)
      val small = broadcastCap > 0 && head.getLong(0) <= broadcastCap
      val seen = fingerprintSeen(bh, dir, buckets, forceBroadcast = small,
        probedBuckets = Some(head.getSeq[Long](1).toArray))
      bh.join(if (small) broadcast(seen) else seen, Seq("__ch"), "left_anti")
        .select(col(idCol), col("__text").as("text"))
        .localCheckpoint(true)
    } finally { bh.unpersist(false); () }
  }

  /** The matched-hash frame of [[exactNewStaged]]: the fp scan pruned
    * STATICALLY to the (materialized) collapsed batch's hash buckets,
    * semi-joined with the batch hashes (`__ch`). Exposed for the
    * plan-audit pin — the returned frame is lazy, so a spec can assert
    * the scan carries partition filters. */
  private[graft] def fingerprintSeen(bh: DataFrame, dir: String,
      buckets: Long, forceBroadcast: Boolean,
      probedBuckets: Option[Array[Long]] = None): DataFrame = {
    val spark = bh.sparkSession
    val qb = probedBuckets.getOrElse(bh.filter(col("__ch").isNotNull)
      .select(pmod(xxhash64(col("__ch")), lit(buckets)).as("fpb"))
      .distinct().collect().map(_.getLong(0)))
    val hashes = bh.select("__ch")
    // empty-tolerant read (StagedIndex.readLayout): an index staged
    // over an all-null-text (or empty) corpus has an EMPTY fp/ dir —
    // it must probe as "nothing seen", not die on schema inference
    // (ch = md5 string, fpb = the partition key). The fp layout's
    // schema is FIXED by stageFingerprints for every index ever staged
    // — so the same StructType doubles as the explicit DATA schema and
    // the per-probe parquet schema-inference job disappears (guide §6)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ch",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("fpb",
        org.apache.spark.sql.types.LongType)))
    graft.util.StagedIndex.readLayout(spark, s"$dir/fp", schema, Some(schema))
      .filter(col("fpb").isin(qb: _*))
      .select(col("ch").as("__ch"))
      .join(if (forceBroadcast) broadcast(hashes) else hashes,
        Seq("__ch"), "left_semi")
      .distinct()
  }

  /** COMPACT a [[stageFingerprints]] index after appends: duplicate
    * hash rows (re-appended or cross-append repeats) collapse to one,
    * one file per bucket again, manifest count refreshed to the
    * DISTINCT fingerprint count. Probe-invisible (the probe is a
    * semi-join); crash-safe swap via [[graft.util.DirSwap]]. */
  def compactFingerprints(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import graft.util.StagedIndex.Layout
    val obs = org.apache.spark.sql.Observation()
    graft.util.StagedIndex.compact(spark, dir,
        graft.util.IndexManifest.KindFingerprints) { _ =>
      Seq(Layout("fp", Some("fpb"),
        _.select(col("ch"), col("fpb")).distinct()
          .observe(obs, count(lit(1)).as("n_fingerprints"))))
    } { _ =>
      Map("n_fingerprints" -> obs.get("n_fingerprints").asInstanceOf[Long])
    }
    ()
  }

  /** Benchmark decontamination: corpus documents sharing at least one
    * word n-gram (default 13 — the de-facto eval-decontamination window)
    * with any benchmark document. The step that keeps eval sets out of
    * a training corpus.
    *
    * Plan shape at 100 TB: the benchmark side is SMALL by definition
    * (eval suites are thousands of docs), so its distinct n-gram set is
    * BROADCAST into the corpus shingle scan — the corpus never shuffles
    * for the probe; the only exchange is the per-hit-document count
    * aggregation, sized by CONTAMINATED docs only. Output: (corpusId,
    * n_grams_hit = distinct shared n-grams, first_bench_id = lowest
    * matching benchmark doc). */
  def contaminated(corpus: DataFrame, corpusId: String, bench: DataFrame,
      benchId: String, text: Column, n: Int = 13): DataFrame = {
    // corpus-side per-doc distinct via array_distinct (a NARROW
    // projection) — the shingles() helper's (id, s) distinct would
    // shuffle every corpus gram row just to dedup within documents
    val cs = corpus.select(col(corpusId),
        slice(split(lower(text), " "), 1, MaxShingleWords).as("__w"))
      .select(col(corpusId), explode(array_distinct(array_compact(
        Shingles.wordNGramsOf(col("__w"), n)))).as("s"))
    // one row per benchmark gram (lowest owning doc): keeps the
    // broadcast minimal and the probe join multiplicity-free, so the
    // final count needs no distinct aggregate
    val bs = shingles(bench, benchId, text, n)
      .groupBy("s").agg(min(col(benchId)).as("__bid"))
    cs.join(broadcast(bs), Seq("s"))
      .groupBy(corpusId)
      .agg(count(lit(1)).as("n_grams_hit"),
        min(col("__bid")).as("first_bench_id"))
  }

  /** Corpus boilerplate census + per-document boilerplate share — the
    * repeated-phrase gate of a training pipeline: headers, footers,
    * cookie banners, and license blurbs repeat VERBATIM across pages,
    * and a document dominated by such phrases is boilerplate, not
    * content (the repeated-substring observation behind suffix-array
    * training-data dedup, applied at word-n-gram granularity;
    * [[graft.text.Lines.lineDedup]] is the line-level sibling that
    * REMOVES the repeats — this operator MEASURES how much of each doc
    * repeats, for thresholded filtering).
    *
    * Census: per-document DISTINCT word-n-grams (the [[contaminated]]
    * corpus-side narrow projection — `array_distinct` inside the doc, no
    * per-gram shuffle just to dedup within a document), keyed by md5 so
    * shuffled rows carry a fixed-width hash instead of the phrase
    * string, aggregated to document frequency with map-side combine;
    * grams in ≥ `minDf` docs are boilerplate. Unlike the benchmark side
    * of [[contaminated]] the census is corpus-sized in the worst case,
    * so the probe is a plain shuffle join on the gram key —
    * CO-PARTITIONED with the census aggregate's own exchange, no
    * broadcast assumption. One left join + one aggregate computes both
    * `n_grams` (row count) and `n_boiler` (non-null hits) per doc.
    *
    * The share is exact integer per-mille (`1000·n_boiler DIV n_grams`)
    * — engine-exact, no float division. Output: (idCol, n_grams,
    * n_boiler, boiler_permille), one row per input document; docs too
    * short for a single n-gram report (0, 0, 0).
    *
    * The gram rows are persisted across the census and probe subtrees
    * (materialize-then-release contract: the result is eagerly
    * checkpointed, the cache freed before return). */
  def boilerplateShare(df: DataFrame, idCol: String, text: Column,
      n: Int = 5, minDf: Int = 3): DataFrame = {
    val grams = df.select(col(idCol),
        slice(split(lower(text), " "), 1, MaxShingleWords).as("__w"))
      .select(col(idCol), explode(array_distinct(array_compact(
        Shingles.wordNGramsOf(col("__w"), n)))).as("__s"))
      .select(col(idCol), md5(col("__s")).as("__g"))
      .persist()
    try {
      val census = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= minDf)
        .select(col("__g"), lit(1L).as("__hit"))
      val perDoc = grams.join(census, Seq("__g"), "left")
        .groupBy(idCol)
        .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_boiler"))
      val out = df.select(col(idCol))
        .join(perDoc, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
        .withColumn("boiler_permille",
          when(col("n_grams") > 0, expr("1000 * n_boiler DIV n_grams"))
            .otherwise(lit(0L)))
      out.localCheckpoint(true)
    } finally { grams.unpersist(false); () }
  }

  /** Corpus-wide duplicated-SPAN detection — the word-n-gram
    * approximation of suffix-array exact-substring dedup (the
    * "deduplicating training data" substring pass): any token n-gram
    * occurring ≥ `minCount` times anywhere in the corpus — including
    * twice in the SAME document — marks duplicated text at its exact
    * token position, and overlapping/adjacent marks merge
    * (gaps-and-islands) into maximal spans. [[boilerplateShare]] counts
    * how many of a doc's DISTINCT phrases repeat elsewhere (presence by
    * doc-frequency); this operator finds WHERE the duplicated text
    * lives and how many tokens it covers — exactly what a span-removal
    * pass (cut `[first, first+len)` from the token stream) consumes.
    *
    * Plan shape: gram rows carry (doc, position, fixed-width md5); the
    * census is one map-side-combined aggregate on the hash; duplicated
    * positions come back via a LEFT SEMI join CO-PARTITIONED with the
    * census exchange — output-sensitive, only duplicated positions
    * survive into the window stage. Span merging is a per-document
    * window over those positions, bounded by [[MaxShingleWords]] rows
    * per doc — a reducer sees one capped document, never the corpus,
    * and docs without duplication never reach the window at all.
    * Nothing is all-pairs; every stage is linear in its input.
    *
    * Merge rule: a duplicated gram at `p` extends the current span when
    * `p − prev ≤ n` (overlap, or exact adjacency = contiguous
    * duplicated text); span token length = `last − first + n`. Spans of
    * DIFFERENT duplicated phrases that touch merge into one span — the
    * cut-list semantic. Coverage is exact integer per-mille over the
    * doc's capped token count (`1000·dup_tokens DIV n_tokens`) —
    * engine-exact, no float. Output: (idCol, n_tokens, n_spans,
    * dup_tokens, dup_permille), one row per input document; docs with
    * no duplicated span report (n_tokens, 0, 0, 0).
    *
    * Default n = 13 tokens: long enough that natural language rarely
    * collides (the contamination-probe convention, [[contaminated]]),
    * short enough to catch licence blurbs and templated intros. */
  def dupSpans(df: DataFrame, idCol: String, text: Column,
      n: Int = 13, minCount: Int = 2): DataFrame = {
    require(n > 0 && minCount > 1, "need n > 0, minCount > 1")
    val words = df.select(col(idCol),
      slice(split(lower(text), " "), 1, MaxShingleWords).as("__w"))
    val grams = words
      .select(col(idCol),
        posexplode(Shingles.wordNGramsOf(col("__w"), n)).as(Seq("__p", "__s")))
      .filter(col("__s").isNotNull)
      .select(col(idCol), col("__p"), md5(col("__s")).as("__g"))
      .persist()
    try {
      val dupGrams = grams.groupBy("__g").agg(count(lit(1)).as("__c"))
        .filter(col("__c") >= minCount)
        .select("__g")
      val dupPos = grams.join(dupGrams, Seq("__g"), "left_semi")
      val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      val spans = dupPos
        .withColumn("__brk",
          when(col("__p") - lag(col("__p"), 1).over(byDoc) <= n, lit(0L))
            .otherwise(lit(1L)))
        .withColumn("__sid", sum(col("__brk")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col(idCol), col("__sid"))
        .agg((max(col("__p")) - min(col("__p")) + n).cast("long").as("__len"))
      val perDoc = spans.groupBy(idCol)
        .agg(count(lit(1)).as("n_spans"), sum(col("__len")).as("dup_tokens"))
      val nt = df.select(col(idCol),
        when(text.isNotNull,
          size(slice(split(lower(text), " "), 1, MaxShingleWords)))
          .otherwise(lit(0)).cast("long").as("n_tokens"))
      val out = nt.join(perDoc, Seq(idCol), "left")
        .select(col(idCol), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
        .withColumn("dup_permille",
          when(col("n_tokens") > 0, expr("1000 * dup_tokens DIV n_tokens"))
            .otherwise(lit(0L)))
      out.localCheckpoint(true)
    } finally { grams.unpersist(false); () }
  }

  /** SimHash near-duplicate pairs — the Manku-style web-dedup design:
    * 64-bit token-multiset SimHash, banded into `bands` equal slices;
    * candidate pairs share at least one band VALUE; the verify step is
    * an exact popcount of the XOR. With the defaults (4 bands × 16 bits,
    * maxHamming = 3) the pigeonhole principle makes banding LOSSLESS:
    * ≤ 3 differing bits can dirty at most 3 of the 4 bands, so every
    * qualifying pair collides on some clean band — recall 1.0 relative
    * to all-pairs (modulo `maxBucket`, same cap discipline as
    * [[lshCandidates]]). Requires maxHamming < bands.
    *
    * Complements MinHash: SimHash pays ONE 64-bit signature per doc
    * (cheapest of the near-dup families — no shingle set, no 16-minhash
    * family) and catches small token-multiset edits; MinHash+Jaccard
    * measures set overlap and survives reorderings/insertions better.
    * A 100 TB pipeline typically runs SimHash first (cheap pass), then
    * MinHash on what survives.
    *
    * Plan shape: signatures are a narrow zero-shuffle projection
    * ([[graft.functions.SimHashN]]); the band explode is 4 rows/doc; the
    * only exchanges are the (band, value) bucket aggregation (map-side
    * combined, capped before [[graft.functions.SortedPairs]] expansion)
    * and the pair distinct; the hamming verify joins the (id → sig) map
    * — at most two longs per candidate id — back onto the pair list.
    * Output: (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxHamming,
    * eagerly materialized (same contract as [[lshCandidatesFromShingles]]).
    */
  def simhashCandidates(df: DataFrame, idCol: String, text: Column,
      maxHamming: Int = 3, bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming < bands,
      s"maxHamming=$maxHamming needs > $maxHamming bands for lossless banding")
    require(64 % bands == 0, s"bands=$bands must divide 64")
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val sigs = df.filter(text.isNotNull)
      .select(col(idCol), TextFunctions.whitespaceTokens(text).as("__tok"))
      .filter(size(col("__tok")) > 0)
      .select(col(idCol), TextFunctions.simhash64Col(col("__tok")).as("__sig"))
      .persist()
    try {
      // no eager count: candidatesFromBands' localCheckpoint is the
      // FIRST action and populates the cache on the way; the later
      // hamming joins (and each other) never race it because the
      // checkpoint is a barrier
      // shift-then-mask is sign-safe (bit 63 is the long's sign bit);
      // band value as the bucket key, same capped expansion as LSH
      val banded = sigs.select(col(idCol),
          posexplode(array((0 until bands).map(b =>
            shiftright(col("__sig"), b * bandBits).bitwiseAND(mask)): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bsig")
      val pairs = candidatesFromBands(banded, idCol, maxBucket)
      pairs
        .join(sigs.select(col(idCol).as("id_a"), col("__sig").as("__sa")), Seq("id_a"))
        .join(sigs.select(col(idCol).as("id_b"), col("__sig").as("__sb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("int").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .localCheckpoint(true)
    } finally { sigs.unpersist(false); () }
  }

  /** Exact word-n-gram Jaccard for given candidate pairs — the verify
    * stage after LSH. `pairs` must have (id_a, id_b), MATERIALIZED (it
    * is referenced several times). Joins each side's distinct shingle
    * set; |A∩B| via inner join on the shingle, |A∪B| = |A|+|B|−|A∩B|.
    * Cost is candidates × shingles, never all-pairs: the corpus is
    * pruned to candidate DOCS before any shingle is materialized, so
    * the explode+distinct work scales with the candidate set, not the
    * corpus — at 100 TB the verify stage never tokenizes the long tail
    * LSH already cleared. */
  def jaccardVerify(df: DataFrame, pairs: DataFrame, idCol: String, text: Column,
      shingleWords: Int = 3, stagingDir: Option[String] = None): DataFrame = {
    val candIds = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol)))
      .distinct()
    // one distinct shingle SET per candidate doc, held as an array — no
    // shingle row is ever exploded; the intersection is a narrow
    // array_intersect per pair (cost |A|+|B|), and the per-pair join
    // volume is two array payloads instead of every shingle row.
    // Persisted because both pair sides consume it.
    // `stagingDir` switches this candidate-pruned (still corpus-
    // proportional on a dup-heavy corpus) intermediate from persist()
    // to a parquet staging write (util/Staging contract).
    val (ssets, release) = graft.util.Staging.stage(
      df.join(candIds, Seq(idCol), "left_semi")
        .select(col(idCol), array_distinct(array_compact(
          Shingles.wordNGramsOf(
            slice(split(lower(text), " "), 1, MaxShingleWords),
            shingleWords))).as("__sset")),
      stagingDir, "jaccard_ssets")
    try {
      ssets.count(): Unit // materialize BEFORE the two consuming joins
      pairs
        .join(ssets.select(col(idCol).as("id_a"), col("__sset").as("__sa")), Seq("id_a"))
        .join(ssets.select(col(idCol).as("id_b"), col("__sset").as("__sb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("n_inter"),
          size(col("__sa")).cast("long").as("n_a"),
          size(col("__sb")).cast("long").as("n_b"))
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
        .localCheckpoint(true)
    } finally { release() }
  }

  /** Cluster resolution: collapse verified near-dup pairs into connected
    * components via iterative min-label propagation, so the pipeline
    * emits a deduped corpus assignment (id → cluster_root; keep the root)
    * rather than raw pairs.
    *
    * Each round, every node takes the min of its own label, its
    * neighbors' labels, AND its current root's label (pointer jumping /
    * path halving — the label chain contracts by half each round, so
    * convergence is O(log diameter) rounds rather than O(diameter): a
    * 2^50-long chain converges inside the default `maxIter`, where
    * plain neighbor-min propagation would silently stop short).
    * Iteration ends at the fixed point (no label changed), which is
    * exactly the per-component min id. Near-dup clusters are shallow
    * (stars/cliques around an original), so 2-3 rounds in practice.
    * Labels are persisted per round and the previous round unpersisted,
    * so lineage stays flat.
    *
    * `nodes` = one column of ids (the full corpus); `pairs` = (id_a,
    * id_b) verified edges. Returns (id, root); singletons are their own
    * root.
    *
    * Adaptive small-graph fast path (AQE-style runtime stats → plan
    * choice): the edge set is the OUTPUT of LSH + exact-Jaccard
    * verification, usually a vanishing fraction of the corpus — when it
    * fits comfortably on the driver (`smallEdgeCap`, default 200k
    * edges ≈ a few MB), one collect + union-find + broadcast join back
    * replaces the whole iterative loop, whose per-round fixed cost
    * (3 joins + an action) dwarfs the toy-scale data it moves. Above
    * the cap — the 100 TB path — the distributed pointer-jumping loop
    * runs unchanged. Both paths are pinned equal by DedupSpec. */
  def resolveClusters(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 50,
      smallEdgeCap: Long = 200000L): DataFrame = {
    val spark = nodes.sparkSession
    val idName = nodes.columns.head
    // one cheap stats action decides the plan (pairs is materialized by
    // every producing stage, so this does not re-derive the pipeline);
    // limit(cap+1).count() never scans past the cap on the big path
    if (smallEdgeCap >= 0 && smallEdgeCap < Int.MaxValue &&
        pairs.limit(smallEdgeCap.toInt + 1).count() <= smallEdgeCap)
      return resolveClustersDriver(nodes, pairs)
    // LINEAGE CUT, the load-bearing trick of every iterative DataFrame
    // algorithm: persist() caches DATA but Catalyst still re-analyzes the
    // full logical plan, and each round references the previous labels
    // several times — the plan tree grows ~3^rounds and analysis time
    // explodes even though execution hits the cache. Rebinding each
    // round's result through its RDD (LogicalRDD) keeps the plan
    // constant-size while the data stays distributed.
    def cut(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    val edges = cut(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()).persist()
    // only edge-connected nodes can ever change label: iterate over THEM
    // (typically a tiny fraction of the corpus) and union the untouched
    // singletons back at the end — per-round work scales with the pair
    // set, not the corpus
    // `persisted` is always the DataFrame .persist() was called on —
    // unpersisting a projection of it would NOT release the cache entry
    var persisted = cut(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("root"))).persist()
    persisted.count(): Unit // materialize; edges cached transitively
    var labels = persisted
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels.select(col("id").as("dst"), col("root")), Seq("dst"))
        .groupBy("src").agg(min("root").as("__nbr"))
      // neighbor-min, then one pointer jump (root := root's root) in the
      // same round — the jump join runs over the same edge-connected
      // label set, and a per-row changed flag lets ONE action both
      // materialize the round and count the changes
      val afterNbr = labels
        .join(nbrMin.select(col("src").as("id"), col("__nbr")), Seq("id"), "left")
        .select(col("id"), col("root").as("__old"),
          least(col("root"), coalesce(col("__nbr"), col("root"))).as("__r1"))
      val updated = cut(afterNbr
        .join(labels.select(col("id").as("__r1"), col("root").as("__rr")), Seq("__r1"), "left")
        .select(col("id"),
          least(col("__r1"), coalesce(col("__rr"), col("__r1"))).as("root"),
          col("__old"))
        .select(col("id"), col("root"),
          (col("root") < col("__old")).cast("long").as("__chg")))
        .persist()
      changed = updated.filter(col("__chg") === 1L).count()
      persisted.unpersist()
      persisted = updated
      labels = updated.select("id", "root") // narrow projection over the cache
      iter += 1
    }
    // materialize the assignment so every cache this loop holds can be
    // released before returning (same contract as lshCandidatesFromShingles)
    val out = nodes.select(col(idName).as("id"))
      .join(labels.withColumnRenamed("root", "__r"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__r"), col("id")).as("root"))
      .localCheckpoint(true)
    edges.unpersist(false)
    persisted.unpersist(false)
    out
  }

  /** Small-graph resolution: union-find on the driver over a collected
    * edge list, broadcast the component assignment back. Exact same
    * contract as the distributed loop (root = per-component MIN id
    * under Spark's ordering for the id type); only reached below
    * `smallEdgeCap`, so the collect is bounded by construction. */
  private[text] def resolveClustersDriver(nodes: DataFrame,
      pairs: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val idName = nodes.columns.head
    val idType = nodes.schema.head.dataType
    // collected rows carry EXTERNAL values (String/Long/BigDecimal/...),
    // whose natural Comparable order matches Spark's ordering for every
    // id type the catalogs carry (the interpreted ordering would expect
    // internal UTF8String/Decimal values)
    val ord: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        a.asInstanceOf[Comparable[Any]].compareTo(b)
    }

    // path-halving union-find; roots resolved to the component min at the end
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x0: Any): Any = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // halve
        x = parent(x)
      }
      x
    }
    // collected external values (Long/String/...) order identically to
    // their internal twins for every id type the catalogs carry
    pairs.select(col("id_a"), col("id_b")).collect().foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (a != null && b != null) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    val assign = parent.keys.toSeq.map { id =>
      org.apache.spark.sql.Row(id, find(id))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("__r", idType)))
    val labels = spark.createDataFrame(
      spark.sparkContext.parallelize(assign, 1), schema)
    // union-by-min makes every find() already the component min
    nodes.select(col(idName).as("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("__r"), col("id")).as("root"))
  }
}
