package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus — BM25 top-k documents per query.
  * The search half of the curation toolbox: retrieval evals, hard-
  * negative mining, and query-based decontamination all start with
  * "score every document against this query set".
  *
  * Determinism discipline (the [[TextFunctions.unigramSurprisal]] rule):
  * idf is quantized to integer MILLI-NATS, each per-term partial score
  * to integer MICRO-units, BEFORE the per-(query, doc) sum — integer
  * sums are exact in any order and any engine, where a double sum would
  * be summation-order-dependent. The remaining per-row arithmetic is a
  * fixed IEEE expression tree (mul/div only — deterministic bit-exact
  * across engines; only ln needs the quantization guard).
  *
  * Scale shape: the corpus-sized exchanges are the (doc, term) tf
  * aggregate (map-side combined) and a doc-key join for document
  * lengths, probed only by query-matched rows. The query term set and
  * the per-term document frequencies (for QUERY terms only — semi-
  * join-pruned before the df aggregate) BROADCAST; N and avgdl ride a
  * 1-row cross join. The per-query top-k is a salted TWO-LEVEL window
  * ([[saltedTopK]]): a query whose terms match the whole corpus (one
  * "the" in the query text) produces a corpus-sized candidate list, and
  * a single `Window.partitionBy(query_id)` would funnel all of it
  * through one reducer — the salted partial pass bounds what the final
  * per-query sort ever sees. The corpus never sorts, and nothing
  * corpus-sized is ever broadcast.
  *
  * Residual determinism caveat (shared with `tfIdfTopK` and
  * `unigramSurprisal`): the milli-nat idf quantization floors
  * `1000·ln(x)` — exactness across engines additionally assumes JVM
  * `Math.log` and the oracle's libm agree to the last ulp at the few
  * floor boundaries the data actually hits. IEEE 754 does not require
  * correctly-rounded `ln`, so a 1-ulp disagreement EXACTLY at an
  * integer milli-nat boundary could flip one quantized idf. Observed
  * agreement has been bit-stable across every round; if the gate ever
  * flakes here, the fix is an integer-ratio-derived idf (rank by
  * `(N - df + ½)/(df + ½)` as a rational) rather than a wider
  * quantum.
  */
object Retrieval {

  /** BM25 constants (the standard Robertson defaults). */
  val K1 = 1.2
  val B = 0.75

  /** Reciprocal-rank-fusion constant (the standard 60). */
  val RrfK = 60

  /** Default shard count for [[saltedTopK]] — matches the session
    * shuffle parallelism so a corpus-sized candidate list for one query
    * spreads across every core instead of one reducer. */
  val TopKSalts = 32

  /** Bounded per-group top-`k`. Level 1 shards each group's candidates
    * by `pmod(xxhash64(saltKey), salts)` and takes a partial top-k per
    * shard, so the only candidate-sized sort runs over
    * `candidates/salts` rows per task; level 2 ranks the ≤ `salts`×`k`
    * survivors per group under the same ordering. Equivalent to a
    * single per-group window — every global top-k row is a top-k row of
    * its own shard — but no group can funnel an unbounded candidate
    * list through one reducer (`salts = 1` degenerates to exactly the
    * single-window plan, which RetrievalSpec uses as the equivalence
    * oracle). `order` must be a total order (tie-break on a unique key)
    * for the output to be deterministic. Appends `rank`. */
  private[graft] def saltedTopK(cands: DataFrame, group: Column,
      saltKey: Column, order: Seq[Column], k: Int,
      salts: Int = TopKSalts): DataFrame = {
    require(salts > 0, "salts must be positive")
    val partial = Window.partitionBy(group, pmod(xxhash64(saltKey), lit(salts)))
      .orderBy(order: _*)
    val fin = Window.partitionBy(group).orderBy(order: _*)
    cands.withColumn("__pr", row_number().over(partial))
      .filter(col("__pr") <= k)
      .drop("__pr")
      .withColumn("rank", row_number().over(fin))
      .filter(col("rank") <= k)
  }

  /** Top-`k` documents per query by BM25. `queries` must carry
    * (`queryIdCol`, `queryTextCol`). Output: (query_id, rank, idCol,
    * score_micro, n_terms_hit). `salts` shards the per-query top-k
    * ([[saltedTopK]]); 1 = the classic single-window plan. `stagingDir`
    * switches the corpus-sized tf intermediate from `persist()` to a
    * parquet staging write — the production shape at 100 TB
    * ([[graft.util.Staging]]). */
  def bm25TopK(corpus: DataFrame, idCol: String, text: Column,
      queries: DataFrame, queryIdCol: String, queryText: Column,
      k: Int = 5, salts: Int = TopKSalts,
      stagingDir: Option[String] = None): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = corpus.filter(text.isNotNull)
      .select(col(idCol), explode(TextFunctions.whitespaceTokens(lower(text)))
        .as("term"))
    // ONE corpus exchange: per-(doc, term) counts; doc length rides the
    // same aggregate output (sum of tf per doc is a tiny regroup); the
    // result feeds THREE subtrees (dl, dfreq, scored) — staged
    val (tf, release) = graft.util.Staging.stage(
      toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")),
      stagingDir, "bm25_tf")
    try {
      val qterms = queries.select(col(queryIdCol),
          explode(TextFunctions.whitespaceTokens(lower(queryText))).as("term"))
        .distinct()
      val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
      // avgdl as exact-long-sum / count: `avg` would sum DOUBLES
      // (summation-order-dependent); an integer sum is exact in any
      // order, and the single division is deterministic IEEE
      val stats = dl.agg(count(lit(1)).as("__n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      // document frequency for QUERY terms only — pruned before the
      // aggregate, so the df table is query-vocabulary-sized
      val dfreq = tf.join(broadcast(qterms.select("term").distinct()), Seq("term"),
          "left_semi")
        .groupBy("term").agg(count(lit(1)).as("df"))
      bm25Score(tf, idCol, qterms, queryIdCol, dfreq, dl, stats, k, salts)
        .localCheckpoint(true)
    } finally { release() }
  }

  /** The BM25 scoring pipeline shared by [[bm25TopK]] (index pieces
    * derived in-flight) and [[stagedBm25TopK]] (index pieces read back
    * from parquet) — identical expressions, so the staged path is
    * bit-for-bit the direct one. */
  private def bm25Score(tf: DataFrame, idCol: String, qterms: DataFrame,
      queryIdCol: String, dfreq: DataFrame, dl: DataFrame, stats: DataFrame,
      k: Int, salts: Int): DataFrame = {
    val scored = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      // dl is doc-count-sized (NOT broadcastable): a plain key join —
      // only the query-matched rows reach this exchange
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      // idf in integer milli-nats (BM25+ positive form), then the tf
      // normalization as one fixed double expression tree, quantized
      // to integer micro-units per term
      .withColumn("__idf_mn", floor(lit(1000.0) *
        log((col("__n").cast("double") - col("df") + 0.5) / (col("df") + 0.5)
          + 1.0)).cast("long"))
      .withColumn("__s_micro", floor(
        col("__idf_mn") * col("tf") * lit(1.0 + K1) /
          (col("tf") + lit(K1) * (lit(1.0 - B) +
            lit(B) * col("dl") / col("avgdl"))) * lit(1000.0)).cast("long"))
    val agg = scored.groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__s_micro")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
    saltedTopK(agg, col(queryIdCol), col(idCol),
        Seq(col("score_micro").desc, col(idCol)), k, salts)
      .select(col(queryIdCol), col("rank"), col(idCol),
        col("score_micro"), col("n_terms_hit"))
  }

  /** Materialize a BM25 inverted index as parquet — the sparse twin of
    * [[graft.ml.Similarity.stageIvfPq]]: [[bm25TopK]] re-tokenizes the
    * corpus per call (fine for one-shot jobs), but a retrieval service
    * pays that corpus pass once and answers every later query batch
    * from the index. Layout under `dir`:
    *  - `postings/` — (id, term, tf) PARTITIONED BY
    *    `bkt = pmod(xxhash64(term), buckets)`, so a query batch scans
    *    only its vocabulary's buckets;
    *  - `df/` — per-term document frequency, same bucketing;
    *  - `dl/` — per-doc length (doc-count-sized, narrow);
    *  - `stats/` — one row: corpus size, exact-sum avgdl, and the
    *    bucket count. Stage-time metadata: queries take the bucketing
    *    from the MANIFEST and derive (n, avgdl) from `dl/` in-plan, so
    *    [[appendBm25]] batches are visible without a stats rewrite;
    *    [[compactBm25]] refreshes it. */
  def stageBm25(corpus: DataFrame, idCol: String, text: Column,
      dir: String, buckets: Int = 64): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = corpus.sparkSession
    val bkt = pmod(xxhash64(col("term")), lit(buckets.toLong))
    // the as-written sublayout frames, built LAZILY up front so their
    // schemas can be recorded as manifest params (schema.<layout> —
    // probes then read with explicit schemas instead of paying a
    // parquet schema-inference job per staged re-read, guide §6); only
    // postingsF is ever executed from here, the rest re-derive from
    // the written postings inside the body exactly as before
    val postingsF = corpus.filter(text.isNotNull)
      .select(col(idCol), explode(TextFunctions.whitespaceTokens(lower(text)))
        .as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("bkt", bkt)
    val dlF = postingsF.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val dfF = postingsF.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("bkt", bkt)
    val statsF = dlF.agg(count(lit(1)).as("__n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      lit(buckets.toLong).as("buckets"))
    import graft.util.StagedIndex.schemaParam
    // invalidate-first/manifest-last bracket (StagedIndex.stage): a
    // restage that dies mid-rewrite leaves no manifest (loud probe
    // failure), never a stale one
    graft.util.StagedIndex.stage(spark, dir,
        graft.util.IndexManifest.KindBm25,
        params = Map("buckets" -> buckets.toString, "id_col" -> idCol,
          schemaParam("postings", postingsF), schemaParam("dl", dlF),
          schemaParam("df", dfF), schemaParam("stats", statsF))) {
      postingsF
        // co-locate each bucket before the write — the aggregate exchange
        // hashes on (id, term), so without this every task holds every
        // bucket and the layout sprays tasks×buckets tiny files
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$dir/postings")
      // derive dl/df/stats from the WRITTEN postings — the corpus is
      // tokenized exactly once (explicit schema: the read-back needs no
      // inference job either)
      val tf = spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          schemaParam("postings", postingsF)._2))
        .parquet(s"$dir/postings")
      val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
      // n_docs rides an Observation on the dl write — no stats re-read
      val obs = org.apache.spark.sql.Observation()
      // dl / df / stats are three independent sinks over the written
      // postings — overlapped (guide §2.6: each back-to-back job pays
      // its own scheduling + commit latency while the others' tasks
      // could back-fill); safe here because the stage bracket leaves no
      // manifest on any failure, so partial sublayouts are never live
      graft.util.Par.run(
        () => dl.observe(obs, count(lit(1)).as("n_docs"))
          .write.mode("overwrite").parquet(s"$dir/dl"),
        () => tf.groupBy("term").agg(count(lit(1)).as("df"))
          .withColumn("bkt", pmod(xxhash64(col("term")), lit(buckets.toLong)))
          .repartition(col("bkt"))
          .write.mode("overwrite").partitionBy("bkt").parquet(s"$dir/df"),
        () => dl.agg(count(lit(1)).as("__n"),
            (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
            lit(buckets.toLong).as("buckets"))
          .write.mode("overwrite").parquet(s"$dir/stats"))
      Map("n_docs" -> obs.get("n_docs").asInstanceOf[Long])
    }
  }

  /** Query a [[stageBm25]] index. The query vocabulary's bucket set
    * (tiny) is collected so both the postings and df scans prune
    * STATICALLY to the probed partitions; everything downstream is the
    * shared [[bm25Score]] pipeline, so the result is row-identical to
    * [[bm25TopK]] over the staged corpus (RetrievalSpec pins it). The
    * doc id column is inferred from the postings schema. */
  def stagedBm25TopK(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, queryIdCol: String, queryText: Column,
      k: Int = 5, salts: Int = TopKSalts): DataFrame = {
    require(k > 0, "k must be positive")
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindBm25)
    // manifest-recorded layout schemas (schema.<name> params, stageBm25)
    // replace per-probe parquet schema-inference jobs; an index staged
    // before the params existed falls back to inference as always
    def readLayout(name: String) =
      graft.util.StagedIndex.readParquet(spark, mf.layoutSchema(name), s"$dir/$name")
    val qterms = queries.select(col(queryIdCol),
        explode(TextFunctions.whitespaceTokens(lower(queryText))).as("term"))
      .distinct()
    val postings = readLayout("postings")
    val idCol = postings.columns.filterNot(Set("term", "tf", "bkt")).head
    // the bucketing contract lives in the manifest — no driver-side
    // stats action per query batch
    val buckets = mf.paramInt("buckets").toLong
    val qb = qterms
      .select(pmod(xxhash64(col("term")), lit(buckets)).as("bkt"))
      .distinct().collect().map(_.getLong(0))
    val tf = postings.filter(col("bkt").isin(qb: _*)).drop("bkt")
    // SUM df per term after the prune: a fresh stage has one row per
    // term (the agg is a no-op on a query-vocabulary-sized frame), an
    // APPENDED index has one row per term per contributing batch —
    // summing makes append ≡ restage exact (the census discipline)
    val dfreq = readLayout("df")
      .filter(col("bkt").isin(qb: _*))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"),
        "left_semi")
      .drop("bkt")
      .groupBy("term").agg(sum(col("df")).as("df"))
    val dl = readLayout("dl")
    // (__n, avgdl) derived IN-PLAN from dl — the same exact-long-sum
    // expression the direct path uses — instead of the staged stats
    // frame, which appends leave stale by design (stats stays as
    // stage-time metadata for describe/compact). dl is doc-count-sized
    // and narrow; the agg is a second column-scan of a frame the score
    // join reads anyway.
    val stats = dl.agg(count(lit(1)).as("__n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    bm25Score(tf, idCol, qterms, queryIdCol, dfreq, dl, stats, k, salts)
  }

  /** Fold a batch of NEW documents into a [[stageBm25]] index WITHOUT
    * re-tokenizing the corpus — the BM25 analog of
    * [[graft.text.Substrings.appendGramCensus]] /
    * [[graft.ml.Similarity.appendIvfPq]]: the batch's postings, per-term
    * document-frequency rows, and doc lengths APPEND (existing files
    * untouched, one file per touched bucket); queries sum `df` per term
    * and derive `(n, avgdl)` from the dl frame, so append-then-query ≡
    * restage-then-query exactly (RetrievalSpec pins it). The batch must
    * be NEW document ids (the shared append contract): a repeated id
    * would split its (id, term) tf across rows, double-count its `dl`
    * row (inflating n and avgdl), and skew its scores — re-ingesting a
    * mutated corpus is an explicit restage. The contract is ENFORCED,
    * not just documented (the loud-knobs discipline: refuse what would
    * be silently wrong): the batch's ids are semi-joined against the
    * index's `dl` frame (one narrow doc-count-sized column scan — the
    * cheapest frame that holds every indexed id exactly once per
    * stage/append) and a hit refuses the whole append before anything
    * is written. `assumeNewIds = true` is the explicit escape hatch for
    * a caller that has already proven disjointness upstream (e.g. the
    * ids come from a dedup gate keyed on the same id space) and wants
    * the scan back. The stats frame and manifest counts describe the
    * last full stage; [[compactBm25]] refreshes them. */
  def appendBm25(batch: DataFrame, idCol: String, text: Column,
      dir: String, assumeNewIds: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindBm25)
    require(mf.params.get("id_col").contains(idCol),
      s"$dir was staged with id_col=${mf.params.getOrElse("id_col", "?")}; " +
        s"append got $idCol — the postings schema is the index contract")
    val buckets = mf.paramInt("buckets").toLong
    val bkt = pmod(xxhash64(col("term")), lit(buckets))
    // ONE batch tokenize feeds the guard, postings, df, and dl
    val tf = batch.filter(text.isNotNull)
      .select(col(idCol), explode(TextFunctions.whitespaceTokens(lower(text)))
        .as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .persist()
    try {
      if (!assumeNewIds) {
        // manifest-recorded dl schema: the per-append guard scan pays
        // no schema-inference job (inference fallback for old indexes)
        val dlGuard =
          graft.util.StagedIndex.readParquet(spark, mf.layoutSchema("dl"), s"$dir/dl")
        graft.util.StagedIndex.requireNewIds(
          dlGuard.select(col(idCol))
            .join(tf.select(col(idCol)).distinct(), Seq(idCol), "left_semi"),
          "appendBm25", dir,
          "appending an existing id splits its (id, term) tf across rows " +
            "and double-counts its dl row, silently skewing scores.",
          "stageBm25")
      }
      // postings and df are independent sinks from the persisted tf —
      // overlapped (guide §2.6). dl stays LAST and alone: it is the
      // new-ids guard's authority, and closing the guard only after
      // both payload sublayouts landed preserves the crash contract
      // exactly as the sequential order did (a replay after a crash
      // before the dl append re-runs against an open guard either way).
      graft.util.Par.run(
        () => tf.withColumn("bkt", bkt).repartition(col("bkt"))
          .write.mode("append").partitionBy("bkt").parquet(s"$dir/postings"),
        () => tf.groupBy("term").agg(count(lit(1)).as("df"))
          .withColumn("bkt", bkt).repartition(col("bkt"))
          .write.mode("append").partitionBy("bkt").parquet(s"$dir/df"))
      tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
        .write.mode("append").parquet(s"$dir/dl")
    } finally { tf.unpersist(false); () }
  }

  /** COMPACT a [[stageBm25]] index after appends: consolidate postings
    * and dl files, RE-SUM the per-term df rows appends accumulate, and
    * refresh the stats frame + manifest count to the truth. Same
    * discipline as [[graft.text.Substrings.compactCensus]]: compaction
    * is QUERY-INVISIBLE (queries already sum df and derive stats from
    * dl), the manifest stays valid throughout, and each sublayout swap
    * is crash-safe ([[graft.util.DirCommit]] — the next probe's
    * validate finishes a sealed swap or undoes one that left a layout
    * missing, the next compaction the rest; a crash between sublayout swaps
    * leaves a valid mixed-compaction index). */
  def compactBm25(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import graft.util.StagedIndex.Layout
    val obs = org.apache.spark.sql.Observation()
    // postings/df/dl rewrites are independent sinks — overlapped
    // (StagedIndex.compact overlap; dl binds its OWN obs, which the
    // stats refresh below reads only after compact returns)
    val mf = graft.util.StagedIndex.compact(spark, dir,
        graft.util.IndexManifest.KindBm25, overlap = true) { mf =>
      val idCol = mf.params.getOrElse("id_col", "doc_id")
      Seq(
        Layout("postings", Some("bkt"),
          _.select(col(idCol), col("term"), col("tf"), col("bkt"))),
        // re-sum the per-term df rows appends accumulate
        Layout("df", Some("bkt"),
          _.groupBy(col("bkt"), col("term")).agg(sum(col("df")).as("df"))
            .select(col("term"), col("df"), col("bkt"))),
        Layout("dl", None,
          _.observe(obs, count(lit(1)).as("n_docs"),
              sum(col("dl")).as("dl_sum"))
            .repartition(col(idCol)))) // shuffle-partition-count files
    } { _ => Map("n_docs" -> obs.get("n_docs").asInstanceOf[Long]) }
    val nDocs = obs.get("n_docs").asInstanceOf[Long]
    val dlSum = obs.get("dl_sum").asInstanceOf[Long]
    import spark.implicits._
    // same IEEE value as the staged expression: exact long sum, one division
    Seq((nDocs, dlSum.toDouble / nDocs, mf.paramInt("buckets").toLong))
      .toDF("__n", "avgdl", "buckets")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Hybrid retrieval: BM25 ∪ dense ANN, fused by reciprocal-rank
    * fusion — the modern two-tower retrieval stack as one composition.
    * Each ranker contributes `floor(10⁶ / (RrfK + rank))` integer
    * micro-units per item it retrieved (top-`poolK` pools), summed per
    * (query, item) — integer fusion, so the final ranking is engine-
    * exact like its inputs. Query embeddings are the `embeddings` rows
    * whose id equals the query id (the corpus item and query share the
    * id space). The dense side is
    * [[graft.ml.Similarity.bruteForceTopK]] by default (queries
    * broadcast, corpus never shuffles — exact, fine up to ~10⁷ docs ×
    * small query sets); supply `denseCentroids` (from
    * [[graft.ml.Similarity.ivfCentroids]]) to run the dense pool
    * through [[graft.ml.Similarity.ivfTopK]] instead — the 100 TB path,
    * candidate count bounded ≈ corpus/centroids × `nprobe` per query.
    * The fusion is ranker-agnostic: identical output whenever both
    * rankers return the same pools (recall is `nprobe`'s dial).
    *
    * Output: (query_id, rank, item_id, rrf_micro, n_rankers). */
  def hybridTopK(corpus: DataFrame, idCol: String, text: Column,
      embeddings: DataFrame, embIdCol: String, embCol: String,
      queries: DataFrame, queryIdCol: String, queryText: Column,
      k: Int = 5, poolK: Int = 20,
      denseCentroids: Option[IndexedSeq[Seq[Long]]] = None,
      nprobe: Int = 4): DataFrame = {
    require(k > 0 && poolK >= k, "need poolK >= k > 0")
    def rrf(rank: Column) =
      floor(lit(1000000.0) / (lit(RrfK) + rank)).cast("long")
    val lex = bm25TopK(corpus, idCol, text, queries, queryIdCol, queryText, poolK)
      .select(col(queryIdCol).as("query_id"), col(idCol).as("item_id"),
        rrf(col("rank")).as("__c"))
    val qvecs = embeddings.join(
      broadcast(queries.select(col(queryIdCol).as(embIdCol))), Seq(embIdCol))
    val densePool = denseCentroids match {
      case Some(cents) => graft.ml.Similarity.ivfTopK(qvecs, embeddings,
        embIdCol, embCol, poolK, cents.size, nprobe, Some(cents))
      case None => graft.ml.Similarity.bruteForceTopK(qvecs, embeddings,
        embIdCol, embCol, poolK)
    }
    val dense = densePool
      .select(col("query_id"), col("neighbor_id").as("item_id"),
        rrf(col("rank")).as("__c"))
    val fused = lex.unionByName(dense)
      .groupBy("query_id", "item_id")
      .agg(sum(col("__c")).as("rrf_micro"), count(lit(1)).as("n_rankers"))
    // the fused pool is already ≤ 2·poolK per query, but the salted
    // shape costs nothing and keeps the invariant uniform: no query-
    // partitioned window anywhere sees an unbounded candidate list
    saltedTopK(fused, col("query_id"), col("item_id"),
        Seq(col("rrf_micro").desc, col("item_id")), k)
      .select(col("query_id"), col("rank"), col("item_id"),
        col("rrf_micro"), col("n_rankers"))
  }
}
