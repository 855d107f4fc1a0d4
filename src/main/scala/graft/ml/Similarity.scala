package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExprBridge

/** Similarity search over an embedding column (`array<float>`) — the
  * LLM-pipeline ANN surface (SURVEY §7.1-10).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — the correctness baseline: broadcast the
  *    (small) query set against the corpus, score every pair, window
  *    top-k. One broadcast join, no shuffle of the corpus.
  *  - [[lshBucketTopK]] — the scale path: sign-bit random-hyperplane
  *    LSH buckets; only same-bucket pairs are scored (IVF-style
  *    candidate pruning, recall < 1 by design).
  *
  * Scoring uses a QUANTIZED integer dot product: each coordinate is
  * floor(x·1000) as a BIGINT, so the sum is exact integer arithmetic —
  * order-independent, overflow-safe for dims ≪ 10⁶, and bit-identical in
  * any engine (float summation order would otherwise diverge). A double
  * cosine is also exposed for consumers that want the real value; it is
  * computed as an ordered left fold so it's deterministic within Spark.
  */
object Similarity {

  /** floor(x*1000) quantization scale — see class doc. */
  val Scale = 1000

  /** floor(x*Scale) per coordinate — apply ONCE per vector (before any
    * join) so pairwise scoring is a bare integer zip-multiply instead of
    * re-quantizing both operands for every pair. Native codegen
    * expression; the specs pin it against a declarative reference
    * (higher-order functions evaluate INTERPRETED, per element — the
    * dominant cost of the similarity queries before the native path). */
  def quantize(a: Column): Column =
    ExprBridge.column(graft.functions.QuantizeVec(ExprBridge.expression(a), Scale))

  /** Integer dot product of two ALREADY-QUANTIZED long vectors. Native
    * codegen expression — one primitive loop per PAIR, the hot call of
    * every similarity join. */
  def dotQ(qa: Column, qb: Column): Column =
    ExprBridge.column(graft.functions.DotQ(
      ExprBridge.expression(qa), ExprBridge.expression(qb)))

  /** Exact integer dot product of two float vectors, quantized. */
  def quantizedDot(a: Column, b: Column): Column = dotQ(quantize(a), quantize(b))

  /** Quantized squared norm. */
  def quantizedNormSq(a: Column): Column = quantizedDot(a, a)

  /** Double cosine similarity (ordered fold — deterministic, but float
    * summation differs across engines; use the quantized form when an
    * external oracle must agree). */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Brute-force top-k by quantized dot product. `queries` should be
    * small (it is broadcast); the corpus is scanned once with no
    * shuffle before the final per-query top-k (a k-row window per
    * query). Self-pairs excluded by id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      quantize(col(embCol)).as("__qe")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantize(col(embCol)).as("__ce"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot_q", dotQ(col("__qe"), col("__ce")))
    val w = Window.partitionBy("query_id").orderBy(col("dot_q").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dot_q", "rank")
  }

  /** ±1 hyperplane sign for plane `h` at 1-based coordinate `i`: the
    * parity of the first hex digit of md5("h|i") — the exact rule any
    * external oracle reproduces in SQL. */
  private[ml] def planeSign(h: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$h|$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xF) % 2 == 0) 1L else -1L
  }

  /** The bits×dims ±1 pseudo-hyperplane matrix. Computed ONCE on the
    * driver: the signs depend only on (plane, coordinate), never on the
    * data, so deriving them per row (as a previous version did, via
    * md5-in-a-lambda) costs bits×dims string hashes per VECTOR for a
    * value that is a constant of the query. */
  def signMatrix(bits: Int, dims: Int): IndexedSeq[IndexedSeq[Long]] =
    (0 until bits).map(h => (1 to dims).map(i => planeSign(h, i)))

  /** Sign-bit LSH bucket id: one bit per pseudo-hyperplane h, set when
    * Σ_i sign(h,i)·xq_i > 0. The sign matrix is embedded as a literal
    * array and indexed inside the lambda — zero per-row hashing. The
    * projection runs over QUANTIZED coordinates so the sum is exact
    * integer arithmetic: order-independent and therefore bit-identical
    * in any engine (a float sum's rounding could flip a sign bit near
    * zero depending on summation order). Narrow projection, no shuffle.
    *
    * `dims` must equal the embedding dimensionality (vectors longer than
    * `dims` index past the literal array and fail loudly). */
  def lshBucket(emb: Column, bits: Int, dims: Int): Column =
    ExprBridge.column(graft.functions.LshSignBits(
      graft.functions.QuantizeVec(ExprBridge.expression(emb), Scale),
      signMatrix(bits, dims)))

  /** IVF-style bucketed top-k: score only pairs sharing `bucketCol`
    * (e.g. a cluster label from any upstream clustering, or
    * [[lshBucket]]). Recall trades against bucket count exactly as in an
    * IVF index with nprobe=1. */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, bucketCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      quantize(col(embCol)).as("__qe"), col(bucketCol).as("__bkt"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantize(col(embCol)).as("__ce"), col(bucketCol).as("__bkt"))
    val scored = q.join(c, Seq("__bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot_q", dotQ(col("__qe"), col("__ce")))
    val w = Window.partitionBy("query_id").orderBy(col("dot_q").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dot_q", "rank")
  }

  /** Deterministic IVF coarse quantizer: the `numCentroids` lowest-id
    * corpus vectors, quantized, collected to the driver (centroids are
    * index METADATA — numCentroids×dims longs, kilobytes). This is the
    * k-means|| INITIALIZATION step used as-is so any external oracle can
    * reproduce the index exactly; a production build would refine these
    * same centroids with Lloyd iterations (each iteration = one
    * narrow assign pass + one tiny re-average aggregation) without
    * changing the query-side plan below. */
  def ivfCentroids(corpus: DataFrame, idCol: String, embCol: String,
      numCentroids: Int): IndexedSeq[Seq[Long]] =
    corpus.orderBy(col(idCol)).limit(numCentroids)
      .select(quantize(col(embCol)))
      .collect().map(_.getSeq[Long](0)).toIndexedSeq

  /** Quantized dot of an (already-quantized) vector against every
    * centroid — the centroid matrix rides along as a LITERAL, so the
    * whole scoring is a narrow per-row projection: no join, no shuffle,
    * nothing to co-locate. */
  private def centroidDots(qe: Column, cents: Seq[Seq[Long]]): Column =
    transform(typedLit(cents), c => dotQ(qe, c))

  /** Lloyd refinement of an IVF coarse quantizer: `iters` rounds of
    * assign (one narrow literal-matrix pass over the corpus — the same
    * expression the index build uses) + re-center (ONE tiny aggregation:
    * numCentroids groups × dims integer sums, map-side combined, then a
    * centroids-sized collect). Per-iteration cost is a single corpus
    * scan regardless of table size; the query-side plan of [[ivfTopK]]
    * is unchanged by refinement — callers pass the refined matrix via
    * `centroids`. Centroid update is the integer mean (floorDiv) of the
    * assigned quantized vectors, so refinement is exactly reproducible;
    * a list that loses all members keeps its previous centroid. */
  def ivfRefine(corpus: DataFrame, embCol: String,
      cents: IndexedSeq[Seq[Long]], iters: Int): IndexedSeq[Seq[Long]] =
    ivfRefineQ(corpus.select(quantize(col(embCol)).as("__q")), cents, iters)

  /** [[ivfRefine]] over an ALREADY-QUANTIZED vector frame (one array
    * column `__q`) — the shape [[reclusterIvfFlat]] needs: a staged
    * index stores quantized vectors, so re-quantizing would be a wasted
    * pass (and quantize is idempotent only on exact multiples). */
  private def ivfRefineQ(q: DataFrame, cents: IndexedSeq[Seq[Long]],
      iters: Int): IndexedSeq[Seq[Long]] = {
    val dims = cents.head.size
    var cs = cents
    for (_ <- 0 until iters) {
      val aggs = count(lit(1)).as("n") +:
        (1 to dims).map(i => sum(element_at(col("__q"), i)).as(s"s$i"))
      val sums = q
        .select(ivfAssign(col("__q"), cs).as("__list"), col("__q"))
        .groupBy("__list")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), (2 to dims + 1).map(r.getLong)))
        .toMap
      cs = cs.zipWithIndex.map { case (old, idx) =>
        sums.get(idx + 1) match {
          case Some((n, coord)) => coord.map(s => Math.floorDiv(s, n)).toIndexedSeq
          case None => old
        }
      }
    }
    cs
  }

  /** 1-based index of the nearest (max-dot) centroid; ties take the
    * lowest index (array_position returns the FIRST max). The dots
    * array appears twice in the expression — whole-stage codegen's
    * subexpression elimination evaluates it once per row. */
  def ivfAssign(qe: Column, cents: Seq[Seq[Long]]): Column = {
    val d = centroidDots(qe, cents)
    array_position(d, array_max(d)).cast("int")
  }

  /** The `nprobe` nearest centroid indices for a query vector, best
    * first; ties take the lower index ((−dot, idx) ascending sort). */
  def ivfProbes(qe: Column, cents: Seq[Seq[Long]], nprobe: Int): Column = {
    val keyed = zip_with(centroidDots(qe, cents),
      sequence(lit(1), lit(cents.size)),
      (d, i) => struct((-d).as("nd"), i.as("idx")))
    transform(slice(array_sort(keyed), 1, nprobe), s => s.getField("idx").cast("int"))
  }

  /** IVF top-k — the ANN scale path with recall controlled by `nprobe`
    * (nprobe = numCentroids degenerates to [[bruteForceTopK]]).
    *
    * Plan shape at 100 TB: the corpus side is ONE narrow projection
    * (quantize + literal-matrix assign — no shuffle, no index build
    * job); queries fan out to `nprobe` rows each and BROADCAST into the
    * corpus scan, so the only exchange in the whole query is the final
    * per-query top-k window over candidates (candidate count ≈
    * corpus/numCentroids × nprobe per query, the IVF contract). A
    * materialized variant would persist the assigned corpus partitioned
    * by `__list` and prune scanned lists instead — same semantics. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, numCentroids: Int, nprobe: Int,
      centroids: Option[IndexedSeq[Seq[Long]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(corpus, idCol, embCol, numCentroids))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        quantize(col(embCol)).as("__ce"))
      .withColumn("__list", ivfAssign(col("__ce"), cents))
    val q = queries
      .select(col(idCol).as("query_id"), quantize(col(embCol)).as("__qe"))
      .select(col("query_id"), col("__qe"),
        explode(ivfProbes(col("__qe"), cents, nprobe)).as("__list"))
    val scored = broadcast(q).join(c, Seq("__list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot_q", dotQ(col("__qe"), col("__ce")))
    val w = Window.partitionBy("query_id").orderBy(col("dot_q").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dot_q", "rank")
  }

  /** SQ8 index frame: per-vector int8 scalar quantization —
    * `q_i = floor(127·x_i / s)` with `s = max|x_i|` of the vector. The
    * index stores `array<tinyint>` + the integer squared norm: 4×
    * smaller than float32 (8× smaller than the long-quantized form) —
    * at 100 TB the ANN scan is memory-bandwidth-bound, so shrinking the
    * bytes-per-vector IS the speedup (the production recipe stages this
    * frame as parquet and scans it instead of the raw embeddings).
    *
    * The per-vector scale CANCELS in the cosine —
    * `cos ≈ dot8/(√n2q_a·√n2q_b)` is a pure function of the int8
    * arrays — so ranking needs no float rescale and stays engine-exact:
    * mul/div/sqrt are IEEE exactly-rounded, floor is exact, and every
    * intermediate integer fits a 53-bit mantissa. The scale `s` is
    * bound OUTSIDE the per-element lambda (the re-evaluation-per-element
    * trap: `array_max` inside the transform would run once per
    * coordinate). All-zero vectors quantize to all-zero (no direction;
    * [[sq8TopK]] excludes them from both sides). */
  def sq8Index(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol), col(embCol).as("__e"),
        array_max(transform(col(embCol), x => abs(x.cast("double")))).as("__s"))
      .select(col(idCol), transform(col("__e"), x =>
        when(col("__s") === 0d, lit(0)).otherwise(
          floor(lit(127d) * x.cast("double") / col("__s"))).cast("byte")).as("q8"))
      .withColumn("n2q", aggregate(col("q8"), lit(0L),
        (acc, v) => acc + v.cast("long") * v.cast("long")))

  /** Brute-force top-k over the SQ8 index — [[bruteForceTopK]]'s
    * memory-bandwidth sibling: same broadcast-queries/narrow-corpus
    * shape, but the corpus side scans int8 vectors (¼ the bytes of
    * float32) and the per-query top-k is the salted two-level pass
    * ([[graft.text.Retrieval.saltedTopK]]) so no query ever funnels a
    * corpus-sized candidate list through one reducer. Score is the SQ8
    * approximate cosine in exact integer micro-units:
    * `floor(10⁶·dot8/√n2q_a/√n2q_b)` — deterministic in any engine.
    * Zero vectors are excluded (a zero norm has no cosine). Output:
    * (query_id, rank, neighbor_id, score_micro). */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, salts: Int = 32): DataFrame = {
    require(k > 0, "k must be positive")
    def widened(df: DataFrame, as: String, n2: String) =
      sq8Index(df, idCol, embCol).filter(col("n2q") > 0)
        .select(col(idCol).as(as),
          transform(col("q8"), _.cast("long")).as(s"__$as"), col("n2q").as(n2))
    val q = broadcast(widened(queries, "query_id", "n2_q"))
    val c = widened(corpus, "neighbor_id", "n2_c")
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot8", dotQ(col("__query_id"), col("__neighbor_id")))
      .withColumn("score_micro", floor(lit(1000000.0) * col("dot8").cast("double")
        / sqrt(col("n2_q").cast("double"))
        / sqrt(col("n2_c").cast("double"))).cast("long"))
    graft.text.Retrieval.saltedTopK(scored, col("query_id"), col("neighbor_id"),
        Seq(col("score_micro").desc, col("neighbor_id")), k, salts)
      .select("query_id", "rank", "neighbor_id", "score_micro")
  }

  /** ANN quality harness: per-query recall of an approximate top-k
    * result against the exact one — |approx ∩ exact| / |exact| — plus
    * hit/total counts. Both inputs are (query_id, neighbor_id, ...)
    * shaped ([[bruteForceTopK]] / [[ivfTopK]] / [[bucketedTopK]]
    * outputs). This is the number `nprobe` / LSH `bits` are tuned
    * against; run it on a sampled query set, not the full corpus. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1L))
    e.join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"),
        count(lit(1)).as("exact_k"))
      .withColumn("recall", col("hits") / col("exact_k"))
  }

  /** Semantic deduplication (the SemDeDup recipe): cluster the
    * embedding space with the IVF coarse quantizer, find near-duplicate
    * pairs WITHIN each cluster by the quantized-cosine ≥ 0.9 rule, and
    * keep one representative (the min-id root) per connected component.
    * Exact dedup misses paraphrases and near-verbatim rewrites that
    * land on distinct bytes but the same embedding neighborhood — this
    * is the pass that removes them.
    *
    * Returns one row per input doc: (idCol, cluster, root_id, keep) —
    * `keep = 1` marks the component representative (singletons keep
    * themselves), so `filter(keep === 1)` IS the deduped corpus and the
    * (root_id, id) pairs are the provenance map.
    *
    * Plan shape at 100 TB: cluster assignment is the [[ivfAssign]]
    * literal-matrix projection (narrow, no shuffle); candidate pairing
    * is [[nearDupPairs]] keyed on the cluster — all-pairs only WITHIN a
    * cluster, so sizing `numCentroids` ≈ √corpus bounds each cluster's
    * pair count (the SemDeDup contract; pass Lloyd-refined `centroids`
    * via [[ivfRefine]] to keep clusters balanced — skewed raw data can
    * still produce a hot cluster, which shows up as one heavy join
    * task: sub-bucket with [[lshBucket]] inside the cluster key if so);
    * component resolution is the adaptive driver/distributed
    * [[graft.text.Dedup.resolveClusters]]. Every stage is integer-exact
    * → the kept set is engine- and partitioning-reproducible. */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
      numCentroids: Int,
      centroids: Option[IndexedSeq[Seq[Long]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(df, idCol, embCol, numCentroids))
    val assigned = df.select(col(idCol), col(embCol),
      ivfAssign(quantize(col(embCol)), cents).as("cluster"))
    val pairs = nearDupPairs(assigned, idCol, embCol, "cluster")
      .select("id_a", "id_b")
    val roots = graft.text.Dedup.resolveClusters(assigned.select(col(idCol)), pairs)
    assigned.select(col(idCol), col("cluster"))
      .join(roots, col(idCol) === col("id"))
      .select(col(idCol), col("cluster"), col("root").as("root_id"),
        (col(idCol) === col("root")).cast("int").as("keep"))
  }

  /** SSL-prototype data pruning (Sorscher et al., NeurIPS '22 "Beyond
    * neural scaling laws"): cluster the embedding space with the IVF
    * coarse quantizer; an example's PROTOTYPICALITY is its cosine to
    * its own cluster centroid; keep the `keepPermille` LEAST
    * prototypical per cluster — with abundant data, pruning the easy
    * (prototypical) examples is what beats power-law scaling.
    *
    * Determinism discipline: assignment is the literal-matrix
    * [[ivfAssign]] (integer, ties to the lower index); the score
    * `floor(10⁶·dot ∕ √n2_vec ∕ √n2_centroid)` is ONE fixed IEEE
    * expression tree — products stay < 2⁵³ and IEEE-754 sqrt/divide
    * are correctly rounded, so every engine computes the identical
    * micro-cosine. Zero-norm embeddings are excluded (no cosine).
    *
    * NO per-cluster sort: the keep rule goes through a
    * (cluster, score) HISTOGRAM — cumulative window over score LEVELS
    * (bounded by distinct scores per cluster, not by corpus), quota
    * `keepPermille·n DIV 1000`, whole levels below the threshold kept,
    * the boundary level broken by smallest id (a tie-heavy boundary
    * level is the only window whose partition can grow; sub-salt the
    * score with an id hash upstream if a fixture ever makes one hot).
    *
    * Output: (idCol, cluster, proto_micro, keep ∈ {0,1}). */
  def prototypicality(df: DataFrame, idCol: String, embCol: String,
      numCentroids: Int, keepPermille: Int,
      centroids: Option[IndexedSeq[Seq[Long]]] = None): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000,
      "keepPermille in [0, 1000]")
    val cents = centroids.getOrElse(ivfCentroids(df, idCol, embCol, numCentroids))
    val n2c: Seq[Long] = cents.map(c => c.map(x => x * x).sum)
    require(n2c.forall(_ > 0), "a centroid has zero norm — no cosine exists")
    val scored = df
      .select(col(idCol), quantize(col(embCol)).as("__q"))
      .withColumn("__n2", dotQ(col("__q"), col("__q")))
      .filter(col("__n2") > 0)
      .withColumn("cluster", ivfAssign(col("__q"), cents))
      .withColumn("proto_micro", floor(
        lit(1000000L) * dotQ(col("__q"),
            element_at(typedLit(cents.map(_.toIndexedSeq)), col("cluster")))
          / sqrt(col("__n2").cast("double"))
          / sqrt(element_at(typedLit(n2c.toIndexedSeq), col("cluster"))
            .cast("double"))).cast("long"))
      .select(col(idCol), col("cluster"), col("proto_micro"))
    import org.apache.spark.sql.expressions.Window
    val byLvl = Window.partitionBy(col("cluster")).orderBy(col("proto_micro"))
    val lvls = scored.groupBy(col("cluster"), col("proto_micro"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__cum", sum(col("__cnt")).over(byLvl))
      .withColumn("__cp", coalesce(sum(col("__cnt")).over(
        byLvl.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__quota", floor(lit(keepPermille.toLong)
        * sum(col("__cnt")).over(Window.partitionBy(col("cluster")))
        / lit(1000)).cast("long"))
      .select(col("cluster"), col("proto_micro"),
        col("__cum"), col("__cp"), col("__quota"))
    scored.join(lvls, Seq("cluster", "proto_micro"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("cluster"), col("proto_micro"))
          .orderBy(col(idCol))))
      .select(col(idCol), col("cluster"), col("proto_micro"),
        (col("__cum") <= col("__quota") ||
          (col("__cp") < col("__quota") &&
            col("__rk") <= col("__quota") - col("__cp")))
          .cast("int").as("keep"))
  }

  /** Embedding-level benchmark decontamination — the dense sibling of
    * [[graft.text.Dedup.contaminated]] (13-gram overlap): corpus items
    * whose quantized cosine to ANY eval-set vector clears `threshold`
    * per-mille are flagged, with their best-matching eval item. A
    * paraphrased or reformatted eval leak shares no 13-gram but sits on
    * top of the eval item in embedding space.
    *
    * Scale shape: the EVAL SET broadcasts (benchmarks are thousands of
    * rows; the corpus is the big side) — the corpus never shuffles, the
    * non-equi threshold join is a BroadcastNestedLoop over the tiny
    * side by construction. The threshold test is the integer
    * cross-multiplied rule (`10⁶·dot² ≥ thr²·n2_c·n2_e` in
    * decimal(38,0) — exact); the reported `best_cos_micro` is the fixed
    * IEEE tree `floor(10⁶·dot ∕ √n2_c ∕ √n2_e)`, and the best match per
    * corpus item is the algebraic `max(struct(cos, eval_id))` — no
    * window. Zero-norm vectors on either side are excluded.
    *
    * Output: (idCol, n_hits, best_eval_id, best_cos_micro), one row per
    * CONTAMINATED corpus item. */
  def contaminatedDense(corpus: DataFrame, idCol: String, embCol: String,
      evalSet: DataFrame, evalIdCol: String, evalEmbCol: String,
      thresholdPermille: Int = 900): DataFrame = {
    require(thresholdPermille > 0 && thresholdPermille <= 1000,
      "thresholdPermille in (0, 1000]")
    val c = corpus.select(col(idCol), quantize(col(embCol)).as("__qc"))
      .withColumn("__n2c", dotQ(col("__qc"), col("__qc")))
      .filter(col("__n2c") > 0)
    val e = evalSet.select(col(evalIdCol).as("__eid"),
        quantize(col(evalEmbCol)).as("__qe"))
      .withColumn("__n2e", dotQ(col("__qe"), col("__qe")))
      .filter(col("__n2e") > 0)
    val thr2 = thresholdPermille.toLong * thresholdPermille
    val hits = c.crossJoin(broadcast(e))
      .withColumn("__d", dotQ(col("__qc"), col("__qe")))
      .filter {
        val d = col("__d").cast("decimal(38,0)")
        col("__d") > 0 &&
          lit(1000000L) * d * d >= lit(thr2) *
            col("__n2c").cast("decimal(38,0)") * col("__n2e").cast("decimal(38,0)")
      }
      .withColumn("__cos", floor(lit(1000000L) * col("__d")
        / sqrt(col("__n2c").cast("double"))
        / sqrt(col("__n2e").cast("double"))).cast("long"))
    hits.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        max(struct(col("__cos"), col("__eid"))).as("__best"))
      .select(col(idCol), col("n_hits"),
        col("__best").getField("__eid").as("best_eval_id"),
        col("__best").getField("__cos").as("best_cos_micro"))
  }

  /** Product-quantization codebook: the corpus split into `m` contiguous
    * subspaces, each with `ksub` codewords taken from the `ksub`
    * lowest-id vectors' subvectors (quantized). Like [[ivfCentroids]]
    * this is the deterministic INITIALIZATION an external oracle can
    * reproduce row-for-row; a production build would refine each
    * subspace's codewords with per-subspace Lloyd iterations (same
    * narrow assign + tiny re-average shape as [[ivfRefine]]) without
    * changing the query-side plan. Codebook size is index METADATA:
    * m × ksub × (dims/m) longs = ksub × dims total — kilobytes.
    * Returns `book(j)(c)` = codeword `c` of subspace `j` (0-based). */
  def pqCodebook(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, ksub: Int): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    val rows = corpus.orderBy(col(idCol)).limit(ksub)
      .select(quantize(col(embCol)))
      .collect().map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    require(rows.nonEmpty, "corpus is empty")
    val dims = rows.head.size
    require(m > 0 && dims % m == 0, s"dims=$dims must be divisible by m=$m")
    val sub = dims / m
    (0 until m).map(j => rows.map(r => r.slice(j * sub, (j + 1) * sub)))
  }

  /** Product-quantization top-k (ADC scan) — the bytes-per-vector floor
    * of the ANN family: each corpus vector is stored as `m` codeword ids
    * (m bytes at ksub ≤ 256) instead of dims floats — 64× smaller than
    * float32 at m=4/dims=64 — and scoring a candidate is `m` table
    * lookups instead of a dims-length dot product. At 100 TB the ANN
    * scan is memory-bandwidth-bound ([[sq8Index]] doc), so the code
    * table IS the speedup; accuracy trades against m/ksub exactly as in
    * an IVF-PQ index (compose with [[ivfTopK]]'s list pruning for the
    * full FAISS-style recipe — the encode below is a narrow projection
    * that composes with any candidate pruning upstream).
    *
    * All arithmetic is exact integers: encode picks, per subspace, the
    * codeword minimizing the quantized squared L2 (ties → lowest index;
    * the vector's own subspace norm is dropped — constant per
    * (vector, subspace), it cannot move an argmin); the query-side
    * asymmetric-distance table carries the FULL squared L2
    * `‖q_j − c‖²  =  n2q_j + n2c − 2·⟨q_j,c⟩`, so `adist` is the true
    * quantized squared distance between the query and the candidate's
    * reconstruction — deterministic in any engine. The per-query top-k
    * (ascending `adist`) is the salted two-level pass, so no query
    * funnels a corpus-sized candidate list through one reducer.
    * Output: (query_id, rank, neighbor_id, adist). */
  /** The PQ codebook plus derived constants, bundled so the encode /
    * LUT expressions are shared between [[pqTopK]] and [[ivfPqTopK]]. */
  private final case class PqBook(book: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]) {
    val m: Int = book.size
    val sub: Int = book.head.head.size
    // codeword squared norms, one tiny driver-side table per subspace
    val n2c: IndexedSeq[IndexedSeq[Long]] =
      book.map(_.map(cw => cw.map(x => x * x).sum))
    def subspace(qe: Column, j: Int): Column = slice(qe, j * sub + 1, sub)
    // encode: argmin_c ‖v_j − c‖² = argmin_c (n2c − 2·dot) — n2v_j is
    // constant within the argmin and dropped
    def codes(qe: Column): Column = array((0 until m).map { j =>
      val d = zip_with(typedLit(n2c(j)),
        transform(typedLit(book(j)), c => dotQ(subspace(qe, j), c)),
        (nc, dot) => nc - lit(2L) * dot)
      array_position(d, array_min(d)).cast("int")
    }: _*)
    // ADC lookup tables: lut(j)(c) = full ‖q_j − c‖². The subspace norms
    // are materialized in a prior projection (`__n2q`) so they evaluate
    // once per row, not once per codeword (the re-evaluation-per-element
    // trap — see [[sq8Index]]).
    def n2q(qe: Column): Column = array((0 until m).map { j =>
      val s = subspace(qe, j); dotQ(s, s) }: _*)
    def luts(qe: Column, n2q: Column): Column = array((0 until m).map { j =>
      val s = subspace(qe, j)
      val nq = element_at(n2q, j + 1)
      zip_with(typedLit(n2c(j)),
        transform(typedLit(book(j)), c => dotQ(s, c)),
        (nc, dot) => nq + nc - lit(2L) * dot)
    }: _*)
    def adist(lut: Column, code: Column): Column = aggregate(
      zip_with(lut, code, (l, cd) => element_at(l, cd)),
      lit(0L), (acc, v) => acc + v)
  }

  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, m: Int, ksub: Int,
      salts: Int = graft.text.Retrieval.TopKSalts): DataFrame = {
    require(k > 0, "k must be positive")
    val pb = PqBook(pqCodebook(corpus, idCol, embCol, m, ksub))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        quantize(col(embCol)).as("__ce"))
      .select(col("neighbor_id"), pb.codes(col("__ce")).as("__code"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        quantize(col(embCol)).as("__qe"))
      .withColumn("__n2q", pb.n2q(col("__qe")))
      .select(col("query_id"),
        pb.luts(col("__qe"), col("__n2q")).as("__lut")))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", pb.adist(col("__lut"), col("__code")))
    graft.text.Retrieval.saltedTopK(scored, col("query_id"),
        col("neighbor_id"), Seq(col("adist").asc, col("neighbor_id")), k, salts)
      .select("query_id", "rank", "neighbor_id", "adist")
  }

  /** IVF-PQ top-k — the full FAISS-style recipe: IVF list pruning
    * ([[ivfTopK]]'s candidate contract: ≈ corpus/numCentroids × nprobe
    * candidates per query) composed with PQ ADC scoring ([[pqTopK]]'s
    * bytes contract: m codeword ids per scanned candidate). The corpus
    * side is ONE narrow projection computing both the IVF list and the
    * PQ code (no shuffle, no index-build job); queries fan out to
    * `nprobe` rows and BROADCAST into the corpus scan carrying their
    * ADC tables; the only exchange is the salted per-query top-k.
    * `adist` is identical to [[pqTopK]]'s (the exact integer quantized
    * squared L2 to the candidate's reconstruction) — list pruning
    * changes WHICH candidates are scored, never their score.
    * Output: (query_id, rank, neighbor_id, adist). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int, numCentroids: Int, nprobe: Int,
      m: Int, ksub: Int,
      centroids: Option[IndexedSeq[Seq[Long]]] = None,
      salts: Int = graft.text.Retrieval.TopKSalts): DataFrame = {
    require(k > 0, "k must be positive")
    val cents = centroids.getOrElse(ivfCentroids(corpus, idCol, embCol, numCentroids))
    val pb = PqBook(pqCodebook(corpus, idCol, embCol, m, ksub))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        quantize(col(embCol)).as("__ce"))
      .select(col("neighbor_id"), ivfAssign(col("__ce"), cents).as("__list"),
        pb.codes(col("__ce")).as("__code"))
    val q = queries.select(col(idCol).as("query_id"),
        quantize(col(embCol)).as("__qe"))
      .withColumn("__n2q", pb.n2q(col("__qe")))
      .select(col("query_id"), pb.luts(col("__qe"), col("__n2q")).as("__lut"),
        explode(ivfProbes(col("__qe"), cents, nprobe)).as("__list"))
    val scored = broadcast(q).join(c, Seq("__list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", pb.adist(col("__lut"), col("__code")))
    graft.text.Retrieval.saltedTopK(scored, col("query_id"),
        col("neighbor_id"), Seq(col("adist").asc, col("neighbor_id")), k, salts)
      .select("query_id", "rank", "neighbor_id", "adist")
  }

  /** Materialize an IVF-PQ index as parquet — the index-REUSE shape for
    * repeated query batches: [[ivfPqTopK]] re-derives the index on
    * every call (fine for one-shot jobs — encode is a narrow
    * projection), but a retrieval service queries the same corpus many
    * times, and at 100 TB re-encoding per batch is the dominant cost.
    * `dir/codes` holds (id, code) PARTITIONED BY the IVF list — m
    * codeword ids per vector, the PQ bytes contract — so a query batch
    * scans only its probed lists via parquet partition pruning;
    * `dir/meta` holds the centroids + codebook (kilobytes). */
  def stageIvfPq(corpus: DataFrame, idCol: String, embCol: String,
      numCentroids: Int, m: Int, ksub: Int, dir: String): Unit = {
    val spark = corpus.sparkSession
    val cents = ivfCentroids(corpus, idCol, embCol, numCentroids)
    val pb = PqBook(pqCodebook(corpus, idCol, embCol, m, ksub))
    import spark.implicits._
    // the as-written codes frame, LAZY, so its READ schema lands as a
    // manifest param (schema.codes — probes/guards/reclusters then read
    // with an explicit schema instead of a parquet footer inference job
    // per call, guide §6; generations resolve through the base name)
    val codesF = corpus
      .select(col(idCol).as("id"), quantize(col(embCol)).as("__ce"))
      .select(col("id"), pb.codes(col("__ce")).as("code"),
        ivfAssign(col("__ce"), cents).as("list"))
    // invalidate-first/manifest-last bracket (StagedIndex.stage)
    graft.util.StagedIndex.stage(spark, dir,
        graft.util.IndexManifest.KindIvfPq,
        params = Map("centroids" -> cents.size.toString,
          "m" -> m.toString, "ksub" -> ksub.toString,
          graft.util.StagedIndex.schemaParam("codes", codesF))) {
      // n_vectors rides an Observation on the codes write itself — the
      // alternative (re-counting the written codes) is a second full pass
      // over the corpus-sized codes layout per stage
      val obs = org.apache.spark.sql.Observation()
      codesF
        .observe(obs, count(lit(1)).as("n_vectors"))
        // one file per IVF list instead of tasks×lists tiny files
        .repartition(col("list"))
        .write.mode("overwrite").partitionBy("list").parquet(s"$dir/codes")
      val metaRows: Seq[(String, Int, Int, Seq[Long])] =
        cents.zipWithIndex.map { case (v, i) => ("cent", 0, i, v) } ++
          (for (j <- 0 until pb.m; (cw, ci) <- pb.book(j).zipWithIndex)
            yield ("code", j, ci, cw: Seq[Long]))
      metaRows.toDF("kind", "j", "idx", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      Map("n_vectors" -> obs.get("n_vectors").asInstanceOf[Long])
    }
  }

  /** The live sublayout DIR NAMES of an IVF-PQ index under its
    * manifest — the [[ivfFlatNames]] discipline applied to the PQ
    * kind: plain (`codes`, `meta`) as staged, or the current
    * GENERATION pair (`codes.gN`, `meta.gN`) once [[reclusterIvfPq]]
    * has run. One manifest read resolves a geometry-consistent pair;
    * the recluster flips both with a single atomic manifest rewrite. */
  private[graft] def ivfPqNames(mf: graft.util.IndexManifest): (String, String) =
    mf.params.get("gen") match {
      case Some(g) => (s"codes.g$g", s"meta.g$g")
      case None => ("codes", "meta")
    }

  /** One geometry-consistent snapshot of a [[stageIvfPq]] index — the
    * [[IvfFlatHandle]] discipline: manifest, RESOLVED sublayout paths,
    * centroids and codebook, all from one manifest read, so a
    * concurrent [[reclusterIvfPq]] flip can never hand a probe old
    * centroids with new list assignments (or vice versa). */
  private final case class IvfPqHandle(mf: graft.util.IndexManifest,
      codesPath: String, metaPath: String, cents: IndexedSeq[Seq[Long]],
      pb: PqBook)

  /** The PQ meta layout's schema — FIXED by stageIvfPq/reclusterIvfPq
    * for every index ever staged (the literal metaRows shape), so meta
    * reads pass it explicitly and pay no schema-inference job. */
  private val IvfPqMetaSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "kind STRING, j INT, idx INT, vec ARRAY<BIGINT>")

  /** The live codes layout, read with the manifest-recorded staged
    * schema when present (no inference job; `schema.codes` resolves
    * generation dirs through the base name) — inference fallback for
    * pre-schema-param indexes. */
  private def readIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
      h: IvfPqHandle): DataFrame =
    h.mf.layoutSchema("codes") match {
      case Some(s) => spark.read.schema(s).parquet(h.codesPath)
      case None => spark.read.parquet(h.codesPath)
    }

  private def openIvfPq(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqHandle = {
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindIvfPq)
    val (c, m) = ivfPqNames(mf)
    val meta = spark.read.schema(IvfPqMetaSchema).parquet(s"$dir/$m").collect()
    val cents: IndexedSeq[Seq[Long]] = meta.filter(_.getString(0) == "cent")
      .sortBy(_.getInt(2)).map(_.getSeq[Long](3)).toIndexedSeq
    val byJ = meta.filter(_.getString(0) == "code").groupBy(_.getInt(1))
    val book = (0 until byJ.size).map(j =>
      byJ(j).sortBy(_.getInt(2)).map(_.getSeq[Long](3).toIndexedSeq).toIndexedSeq)
    IvfPqHandle(mf, s"$dir/$c", s"$dir/$m", cents, PqBook(book))
  }

  /** Append a batch of new vectors to a [[stageIvfPq]] index WITHOUT
    * rebuilding — the incremental-maintenance shape (the ANN analog of
    * dedup-against-a-frozen-corpus): the centroids + codebook are
    * FROZEN at index creation and read back from `dir/meta`, the batch
    * is encoded by the same narrow literal projections, and its codes
    * APPEND into the partitioned frame — batch-proportional cost, the
    * existing codes are never touched. (Re-deriving the metadata from
    * a grown corpus would silently re-key every existing code;
    * periodic re-training is an explicit full [[stageIvfPq]].)
    *
    * The new-ids contract is ENFORCED like [[graft.text.Retrieval
    * .appendBm25]]'s: an already-indexed id would get a SECOND codes
    * row, so it could occupy two top-k slots (and a re-encoded vector
    * would silently disagree with its original row — which one a probe
    * sees depends on which IVF lists it scans). The batch's ids are
    * semi-joined against the codes frame's id column (one narrow
    * columnar scan — partition pruning can't help here, because a
    * MUTATED re-ingested vector may assign to a different list than
    * the original row lives in) and a hit refuses the whole append
    * before anything is written; `assumeNewIds = true` is the explicit
    * escape hatch for callers that prove disjointness upstream. */
  def appendIvfPq(batch: DataFrame, idCol: String, embCol: String,
      dir: String, assumeNewIds: Boolean = false): Unit = {
    // ONE manifest resolution for guard + encode + write (the
    // appendIvfFlat discipline): geometry and destination stay
    // consistent across a concurrent recluster flip
    val h = openIvfPq(batch.sparkSession, dir)
    if (!assumeNewIds) {
      graft.util.StagedIndex.requireNewIds(
        readIvfPqCodes(batch.sparkSession, h)
          .select(col("id"))
          .join(batch.select(col(idCol).as("id")).distinct(), Seq("id"),
            "left_semi"),
        "appendIvfPq", dir,
        "appending an existing id duplicates its codes row, so it can " +
          "fill two top-k slots and a re-encoded vector silently " +
          "disagrees with its original row.",
        "stageIvfPq")
    }
    batch.select(col(idCol).as("id"), quantize(col(embCol)).as("__ce"))
      .select(col("id"), h.pb.codes(col("__ce")).as("code"),
        ivfAssign(col("__ce"), h.cents).as("list"))
      .repartition(col("list")) // one file per touched list per append
      .write.mode("append").partitionBy("list").parquet(h.codesPath)
  }

  /** COMPACT a staged IVF-PQ index: rewrite each IVF list's codes as
    * ONE file. [[appendIvfPq]] adds one file per touched list per
    * append (batch-proportional, existing codes untouched — the right
    * ingest shape), but after many appends a probe's pruned scan lists
    * append-many files per probed partition. Codes rows are immutable
    * per-vector facts, so compaction is a pure file consolidation —
    * QUERY-INVISIBLE, the manifest stays valid throughout; its
    * `n_vectors` count refreshes to the true row count (appends leave
    * it at the last full stage by design). Crash-safe layout swap via
    * [[graft.util.DirSwap]]; single writer per index. */
  def compactIvfPq(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import graft.util.StagedIndex.Layout
    val obs = org.apache.spark.sql.Observation()
    graft.util.StagedIndex.compact(spark, dir,
        graft.util.IndexManifest.KindIvfPq) { mf =>
      // codes rows are immutable per-vector facts: pure consolidation
      // of the LIVE generation's codes dir (plain `codes` as staged,
      // `codes.gN` after a recluster)
      Seq(Layout(ivfPqNames(mf)._1, Some("list"),
        _.observe(obs, count(lit(1)).as("n_vectors"))
          .select(col("id"), col("code"), col("list")))) // layout column order
    } { _ => Map("n_vectors" -> obs.get("n_vectors").asInstanceOf[Long]) }
    ()
  }

  /** Query a [[stageIvfPq]] index. The probe set (≤ queries × nprobe
    * list ids — tiny) is collected so the codes scan prunes
    * STATICALLY: the parquet reader lists only the probed partitions
    * (`PartitionFilters` on `list`), which is the whole point of the
    * materialized layout. Scoring is identical to [[ivfPqTopK]]
    * (PqSpec pins staged == direct). */
  def stagedIvfPqTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, idCol: String, embCol: String, k: Int,
      nprobe: Int, salts: Int = graft.text.Retrieval.TopKSalts): DataFrame = {
    require(k > 0, "k must be positive")
    val h = openIvfPq(spark, dir)
    val q = queries.select(col(idCol).as("query_id"),
        quantize(col(embCol)).as("__qe"))
      .withColumn("__n2q", h.pb.n2q(col("__qe")))
      .select(col("query_id"), h.pb.luts(col("__qe"), col("__n2q")).as("__lut"),
        explode(ivfProbes(col("__qe"), h.cents, nprobe)).as("list"))
    val probed = q.select("list").distinct().collect().map(_.getInt(0))
    val c = readIvfPqCodes(spark, h)
      .filter(col("list").isin(probed: _*))
      .select(col("id").as("neighbor_id"), col("code"), col("list"))
    val scored = broadcast(q).join(c, Seq("list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", h.pb.adist(col("__lut"), col("code")))
    graft.text.Retrieval.saltedTopK(scored, col("query_id"),
        col("neighbor_id"), Seq(col("adist").asc, col("neighbor_id")), k, salts)
      .select("query_id", "rank", "neighbor_id", "adist")
  }

  /** Near-duplicate pairs by quantized cosine threshold within a bucket:
    * cos(a,b) ≥ t  ⇔  dot² · S ≥ t²·S · |a|²·|b|²  (dot > 0), kept in
    * exact integer arithmetic: with t = 0.9 and S = 100:
    * 100·dot² ≥ 81·|a|²·|b|². Join key is the bucket — never all-pairs.
    *
    * The squared comparison runs in DECIMAL(38,0) (the oracle uses
    * HUGEINT/int128), so it is exact whenever 100·dot² and 81·|a|²·|b|²
    * fit 38 digits — i.e. dot_q and the quantized norms below ~3·10¹⁷,
    * which holds for any ‖x‖ ≤ 5·10⁵ at Scale=1000 regardless of dims
    * (int64 would silently wrap already at dot_q ≈ 10⁹·√dims). */
  def nearDupPairs(df: DataFrame, idCol: String, embCol: String,
      bucketCol: String): DataFrame = {
    val side = df.select(col(idCol), quantize(col(embCol)).as("__q"),
        col(bucketCol))
      .withColumn("__n2", dotQ(col("__q"), col("__q")))
    val a = side.select(col(idCol).as("id_a"), col("__q").as("__qa"),
      col(bucketCol).as("__bkt"), col("__n2").as("n2_a"))
    val b = side.select(col(idCol).as("id_b"), col("__q").as("__qb"),
      col(bucketCol).as("__bkt"), col("__n2").as("n2_b"))
    a.join(b, Seq("__bkt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dot_q", dotQ(col("__qa"), col("__qb")))
      .filter {
        val d = col("dot_q").cast("decimal(38,0)")
        col("dot_q") > 0 &&
          lit(100L) * d * d >=
            lit(81L) * col("n2_a").cast("decimal(38,0)") * col("n2_b").cast("decimal(38,0)")
      }
      .select("id_a", "id_b", "dot_q", "n2_a", "n2_b")
  }

  // --------------------------------------------------------------------
  // IVF-FLAT: the SIXTH staged kind — raw quantized vectors partitioned
  // by IVF list. The PQ codes layout is the top-k RETRIEVAL tier (4
  // bytes/vector); this is the exact-threshold ADMISSION tier: semantic
  // dedup (SemDeDup-style cosine >= t) needs exact distances, and PQ's
  // reconstruction error at admission-grade codebooks swamps the copy /
  // non-copy gap (measured: on the sf0.01 embeddings an exact copy's
  // ADC self-distortion overlaps unrelated-pair distances). Layout
  // under `dir`: `vecs/` = (id, q array<long> quantized, n2 long)
  // PARTITIONED BY the IVF list; `meta/` = the frozen centroids
  // (kilobytes). ~8·dims bytes/vector at rest — the price of exactness;
  // a 100 TB corpus keeps BOTH tiers: PQ for top-k, flat for the
  // admission gate's threshold joins, each pruned to probed lists.
  // --------------------------------------------------------------------

  /** Stage the IVF-flat layout. Centroids are the deterministic
    * [[ivfCentroids]] of the staged corpus, frozen for the index's
    * lifetime (appends re-read them from `meta/`). Null and
    * zero-quantized embeddings are excluded: a directionless row has
    * no admission identity ([[vecNewStaged]]'s null contract), and an
    * indexed zero vector could never reject anything (the cosine
    * test's `dot > 0`) — dead weight in every probed list. */
  def stageIvfFlat(corpus: DataFrame, idCol: String, embCol: String,
      numCentroids: Int, dir: String): Unit = {
    val spark = corpus.sparkSession
    val nn = vecAdmissible(corpus, embCol)
    val cents = ivfCentroids(nn, idCol, embCol, numCentroids)
    // unlike the id-free kinds (fingerprints, gram census), the
    // centroids ARE the index geometry: an empty corpus has none, so
    // later appends could never assign a list — refuse loudly instead
    // of staging an index that can never hold a vector
    require(cents.nonEmpty,
      s"stageIvfFlat($dir): the corpus has no non-null embeddings — " +
        "an IVF-flat index takes its centroid geometry from the staged " +
        "corpus; stage over at least one vector")
    import spark.implicits._
    // the as-written vecs frame, LAZY, so its READ schema lands as a
    // manifest param (schema.vecs — probes/guards/reclusters read with
    // an explicit schema, no per-call parquet inference job, guide §6)
    val vecsF = nn.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
      .select(col("id"), col("q"), dotQ(col("q"), col("q")).as("n2"),
        ivfAssign(col("q"), cents).as("list"))
    graft.util.StagedIndex.stage(spark, dir,
        graft.util.IndexManifest.KindIvfFlat,
        params = Map("centroids" -> cents.size.toString,
          graft.util.StagedIndex.schemaParam("vecs", vecsF))) {
      val obs = org.apache.spark.sql.Observation()
      vecsF
        .observe(obs, count(lit(1)).as("n_vectors"))
        .repartition(col("list")) // one file per IVF list
        .write.mode("overwrite").partitionBy("list").parquet(s"$dir/vecs")
      cents.zipWithIndex.map { case (v, i) => (i, v: Seq[Long]) }
        .toDF("idx", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      Map("n_vectors" -> obs.get("n_vectors").asInstanceOf[Long])
    }
  }

  /** The live sublayout DIR NAMES of an IVF-flat index under its
    * manifest: plain (`vecs`, `meta`) as staged, or the current
    * GENERATION pair (`vecs.gN`, `meta.gN`) once [[reclusterIvfFlat]]
    * has run — the generation number is a manifest param, so ONE
    * manifest read resolves a geometry-consistent (vecs, meta) pair
    * and a recluster flips both with a single atomic manifest rewrite
    * (readers see the whole old index or the whole new one, never a
    * mixed geometry and never a missing layout). */
  private[graft] def ivfFlatNames(mf: graft.util.IndexManifest): (String, String) =
    mf.params.get("gen") match {
      case Some(g) => (s"vecs.g$g", s"meta.g$g")
      case None => ("vecs", "meta")
    }

  /** One geometry-consistent snapshot of a [[stageIvfFlat]] index:
    * the manifest, the RESOLVED sublayout paths, and the centroids —
    * every probe/append resolves through this exactly once, so a
    * concurrent [[reclusterIvfFlat]] flip can never hand it old
    * centroids with new vectors (or vice versa). */
  private[graft] final case class IvfFlatHandle(mf: graft.util.IndexManifest,
      vecsPath: String, metaPath: String, cents: IndexedSeq[Seq[Long]])

  /** The flat meta layout's schema — FIXED by stageIvfFlat/
    * reclusterIvfFlat for every index ever staged, so meta reads pass
    * it explicitly and pay no schema-inference job. */
  private val IvfFlatMetaSchema = org.apache.spark.sql.types.StructType
    .fromDDL("idx INT, vec ARRAY<BIGINT>")

  private[graft] def openIvfFlat(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfFlatHandle = {
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindIvfFlat)
    val (v, m) = ivfFlatNames(mf)
    IvfFlatHandle(mf, s"$dir/$v", s"$dir/$m",
      spark.read.schema(IvfFlatMetaSchema).parquet(s"$dir/$m").collect()
        .sortBy(_.getInt(0)).map(_.getSeq[Long](1)).toIndexedSeq)
  }

  /** The frozen centroids of a [[stageIvfFlat]] dir. */
  private def readIvfFlatMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): IndexedSeq[Seq[Long]] = openIvfFlat(spark, dir).cents

  /** The vecs layout at its RESOLVED path ([[IvfFlatHandle]]),
    * empty-tolerant ([[graft.util.StagedIndex.readLayout]]): with data
    * present the schema is INFERRED as always; an all-appends-refused
    * (or freshly-compacted-to-nothing) empty vecs dir reads as "no
    * vectors" instead of dying on parquet schema inference. */
  private def readIvfFlatVecs(spark: org.apache.spark.sql.SparkSession,
      vecsPath: String, idField: org.apache.spark.sql.types.StructField,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(idField.copy(name = "id"),
      StructField("q", ArrayType(LongType)), StructField("n2", LongType),
      StructField("list", IntegerType)))
    // dataSchema = the manifest-recorded STAGED schema (schema.vecs,
    // generation dirs resolve through the base name): no inference job
    // per probe/guard; inference stays the pre-schema-param fallback
    graft.util.StagedIndex.readLayout(spark, vecsPath, schema, dataSchema)
  }

  /** Append new vectors to a [[stageIvfFlat]] index — frozen centroids,
    * batch-proportional (one file per touched list), the new-ids
    * contract enforced exactly as [[appendIvfPq]] (a re-appended id
    * would carry two vecs rows and double-reject its neighbors'
    * admission probes — refuse before anything is written). */
  def appendIvfFlat(batch: DataFrame, idCol: String, embCol: String,
      dir: String, assumeNewIds: Boolean = false): Unit = {
    val spark = batch.sparkSession
    // ONE manifest resolution for guard + assign + write: geometry and
    // destination stay consistent even if a recluster flips between
    // this append and the next (single-writer discipline still applies
    // to WRITERS — see reclusterIvfFlat)
    val h = openIvfFlat(spark, dir)
    val nn = vecAdmissible(batch, embCol)
    if (!assumeNewIds) {
      graft.util.StagedIndex.requireNewIds(
        readIvfFlatVecs(spark, h.vecsPath, nn.schema(idCol),
            h.mf.layoutSchema("vecs"))
          .select(col("id"))
          .join(nn.select(col(idCol).as("id")).distinct(), Seq("id"),
            "left_semi"),
        "appendIvfFlat", dir,
        "appending an existing id duplicates its vecs row, so admission " +
          "probes see it twice and a re-embedded vector silently " +
          "disagrees with its original row.",
        "stageIvfFlat")
    }
    nn.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
      .select(col("id"), col("q"), dotQ(col("q"), col("q")).as("n2"),
        ivfAssign(col("q"), h.cents).as("list"))
      .repartition(col("list")) // one file per touched list per append
      .write.mode("append").partitionBy("list").parquet(h.vecsPath)
  }

  /** COMPACT a [[stageIvfFlat]] index: one file per list again,
    * manifest count refreshed. Vecs rows are immutable per-vector
    * facts that DEDUP on the way through (the [[graft.text.Dedup
    * .compactBandIndex]] discipline): distinct is a no-op on a healthy
    * index — one vecs row per id by the new-ids guard — and it is what
    * makes the documented crash recovery converge. A crash between
    * [[appendIvfFlat]]'s partition writes leaves some lists' files
    * landed; the retry refuses on the guard, and an assumeNewIds
    * re-append then carries a second copy of the landed rows (inflating
    * n_vectors and double-rejecting those vectors' admission neighbors
    * — harmlessly, since rejected ids are distinct'd) until this
    * compaction collapses the copies. Recovery contract: assumeNewIds
    * + compactIvfFlat, in that order. Probe-invisible, crash-safe
    * swap. */
  def compactIvfFlat(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import graft.util.StagedIndex.Layout
    val obs = org.apache.spark.sql.Observation()
    graft.util.StagedIndex.compact(spark, dir,
        graft.util.IndexManifest.KindIvfFlat) { mf =>
      // compact the LIVE generation's vecs dir (plain `vecs` as
      // staged, `vecs.gN` after a recluster)
      Seq(Layout(ivfFlatNames(mf)._1, Some("list"),
        _.select(col("id"), col("q"), col("n2"), col("list")).distinct()
          .observe(obs, count(lit(1)).as("n_vectors"))))
    } { _ => Map("n_vectors" -> obs.get("n_vectors").asInstanceOf[Long]) }
    ()
  }

  /** RECLUSTER a [[stageIvfFlat]] index under corpus drift — the
    * maintenance verb frozen centroids need: stage-time centroids
    * never move, so a drifting append stream piles new vectors into a
    * few lists and probe pruning degrades toward a full scan. This
    * RE-SEEDS the centroids from the current corpus (a deterministic
    * hash-ordered draw of `centroids` stored vectors — Lloyd alone
    * cannot rebalance drift, because a far-away frozen centroid never
    * migrates into a dense new region: it keeps its own points or,
    * with none, keeps its old position), runs `iters` Lloyd rounds
    * ([[ivfRefine]]'s integer means) over the STORED quantized
    * vectors, reassigns every row under the refined centroids, and
    * rewrites both sublayouts — the centroid COUNT (the manifest
    * param) is preserved, so probes keep their nprobe/recall contract
    * while the geometry re-balances.
    *
    * Admission SEMANTICS may legitimately shift at the nprobe margin
    * (which lists a borderline vector probes changes with the
    * geometry) — exactly as IVF retrieval recall shifts with
    * centroids; copies still always reject (an exact copy probes the
    * same lists as its original under ANY geometry, the
    * [[vecNewStaged]] replay contract).
    *
    * READER-ATOMIC commit via GENERATION directories: vecs and meta
    * must change TOGETHER (rows assigned under new centroids but
    * probed under old ones — or vice versa — would silently
    * under-reject forever), and concurrent external probes must never
    * observe a half-published index. Both new sublayouts are fully
    * written as the NEXT generation pair (`vecs.gN+1`, `meta.gN+1`)
    * while the live manifest still points at generation N; the commit
    * is then ONE atomic manifest rewrite flipping the `gen` param —
    * a reader resolves the whole old index or the whole new one
    * ([[IvfFlatHandle]] resolves once per operation), and there is no
    * crash window that invalidates the index: a crash before the flip
    * leaves generation N live (the stale gN+1 dirs are cleared by the
    * next recluster), a crash after it leaves gN+1 live. The PREVIOUS
    * generation is kept on disk as a read-grace copy for probes that
    * resolved just before the flip and deleted at the START of the
    * next recluster — one recluster interval of grace, disk cost one
    * extra copy of the vectors between reclusters. WRITERS stay
    * single-writer (the standing append discipline): an append that
    * resolves generation N while a concurrent recluster flips to N+1
    * would land rows in the dead generation. */
  def reclusterIvfFlat(spark: org.apache.spark.sql.SparkSession,
      dir: String, iters: Int = 3): Unit = {
    import org.apache.hadoop.fs.Path
    val mf = graft.util.IndexManifest.validate(spark, dir,
      graft.util.IndexManifest.KindIvfFlat)
    val (vLive, mLive) = ivfFlatNames(mf)
    val nextGen = mf.params.get("gen").map(_.toInt + 1).getOrElse(1)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // clear everything that is not the LIVE pair: the grace copy the
    // previous recluster left (its readers have had a full recluster
    // interval to finish), stale next-gen dirs from a crashed flip,
    // and pre-generation `*.__recluster__` tmps from older layouts
    val live = Set(vLive, mLive)
    fs.listStatus(new Path(dir)).map(_.getPath).foreach { p =>
      val n = p.getName
      if ((n.matches("(vecs|meta)(\\.g\\d+)?") && !live(n)) ||
          n.endsWith(".__recluster__"))
        fs.delete(p, true): Unit
    }
    val cents0 = spark.read.schema(IvfFlatMetaSchema)
      .parquet(s"$dir/$mLive").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Long](1)).toIndexedSeq
    val vecs = readIvfFlatVecs(spark, s"$dir/$vLive",
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      mf.layoutSchema("vecs"))
    // deterministic re-seed: k vectors in (xxhash64(id), id) order — a
    // pseudo-random but reproducible draw whose density follows the
    // CURRENT corpus, so a drifted region gets seeds in proportion to
    // its mass; a too-small index keeps old centroids as filler
    val seeds = vecs
      .select(col("q"), xxhash64(col("id")).as("__h"), col("id"))
      .orderBy(col("__h"), col("id"))
      .limit(cents0.size)
      .select(col("q")).collect().map(_.getSeq[Long](0)).toIndexedSeq
    val init = seeds ++ cents0.drop(seeds.size)
    val cents = ivfRefineQ(vecs.select(col("q").as("__q")), init, iters)
    // the next generation lands fully under a still-valid, still-live
    // manifest — the whole slow window is crash-free AND probe-free
    val obs = org.apache.spark.sql.Observation()
    vecs.select(col("id"), col("q"), col("n2"),
        ivfAssign(col("q"), cents).as("list"))
      .observe(obs, count(lit(1)).as("n_vectors"))
      .repartition(col("list")) // one file per list
      .write.mode("overwrite").partitionBy("list")
      .parquet(s"$dir/vecs.g$nextGen")
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i, v: Seq[Long]) }
      .toDF("idx", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta.g$nextGen")
    // the COMMIT: one atomic manifest rewrite flips the generation
    graft.util.IndexManifest.write(spark, dir,
      graft.util.IndexManifest.KindIvfFlat,
      mf.params + ("gen" -> nextGen.toString),
      Map("n_vectors" -> obs.get("n_vectors").asInstanceOf[Long]))
  }

  /** RECLUSTER a [[stageIvfPq]] index under corpus drift — the
    * [[reclusterIvfFlat]] maintenance verb for the PQ retrieval tier.
    * A continuously-appended IVF-PQ index drifts exactly like flat:
    * frozen coarse centroids pile a drifted stream into a few lists
    * and `nprobe` pruning degrades toward a full ADC scan.
    *
    * What CAN move without raw vectors: the codes layout stores no
    * vectors (m codeword ids per row — the PQ bytes contract), but
    * each code determines its reconstruction exactly (subspace `j` →
    * codeword `book(j)(code_j)`), and because this codebook encodes
    * FULL vectors — not residuals against the coarse centroid, the
    * FAISS `by_residual=false` layout — a row's code is INDEPENDENT of
    * which list it lives in. So the coarse quantizer re-seeds and
    * Lloyd-refines over the reconstructions and every row re-assigns
    * under the new geometry with its code carried VERBATIM: `adist`
    * for any (query, candidate) pair is bit-identical before and
    * after, only WHICH candidates fall inside `nprobe` probed lists
    * changes — exactly how IVF recall always moves with its geometry.
    *
    * What canNOT move: the ADC codebooks. Re-training them from
    * reconstructions is re-quantizing already-quantized points — the
    * new codebook can only lose information relative to the raw
    * corpus (and every stored code would need lossy re-encoding).
    * A codebook refresh is therefore an explicit [[stageIvfPq]] from
    * the raw corpus, by design; this verb fixes the drift symptom
    * that actually degrades probe cost at 100 TB (list skew) at
    * reconstruction cost zero.
    *
    * Commit protocol is [[reclusterIvfFlat]]'s, verbatim: next
    * generation pair (`codes.gN+1`, `meta.gN+1`) fully written under
    * the still-live manifest, then ONE atomic manifest rewrite flips
    * the `gen` param; previous generation kept one recluster interval
    * as the read-grace copy ([[reapIvfGrace]] reclaims it early);
    * probes resolve through one [[IvfPqHandle]] snapshot, so no mixed
    * geometry is ever observable and no crash window invalidates the
    * index. Writers stay single-writer. */
  def reclusterIvfPq(spark: org.apache.spark.sql.SparkSession,
      dir: String, iters: Int = 3): Unit = {
    import org.apache.hadoop.fs.Path
    val h = openIvfPq(spark, dir)
    val (cLive, mLive) = ivfPqNames(h.mf)
    val nextGen = h.mf.params.get("gen").map(_.toInt + 1).getOrElse(1)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // clear everything that is not the LIVE pair (grace copy, stale
    // next-gen dirs from a crashed flip) — the reclusterIvfFlat sweep
    val live = Set(cLive, mLive)
    fs.listStatus(new Path(dir)).map(_.getPath).foreach { p =>
      val n = p.getName
      if ((n.matches("(codes|meta)(\\.g\\d+)?") && !live(n)) ||
          n.endsWith(".__recluster__"))
        fs.delete(p, true): Unit
    }
    val codes = readIvfPqCodes(spark, h)
    // exact reconstruction from the stored code: subspace j's codeword
    // (codes are 1-based — array_position — so element_at is direct)
    val bookLit = typedLit(h.pb.book)
    def recon(code: Column): Column =
      flatten(zip_with(code, bookLit, (cd, sub) => element_at(sub, cd)))
    // deterministic re-seed in (xxhash64(id), id) order — density
    // follows the CURRENT corpus (the reclusterIvfFlat draw); a
    // too-small index keeps old centroids as filler
    val seeds = codes
      .select(recon(col("code")).as("__q"), xxhash64(col("id")).as("__h"),
        col("id"))
      .orderBy(col("__h"), col("id"))
      .limit(h.cents.size)
      .select(col("__q")).collect().map(_.getSeq[Long](0)).toIndexedSeq
    val init = seeds ++ h.cents.drop(seeds.size)
    val cents = ivfRefineQ(
      codes.select(recon(col("code")).as("__q")), init, iters)
    // next generation lands fully under a still-valid, still-live
    // manifest — the whole slow window is crash-free AND probe-free
    val obs = org.apache.spark.sql.Observation()
    codes.select(col("id"), col("code"),
        ivfAssign(recon(col("code")), cents).as("list"))
      .observe(obs, count(lit(1)).as("n_vectors"))
      .repartition(col("list")) // one file per list
      .write.mode("overwrite").partitionBy("list")
      .parquet(s"$dir/codes.g$nextGen")
    import spark.implicits._
    val metaRows: Seq[(String, Int, Int, Seq[Long])] =
      cents.zipWithIndex.map { case (v, i) => ("cent", 0, i, v: Seq[Long]) } ++
        (for (j <- 0 until h.pb.m; (cw, ci) <- h.pb.book(j).zipWithIndex)
          yield ("code", j, ci, cw: Seq[Long])) // codebook VERBATIM
    metaRows.toDF("kind", "j", "idx", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta.g$nextGen")
    // the COMMIT: one atomic manifest rewrite flips the generation
    graft.util.IndexManifest.write(spark, dir,
      graft.util.IndexManifest.KindIvfPq,
      h.mf.params + ("gen" -> nextGen.toString),
      Map("n_vectors" -> obs.get("n_vectors").asInstanceOf[Long]))
  }

  /** Reap an IVF index's read-grace generation EARLY — the disk-bound
    * knob on the generation-commit protocol: [[reclusterIvfFlat]] /
    * [[reclusterIvfPq]] keep the previous generation on disk until the
    * NEXT recluster so probes that resolved just before the flip keep
    * reading a complete index, which on a rarely-reclustered large
    * index is 2× vector storage indefinitely. This deletes every
    * non-live generation dir (the grace copy, plus stale next-gen dirs
    * from a crashed flip) once the OPERATOR declares in-flight readers
    * drained — the caller's contract: a probe that resolved its
    * [[IvfFlatHandle]]/[[IvfPqHandle]] before this runs and is still
    * scanning the grace files will fail with a missing-file read (loud
    * and retryable — the handle re-resolves to the live generation on
    * retry; nothing is silently wrong). The live pair and the manifest
    * are never touched, so this needs no commit protocol of its own.
    * Returns the deleted dir names (empty = nothing to reap). */
  def reapIvfGrace(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val mf = graft.util.IndexManifest.read(spark, dir)
    val ivf = graft.streaming.StagedKinds.of(mf).ivf.getOrElse(
      throw new IllegalArgumentException(s"reapIvfGrace: '${mf.kind}' " +
        "has no generation layout (IVF kinds only)"))
    val (data, meta) = ivf.live(mf)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.matches(s"(${ivf.base}|meta)(\\.g\\d+)?") && n != data && n != meta
      }
      .map { p => fs.delete(p, true): Unit; p.getName }
      .toSeq.sorted
  }

  /** Per-list occupancy of an IVF-partitioned staged layout — the
    * drift diagnostic that tells an operator when [[reclusterIvfFlat]]
    * is due: `skew` = max list size / mean list size (1.0 = perfectly
    * balanced; numCentroids = everything in one list — probes
    * degenerate to full scans). Works on both IVF kinds (`vecs/` for
    * flat, `codes/` for PQ). One aggregate over the layout's `list`
    * partition column — partition-pruned parquet footers, no data
    * columns read. */
  def listSkew(spark: org.apache.spark.sql.SparkSession,
      dir: String): ListSkew = {
    val mf = graft.util.IndexManifest.read(spark, dir)
    val layout = graft.streaming.StagedKinds.of(mf).ivf.getOrElse(
      throw new IllegalArgumentException(
        s"listSkew: '${mf.kind}' is not an IVF-partitioned kind"))
      .live(mf)._1
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("list",
        org.apache.spark.sql.types.IntegerType)))
    // `list` is the partition column of BOTH kinds' data layouts — a
    // partition-only explicit schema reads no data columns AND pays no
    // footer schema-inference job
    val sizes = graft.util.StagedIndex
      .readLayout(spark, s"$dir/$layout", schema, Some(schema))
      .groupBy("list").agg(count(lit(1)).as("n"))
      .select(col("n")).collect().map(_.getLong(0))
    val total = sizes.sum
    val nonEmpty = sizes.length
    val declared = mf.paramInt("centroids")
    val maxN = if (sizes.isEmpty) 0L else sizes.max
    val mean = if (nonEmpty == 0) 0.0 else total.toDouble / declared
    ListSkew(declared, nonEmpty, total, maxN,
      if (mean == 0.0) 0.0 else maxN / mean)
  }

  /** [[listSkew]]'s result: declared centroid count, lists actually
    * holding vectors, total vectors, the largest list, and max/mean
    * occupancy (mean over DECLARED lists — an empty list is skew). */
  final case class ListSkew(centroids: Int, nonEmptyLists: Int,
      nVectors: Long, maxList: Long, skew: Double)

  /** Semantic admission against a FROZEN [[stageIvfFlat]] index: the
    * rows of `batch` with NO indexed vector of cosine ≥
    * `minCosPermille`/1000 in their `nprobe` probed IVF lists — the
    * SemDeDup admission check as an incremental, index-resident
    * operator (the [[graft.text.Dedup.exactNewStaged]] /
    * `lshNewCandidatesStaged` discipline applied to embeddings).
    *
    * Plan shape: the batch quantizes and probes as ONE narrow
    * projection (centroid matrix is a literal), the probed list ids
    * (≤ batch × nprobe, collected — driver-sized) prune the vecs scan
    * STATICALLY, and the cosine test is [[nearDupPairs]]' exact
    * integer arithmetic in DECIMAL(38,0) — engine-exact, oracle-twin
    * in HUGEINT. Probe cost scales with the batch's probed lists,
    * never the reference; the batch side broadcasts below
    * `broadcastCap` and shuffles on the list key above it (the
    * adaptive admission discipline). Recall is `nprobe`-bounded
    * exactly as IVF retrieval: an exact copy probes the same lists as
    * its original, so copies are always caught; a borderline
    * near-copy in an unprobed list is the documented trade. Null AND
    * zero-quantized embeddings are dropped (no direction ⇒ no cosine
    * ⇒ no admission identity — and a zero vector can never be
    * REJECTED by the cosine test's `dot > 0`, so passing it through
    * would re-admit it on every replayed micro-batch forever and
    * poison the append guard; the null-text discipline of
    * [[graft.streaming.DocStream.admitStream]] applied to vectors).
    * Returns FULL batch rows, eagerly materialized. */
  def vecNewStaged(batch: DataFrame, idCol: String, embCol: String,
      dir: String, minCosPermille: Int = 900, nprobe: Int = 4,
      broadcastCap: Long = graft.text.Dedup.AdmitBroadcastCap): DataFrame = {
    require(minCosPermille > 0 && minCosPermille <= 1000,
      "minCosPermille must be in (0, 1000]")
    val spark = batch.sparkSession
    // one geometry-consistent snapshot: centroids AND the vecs path
    // resolve from a single manifest read (a concurrent recluster flip
    // can never mix generations inside one probe)
    val h = openIvfFlat(spark, dir)
    val nn = vecAdmissible(batch, embCol)
    // the probe frame feeds the size probe, the list collect AND the
    // join: persist + release (the exactNewStaged discipline)
    val bq = vecProbeFrame(nn, idCol, embCol, h.cents, nprobe).persist()
    try {
      // ONE materializing aggregate returns the probe-frame size AND
      // its probed-list set (≤ centroids ints): the size probe and the
      // list collect were two driver round-trips per micro-batch
      val head = bq.agg(count(lit(1)).as("__n"),
        collect_set(col("__list")).as("__lists")).collect()(0)
      val small = broadcastCap > 0 && head.getLong(0) <= broadcastCap
      val rejected = vecRejectedIds(bq, idCol, nn.schema(idCol),
        h.vecsPath, minCosPermille, forceBroadcast = small,
        probedLists = Some(head.getSeq[Int](1).toArray),
        vecsSchema = h.mf.layoutSchema("vecs"))
      nn.join(if (small) broadcast(rejected) else rejected,
          Seq(idCol), "left_anti")
        .localCheckpoint(true)
    } finally { bq.unpersist(false); () }
  }

  /** [[vecNewStaged]] WITH the rejection evidence: returns (admitted
    * full batch rows, rejecting pairs — (idCol, ref_id, cos_permille),
    * see [[vecRejectedPairs]]) — the audit shape
    * [[graft.streaming.DocStream.admitVecStream]]'s `rejectsPath`
    * needs without paying the probe twice: one probe frame feeds both,
    * the pairs materialize once and the rejected-id set derives from
    * that materialization (narrow re-read, no second vecs scan). BOTH
    * returned frames are eagerly localCheckpoint'd — the caller must
    * release each ([[graft.util.LocalCkpt.release]]) once consumed. */
  def vecNewStagedAudit(batch: DataFrame, idCol: String, embCol: String,
      dir: String, minCosPermille: Int = 900, nprobe: Int = 4,
      broadcastCap: Long = graft.text.Dedup.AdmitBroadcastCap)
      : (DataFrame, DataFrame) = {
    require(minCosPermille > 0 && minCosPermille <= 1000,
      "minCosPermille must be in (0, 1000]")
    val spark = batch.sparkSession
    val h = openIvfFlat(spark, dir)
    val nn = vecAdmissible(batch, embCol)
    val bq = vecProbeFrame(nn, idCol, embCol, h.cents, nprobe).persist()
    try {
      // one materializing aggregate = size + probed lists (see
      // vecNewStaged)
      val head = bq.agg(count(lit(1)).as("__n"),
        collect_set(col("__list")).as("__lists")).collect()(0)
      val small = broadcastCap > 0 && head.getLong(0) <= broadcastCap
      val pairs = vecRejectedPairs(bq, idCol, nn.schema(idCol),
        h.vecsPath, minCosPermille, forceBroadcast = small,
        probedLists = Some(head.getSeq[Int](1).toArray),
        vecsSchema = h.mf.layoutSchema("vecs"))
        .localCheckpoint(true)
      val rejected = pairs.select(col(idCol)).distinct()
      (nn.join(if (small) broadcast(rejected) else rejected,
          Seq(idCol), "left_anti")
        .localCheckpoint(true), pairs)
    } finally { bq.unpersist(false); () }
  }

  /** The rejecting-PAIR evidence frame of [[vecNewStaged]]: the vecs
    * scan pruned STATICALLY to the (materialized) probe frame's list
    * ids, joined with the integer cosine test — one row per (batch id,
    * matched indexed id) pair that rejects, carrying `ref_id` and
    * `cos_permille` (the measured cosine in permille, ROUNDED from the
    * exact integer arithmetic for the audit — the REJECTION itself is
    * decided by the exact DECIMAL(38,0) test, never by this display
    * value). Lazy; the audit path materializes it, the plain path's
    * id projection lets Catalyst prune the evidence columns out of the
    * scan. */
  private[graft] def vecRejectedPairs(bq: DataFrame, idCol: String,
      idField: org.apache.spark.sql.types.StructField, vecsPath: String,
      minCosPermille: Int, forceBroadcast: Boolean,
      probedLists: Option[Array[Int]] = None,
      vecsSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val spark = bq.sparkSession
    val probed = probedLists.getOrElse(
      bq.select("__list").distinct().collect().map(_.getInt(0)))
    // reference-side internals renamed to __-prefixed names before the
    // join (the fingerprint probe's __ch discipline): a caller id
    // column named 'id', 'q' or 'n2' must not collide ambiguously —
    // the caller namespace owns only idCol, which vecProbeFrame pins
    // outside the reserved set
    val ref = readIvfFlatVecs(spark, vecsPath, idField, vecsSchema)
      .filter(col("list").isin(probed: _*))
      .select(col("id").as("__ref_id"), col("q").as("__ref_q"),
        col("n2").as("__ref_n2"), col("list").as("__list"))
    val p2 = minCosPermille.toLong * minCosPermille
    (if (forceBroadcast) broadcast(bq) else bq)
      .join(ref, Seq("__list"))
      .withColumn("__dot", dotQ(col("__q"), col("__ref_q")))
      .filter {
        val d = col("__dot").cast("decimal(38,0)")
        col("__dot") > 0 &&
          lit(1000000L) * d * d >=
            lit(p2) * col("__n2").cast("decimal(38,0)") *
              col("__ref_n2").cast("decimal(38,0)")
      }
      .select(col(idCol), col("__ref_id").as("ref_id"),
        round(lit(1000.0) * col("__dot").cast("double") /
          sqrt(col("__n2").cast("double") * col("__ref_n2").cast("double")))
          .cast("int").as("cos_permille"))
  }

  /** The rejected-id frame of [[vecNewStaged]]: [[vecRejectedPairs]]'
    * distinct batch ids. Exposed for the plan-audit pin — the returned
    * frame is lazy, so a spec can assert the scan carries partition
    * filters (and that the unused evidence columns prune away). */
  private[graft] def vecRejectedIds(bq: DataFrame, idCol: String,
      idField: org.apache.spark.sql.types.StructField, vecsPath: String,
      minCosPermille: Int, forceBroadcast: Boolean,
      probedLists: Option[Array[Int]] = None,
      vecsSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    vecRejectedPairs(bq, idCol, idField, vecsPath, minCosPermille,
      forceBroadcast, probedLists, vecsSchema)
      .select(col(idCol)).distinct()

  /** The rows of `batch` that carry an admission identity: non-null
    * embeddings whose QUANTIZED norm is positive (a zero vector has no
    * direction, so no cosine — see [[vecNewStaged]]'s null contract). */
  private[graft] def vecAdmissible(batch: DataFrame, embCol: String): DataFrame =
    batch.filter(col(embCol).isNotNull && quantizedNormSq(col(embCol)) > 0)

  /** The probe-frame names reserved for the admission join's internals
    * — a caller id column reusing one would be ambiguous or silently
    * wrong in [[vecRejectedIds]]' join, so the probe refuses loudly. */
  private val VecProbeReserved =
    Set("__q", "__n2", "__list", "__dot", "__ref_q", "__ref_n2")

  /** The SHARED probe projection of [[vecNewStaged]] and the spec-side
    * probe helper — one builder, so the plan-audit pin can never drift
    * from the production probe: quantize, norm, one probe-list row per
    * (vector, probed list). LAZY; callers choose materialization. */
  private[graft] def vecProbeFrame(nn: DataFrame, idCol: String, embCol: String,
      cents: IndexedSeq[Seq[Long]], nprobe: Int): DataFrame = {
    require(!VecProbeReserved.contains(idCol),
      s"idCol '$idCol' collides with a reserved probe-internal name " +
        s"(${VecProbeReserved.mkString(", ")}) — rename the id column")
    nn.select(col(idCol), quantize(col(embCol)).as("__q"))
      .withColumn("__n2", dotQ(col("__q"), col("__q")))
      .select(col(idCol), col("__q"), col("__n2"),
        explode(ivfProbes(col("__q"), cents, nprobe)).as("__list"))
  }
}
