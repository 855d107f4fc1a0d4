package graft.verify

import graft.ops.BsonKey
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster diff — the reference's `-compare` command (compare.go:13-31,
  * J1), which delegates per-namespace source/target verification to the
  * keyhole comparator. Spark-first shape: a single full-outer join on the
  * key plus a row fingerprint, giving per-row status and per-namespace
  * counts in one shuffle.
  *
  * The row fingerprint hashes every non-key column (sorted by name for
  * determinism) through `sha2(to_json(struct(...)))` — codegen'd, no UDF.
  *
  * Scale notes: the join shuffles both sides on the key — exactly one
  * shuffle each, which is optimal for a full diff; at 100 TB both sides
  * are bucketable on the key to make the join shuffle-free, and a
  * fingerprint-per-partition pre-aggregation (sum of xxhash64) can
  * short-circuit identical partitions before any row-level join runs.
  */
object Compare {

  final case class CompareSummary(
      matched: Long, mismatched: Long, missingOnTarget: Long, extraOnTarget: Long) {
    def isEqual: Boolean = mismatched == 0 && missingOnTarget == 0 && extraOnTarget == 0
  }

  /** Deterministic row fingerprint over all non-key columns. */
  def fingerprint(df: DataFrame, key: String) = {
    val cols = df.columns.filterNot(_ == key).sorted.map(col)
    sha2(to_json(struct(cols.toIndexedSeq: _*)), 256)
  }

  /** Per-row diff: (key, status) with status ∈ match|mismatch|missing|extra.
    * `missing` = present on source only; `extra` = present on target only. */
  def diff(src: DataFrame, tgt: DataFrame, key: String): DataFrame = {
    val s = src.select(col(key), fingerprint(src, key).as("__src_fp"))
    val t = tgt.select(col(key), fingerprint(tgt, key).as("__tgt_fp"))
    s.join(t, Seq(key), "full_outer")
      .select(col(key),
        when(col("__src_fp").isNull, lit("extra"))
          .when(col("__tgt_fp").isNull, lit("missing"))
          .when(col("__src_fp") === col("__tgt_fp"), lit("match"))
          .otherwise(lit("mismatch")).as("status"))
  }

  /** Aggregated diff counts — the comparator's verdict for one namespace. */
  def summarize(src: DataFrame, tgt: DataFrame, key: String): CompareSummary = {
    val counts = diff(src, tgt, key).groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    CompareSummary(
      matched = counts.getOrElse("match", 0L),
      mismatched = counts.getOrElse("mismatch", 0L),
      missingOnTarget = counts.getOrElse("missing", 0L),
      extraOnTarget = counts.getOrElse("extra", 0L))
  }

  /** Chunked diff — one splitter block at a time, the reference
    * comparator's unit of work (its verify walks the same `[first,last]`
    * ranges the splitter emitted). The bounds come from
    * [[graft.ops.RangeSplitter.exactBounds]] rows and the range test
    * uses [[BsonKey.defaultOrder]] — string key columns (doc-store
    * canonical-JSON ids) compare in BSON cross-type order BY DEFAULT, so
    * a namespace with MIXED int / string / ObjectId keys selects the
    * BSON-ordered slice; a plain `key between (first, last)` on the
    * canonical-JSON text would interleave the type classes ("150" < "2")
    * and both drop and double-count rows across chunks. Non-string keys
    * compare natively (and their min/max parquet row-group stats prune
    * the scan).
    *
    * The range predicate is applied to each side BEFORE the join, so at
    * scale each chunk's work is bounded by the block size regardless of
    * table size. Rows landing in no chunk (possible only if bounds
    * don't tile the keyspace) are simply not reported — callers diff the
    * union of splitter blocks, which by construction covers every source
    * key; target-only keys outside every block surface through the full
    * [[diff]] (or [[graft.Migrate.compareChunked]]'s out-of-range
    * pass). */
  def diffRange(src: DataFrame, tgt: DataFrame, key: String,
      idFirst: Any, idLast: Any): DataFrame = {
    def slice(df: DataFrame) = {
      val k = BsonKey.defaultOrder(df, key)
      df.filter(k >= rangeBound(df, key, idFirst) &&
        k <= rangeBound(df, key, idLast))
    }
    diff(slice(src), slice(tgt), key)
  }

  /** Compile a chunk-bound literal into the same ordering domain
    * [[BsonKey.defaultOrder]] puts the key column in. */
  private[graft] def rangeBound(df: DataFrame, key: String, v: Any) =
    df.schema(key).dataType match {
      case org.apache.spark.sql.types.StringType =>
        BsonKey.sortKey(lit(v))
      case _ => lit(v)
    }

  /** Tiled diff slice: `(loExclusive, hiInclusive]` under the key's
    * default order, either end open-ended when None. Unlike
    * [[diffRange]]'s closed `[first, last]` reference blocks, a sequence
    * of slices keyed on consecutive block `last` bounds TILES the whole
    * keyspace — no gap between blocks for a target-only key to hide in,
    * and duplicate boundary keys land in exactly one slice on both
    * sides. [[graft.Migrate.compareChunked]] walks these. */
  def diffSlice(src: DataFrame, tgt: DataFrame, key: String,
      loExclusive: Option[Any], hiInclusive: Option[Any]): DataFrame = {
    def slice(df: DataFrame) = {
      val k = BsonKey.defaultOrder(df, key)
      val above = loExclusive.map(v => k > rangeBound(df, key, v))
      val below = hiInclusive.map(v => k <= rangeBound(df, key, v))
      (above ++ below).reduceOption(_ && _).map(df.filter).getOrElse(df)
    }
    diff(slice(src), slice(tgt), key)
  }

  /** Dup-key reconciliation — J2 (task.go:95-97): which keys of a batch
    * already exist on the target. `left_semi` keeps it shuffle-lean and
    * never materializes target payload columns. */
  def existingKeys(batch: DataFrame, target: DataFrame, key: String): DataFrame =
    batch.select(key).join(target.select(key), Seq(key), "left_semi")

  /** Bucketed diff with partition short-circuit — the plan that makes a
    * 100 TB diff affordable when the clusters are mostly in sync.
    *
    * Both sides hash their key into `buckets` buckets and pre-aggregate a
    * commutative bucket sketch: `bit_xor(xxhash64(key, fp))` plus a row
    * count. The sketch aggregation is map-side-partial into only
    * `buckets` groups, so its exchange is a few KB regardless of table
    * size. Buckets whose sketches agree on both sides are declared
    * all-match WITHOUT any row-level work (their row count feeds the
    * match total); only rows of disagreeing buckets — semi-joined via a
    * broadcast of the changed-bucket list — enter the full-outer
    * row-level join.
    *
    * Each side is scanned and fingerprinted EXACTLY ONCE: the narrow
    * (key, fp, bucket) projection is persisted before it fans out to the
    * sketch and row-level subtrees (the projection is a few percent of
    * source width, so caching it costs far less than the second
    * scan+sha2 pass it replaces). A fully-identical 100 TB pair
    * therefore diffs with two scans and zero wide shuffles. The (tiny)
    * count result is returned materialized (a local checkpoint — the
    * caller releases it with [[graft.util.LocalCkpt.release]] once
    * consumed) and every internal cache and checkpoint is released
    * before returning.
    *
    * Output: (status, n) counts, statuses as in [[diff]]. xor-sketch
    * collisions (two different bucket contents with equal xor and count)
    * are 2^-64-improbable; counts double-check cardinality.
    */
  def diffBucketed(src: DataFrame, tgt: DataFrame, key: String,
      buckets: Int = 4096): DataFrame = {
    val s = src.select(col(key), fingerprint(src, key).as("__fp"))
      .withColumn("__bucket", pmod(xxhash64(col(key)), lit(buckets.toLong)))
      .persist()
    val t = tgt.select(col(key), fingerprint(tgt, key).as("__fp"))
      .withColumn("__bucket", pmod(xxhash64(col(key)), lit(buckets.toLong)))
      .persist()
    try {
      // no eager counts needed: the sketch action below has exactly one
      // subtree per side, so each cache is populated by a single scan
      // (the ONE scan+fingerprint pass per side) with no population race
      def sketch(r: DataFrame) = r.groupBy("__bucket").agg(
        expr(s"bit_xor(xxhash64($key, __fp))").as("__sig"),
        count(lit(1)).as("__n"))
      // ≤ `buckets` rows — materialize so identical/changed/broadcast
      // all read blocks instead of re-running the sketch aggregation
      // (columns renamed per side: alias qualifiers don't survive the
      // checkpoint's schema)
      val sk = sketch(s)
        .select(col("__bucket"), col("__sig").as("__lsig"), col("__n").as("__ln"))
        .join(sketch(t)
          .select(col("__bucket"), col("__sig").as("__rsig"), col("__n").as("__rn")),
          Seq("__bucket"), "full_outer")
        .localCheckpoint(true)
      val same = col("__lsig") <=> col("__rsig") && col("__ln") <=> col("__rn")
      val identical = sk.filter(same)
      val changed = sk.filter(!same).select(col("__bucket"))
      val sd = s.join(broadcast(changed), Seq("__bucket"), "left_semi")
      val td = t.join(broadcast(changed), Seq("__bucket"), "left_semi")
      val rowCounts = sd.select(col(key), col("__fp").as("__src_fp"))
        .join(td.select(col(key), col("__fp").as("__tgt_fp")), Seq(key), "full_outer")
        .select(when(col("__src_fp").isNull, lit("extra"))
          .when(col("__tgt_fp").isNull, lit("missing"))
          .when(col("__src_fp") === col("__tgt_fp"), lit("match"))
          .otherwise(lit("mismatch")).as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
      val skippedMatches = identical
        .agg(coalesce(sum(col("__ln")), lit(0L)).as("n"))
        .select(lit("match").as("status"), col("n"))
      try
        rowCounts.unionByName(skippedMatches)
          .groupBy("status").agg(sum("n").as("n"))
          .filter(col("n") > 0)
          .localCheckpoint(true)
      finally graft.util.LocalCkpt.release(sk)
    } finally { s.unpersist(false); t.unpersist(false); () }
  }
}
