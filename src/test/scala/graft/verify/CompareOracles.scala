package graft.verify

import graft.ops.BsonKey
import org.apache.spark.sql.DataFrame

/** Spec-only comparator forms: the aggregated verdict and the closed
  * `[first, last]` chunk diff the engine's [[Compare]] variants are
  * pinned against. */
object CompareOracles {
  import Compare.{CompareSummary, diff, rangeBound}

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
}
