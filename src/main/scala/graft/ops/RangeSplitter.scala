package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range splitting — X1, the reference's core physical operator
  * (splitter.go:51-108): walk the sorted `_id` key and emit one task per
  * `block` (default 10 000) docs with `[first,last]` bounds plus a count.
  *
  * Spark stance (SURVEY §4): partitioned reads make the task queue
  * disappear, so the splitter survives as (a) an explicit
  * boundary-computation utility for non-splittable sources (a Mongo
  * connector partitioner would consume these bounds) and (b) a
  * repartitioner for co-locating downstream per-key work.
  *
  * Two bound strategies:
  *  - [[exactBounds]] — window walk, exactly the reference's semantics
  *    (block-sized, count-accurate). One global sort: fine for metadata
  *    sizing and for the correctness oracle; NOT the 100 TB path.
  *  - [[repartitionByKeyRange]] — Spark's `repartitionByRange`, whose
  *    RangePartitioner computes bounds by reservoir SAMPLING (no global
  *    sort) — the scale path, equivalent to the reference's goal
  *    (balanced disjoint key ranges) at a fraction of the cost.
  */
object RangeSplitter {

  /** Exact per-block ranges: one row per task with (task_seq, id_first,
    * id_last, source_count) — mirrors splitter.go:76-102 including the
    * short tail block.
    *
    * Scale-safe two-level plan (no global sort, no single-partition
    * window): range-partition the key column, count rows per partition
    * (tiny collect), turn the counts into exclusive prefix-sum offsets,
    * then run a PARTITIONED window (`partitionBy(__pid)`) whose local row
    * number plus the partition offset is the exact global row number.
    * Both jobs read the same persisted partitioning — RangePartitioner
    * samples with an rdd-id-dependent seed, so recomputing it between
    * jobs could shift bounds and corrupt the offsets.
    *
    * Duplicate keys may order arbitrarily within a partition, but block
    * membership is multiset-determined, so min/max/count per block are
    * deterministic either way.
    *
    * `sortKey` overrides the ordering expression. When omitted the
    * ordering DEFAULTS to [[BsonKey.defaultOrder]]: a string key column
    * is a doc-store canonical-JSON `_id` in every graft catalog, so it
    * gets BSON cross-type order automatically — mixed int/string/
    * ObjectId namespaces split correctly without the caller knowing to
    * ask (the reference orders mixed keys always; server semantics).
    * Non-string keys keep their natural column order. Bounds still
    * report the original key values (min_by/max_by under the override
    * ordering). */
  def exactBounds(df: DataFrame, key: String, block: Int,
      numPartitions: Int = 0, sortKey: Option[Column] = None): DataFrame = {
    require(block > 0, "block must be positive")
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ordExpr = sortKey.getOrElse(BsonKey.defaultOrder(df, key))
    val keyed = df.select(col(key), ordExpr.as("__ord"))
      .repartitionByRange(n, col("__ord"))
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = keyed.groupBy("__pid").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      val offsets: Map[Int, Long] =
        counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2)).toMap
      val offset = coalesce(element_at(typedLit(offsets), col("__pid")), lit(0L))
      val w = Window.partitionBy("__pid").orderBy(col("__ord"))
      val res = keyed
        .withColumn("rn", row_number().over(w).cast("long") - 1L + offset)
        .groupBy((col("rn") / block).cast("long").as("task_seq"))
        .agg(
          min_by(col(key), col("__ord")).as("id_first"),
          max_by(col(key), col("__ord")).as("id_last"),
          count(lit(1)).as("source_count"))
        .orderBy("task_seq")
      // materialize the (tiny) result on the DRIVER so the cache can be
      // released now: a localCheckpoint would leave the only copy on
      // executors, unrecoverable after executor loss; a collected task
      // list is exactly what the downstream partitioner consumes anyway
      val rows = res.collect()
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), res.schema)
    } finally { keyed.unpersist(false); () }
  }

  /** The scale path: hand the DataFrame back partitioned into
    * ceil(count/block)-ish balanced key ranges via sampling — disjoint
    * ranges, no global sort, no driver collect. `numTasks` must be
    * computed by the caller (e.g. from a cheap `df.count()` or source
    * statistics). */
  def repartitionByKeyRange(df: DataFrame, key: String, numTasks: Int): DataFrame =
    df.repartitionByRange(math.max(numTasks, 1), col(key))
}
