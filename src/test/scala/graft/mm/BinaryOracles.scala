package graft.mm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative twins the specs pin the native binary operators against —
  * the formulations the DuckDB oracles mirror. Spec-only. */
object BinaryOracles {

  /** Declarative twin of [[BinaryOps.cdcBoundariesCol]] — the
    * SQL-engine-portable formulation the DuckDB oracle mirrors, and the
    * equivalence anchor for the native expression (BinaryOpsSpec pins
    * them equal). Pays an interpreted lambda + hex compare per byte. */
  def cdcBoundariesDeclarative(bin: Column, window: Int = 8,
      maskHexChars: Int = 1): Column = {
    val zeros = lit("0" * maskHexChars)
    val len = length(bin)
    when(len >= window,
      filter(
        transform(sequence(lit(window), len),
          i => when(substring(md5(bin.substr(i - lit(window) + 1, lit(window))),
            1, maskHexChars) === zeros, i)),
        x => x.isNotNull))
      // shorter-than-window → no boundaries; NULL payload → NULL
      // (matching the native expression's null propagation)
      .when(bin.isNotNull, array().cast("array<int>"))
  }
}
