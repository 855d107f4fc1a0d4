package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative twins the specs pin the native text operators against —
  * the formulations the DuckDB oracles mirror. Spec-only. */
object TextOracles {

  /** Declarative explode×bits formulation of [[TextFunctions.simhash]]
    * (the shape any SQL oracle implements). */
  def simhashExploded(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val bits = TextFunctions.SimhashBits
    val toks = df.select(col(idCol), explode(TextFunctions.whitespaceTokens(text)).as("tok"))
      .withColumn("h4", substring(md5(col("tok")), 1, bits / 4))
      .select(col(idCol), col("h4"), explode(sequence(lit(0), lit(bits - 1))).as("j"))
      .withColumn("bit", expr(
        "shiftright(instr('0123456789abcdef', substr(h4, 1 + CAST(floor(j/4) AS INT), 1)) - 1," +
          " 3 - j % 4) & 1"))
    toks.groupBy(col(idCol), col("j"))
      .agg(sum("bit").as("ones"), count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg(sum(expr("IF(2 * ones > n, shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))"))
        .cast("long").as("simhash"))
  }

  /** Declarative twin of [[Substrings.winnowRows]] — the bounded
    * nearest-smaller-rank formulation the DuckDB oracle mirrors
    * (rank = (h, p); a position is selected iff some full window of G
    * consecutive positions has it as rank-min; a document shorter than
    * one window selects its overall rank-min). O(L·G) join rows. */
  def winnowRowsDeclarative(df: DataFrame, idCol: String, text: Column,
      k: Int, guarantee: Int, maxChars: Int = 0): DataFrame = {
    val G = guarantee - k + 1
    val g = Substrings.gramRowsDeclarative(df, idCol, text, k, maxChars)
      .withColumn("__L", count(lit(1)).over(Window.partitionBy(col(idCol))))
    val a = g.select(col(idCol).as("__id"), col("p").as("__pa"),
      col("h").as("__ha"), col("__L"))
    val b = g.select(col(idCol).as("__idb"), col("p").as("__pb"), col("h").as("__hb"))
    a.join(b,
        col("__idb") === col("__id") &&
          col("__pb").between(col("__pa") - (G - 1), col("__pa") + (G - 1)) &&
          col("__pb") =!= col("__pa") &&
          (col("__hb") < col("__ha") ||
            (col("__hb") === col("__ha") && col("__pb") < col("__pa"))),
        "left")
      .groupBy(col("__id"), col("__pa"), col("__ha"), col("__L"))
      .agg(max(when(col("__pb") < col("__pa"), col("__pb"))).as("__qstar"),
        min(when(col("__pb") > col("__pa"), col("__pb"))).as("__rstar"))
      .filter(
        greatest(lit(1), coalesce(col("__qstar"), lit(0)) + 1, col("__pa") - (G - 1))
          <= least(col("__pa"), greatest(col("__L") - (G - 1), lit(1)),
            coalesce(col("__rstar"), col("__L") + G) - G))
      .select(col("__id").as(idCol), col("__pa").as("p"), col("__ha").as("h"))
  }
}
