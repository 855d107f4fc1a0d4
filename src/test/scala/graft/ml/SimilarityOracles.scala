package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative reference formulations the specs pin the native
  * [[Similarity]] expressions and probes against. Spec-only: none of
  * these runs on an engine path. */
object SimilarityOracles {

  /** Declarative reference formulation of [[Similarity.quantize]]. */
  def quantizeHof(a: Column): Column =
    transform(a, x => floor(x.cast("double") * Similarity.Scale).cast("long"))

  /** Declarative reference formulation of [[Similarity.dotQ]]. */
  def dotQHof(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Declarative reference formulation of [[Similarity.lshBucket]]. */
  def lshBucketHof(emb: Column, bits: Int, dims: Int): Column = {
    val q = quantizeHof(emb)
    val signs = Similarity.signMatrix(bits, dims)
    (0 until bits).map { h =>
      val s = typedLit(signs(h))
      val dot = aggregate(
        zip_with(q, sequence(lit(1), size(emb)), (xq, i) => element_at(s, i) * xq),
        lit(0L), (acc, v) => acc + v)
      when(dot > 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** [[Similarity.vecRejectedIds]] built from a raw batch — the same
    * [[Similarity.vecProbeFrame]] projection as
    * [[Similarity.vecNewStaged]], left LAZY end-to-end so nothing is
    * pinned to executor storage (the list-collect re-runs the narrow
    * projection, which a spec can afford). */
  def vecRejectedFrame(batch: DataFrame, idCol: String, embCol: String,
      dir: String, minCosPermille: Int = 900, nprobe: Int = 4): DataFrame = {
    val h = Similarity.openIvfFlat(batch.sparkSession, dir)
    val nn = Similarity.vecAdmissible(batch, embCol)
    Similarity.vecRejectedIds(
      Similarity.vecProbeFrame(nn, idCol, embCol, h.cents, nprobe),
      idCol, nn.schema(idCol), h.vecsPath, minCosPermille,
      forceBroadcast = true, vecsSchema = h.mf.layoutSchema("vecs"))
  }
}
