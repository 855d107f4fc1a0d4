package graft.streaming

import graft.ml.Similarity
import graft.text.{Dedup, Retrieval, Substrings}
import graft.util.IndexManifest
import graft.util.IndexManifest._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The staged-kind table: one entry per [[IndexManifest]] kind, the
  * single place that maps a manifest's `kind` to its verbs. Every
  * kind-agnostic call site — `-index` compact/describe/ingest/recluster,
  * [[DocStream.ingestStream]], [[Similarity.reapIvfGrace]] and
  * [[Similarity.listSkew]] — looks the kind up here instead of matching
  * on it, so a new kind touches this table and nothing else. */
object StagedKinds {

  /** Opens a kind's streamed append ONCE per stream — (spark, index
    * dir, id column, value column, assumeNewIds) → the per-micro-batch
    * append. Kinds with an index handle (the census) open it here, so
    * no batch pays a manifest read. The value column is the text
    * (bm25 / census / bands / fingerprints) or the embedding (IVF). */
  type Appender = (SparkSession, String, String, String, Boolean) => DataFrame => Unit

  /** The generation layout of an IVF kind: the base data-layout name
    * (`vecs` / `codes`), the live (data, meta) dir names under a
    * manifest, and the kind's recluster verb (spark, dir, iters). */
  final case class Ivf(base: String, live: IndexManifest => (String, String),
      recluster: (SparkSession, String, Int) => Unit)

  final case class Entry(kind: String, append: Appender,
      compact: (SparkSession, String) => Unit, ivf: Option[Ivf] = None)

  val all: Seq[Entry] = Seq(
    Entry(KindGramCensus,
      (spark, dir, id, value, _) => {
        val idx = Substrings.openIndex(spark, dir)
        b => Substrings.appendToIndex(b, id, col(value), idx, maxChars = 0)
      },
      Substrings.compactCensus),
    Entry(KindBm25,
      (_, dir, id, value, assumeNewIds) =>
        b => Retrieval.appendBm25(b, id, col(value), dir, assumeNewIds),
      Retrieval.compactBm25),
    Entry(KindIvfPq,
      (_, dir, id, value, assumeNewIds) =>
        b => Similarity.appendIvfPq(b, id, value, dir, assumeNewIds),
      Similarity.compactIvfPq,
      Some(Ivf("codes", Similarity.ivfPqNames, Similarity.reclusterIvfPq))),
    Entry(KindIvfFlat,
      (_, dir, id, value, assumeNewIds) =>
        b => Similarity.appendIvfFlat(b, id, value, dir, assumeNewIds),
      Similarity.compactIvfFlat,
      Some(Ivf("vecs", Similarity.ivfFlatNames, Similarity.reclusterIvfFlat))),
    Entry(KindMinhashBands,
      (_, dir, id, value, assumeNewIds) =>
        b => Dedup.appendBandIndex(b, id, col(value), dir, assumeNewIds),
      Dedup.compactBandIndex),
    Entry(KindFingerprints,
      (_, dir, _, value, _) => b => Dedup.appendFingerprints(b, col(value), dir),
      Dedup.compactFingerprints))

  private val byKind = all.map(e => e.kind -> e).toMap

  /** The entry of a manifest's kind; an unknown kind fails loudly. */
  def of(mf: IndexManifest): Entry = byKind.getOrElse(mf.kind,
    throw new IllegalArgumentException(s"unknown index kind '${mf.kind}'"))

  /** The entry of the index staged at `dir` (one manifest read). */
  def at(spark: SparkSession, dir: String): Entry = of(IndexManifest.read(spark, dir))
}
