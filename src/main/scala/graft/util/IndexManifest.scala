package graft.util

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one manifest contract every staged index shares.
  *
  * `stageBm25` (postings/df/dl), `stageGramCensus` (gram census), and
  * `stageIvfPq` (PQ codes) each materialize a partitioned parquet
  * layout plus their own kind-specific `stats/` or `meta/` frame.
  * Those frames stay authoritative for the QUERY path (they are read
  * distributed, next to the data they describe); the manifest adds the
  * uniform layer the frames can't: a single `_graft_index.json` at the
  * index root that says WHAT this directory is (kind + format version),
  * HOW it was built (the probe-relevant parameters — bucket counts,
  * gram width, PQ geometry), and how big it was at staging time — so
  *
  *  - `-index` can list/validate ANY index directory without knowing
  *    its kind in advance;
  *  - every append/probe entry point can fail LOUDLY on a
  *    wrong-kind/wrong-params directory (probing a BM25 layout as a
  *    gram census would otherwise surface as an opaque schema error —
  *    or worse, silently wrong results if schemas ever coincide);
  *  - a future layout change bumps `version` and old readers refuse
  *    cleanly instead of misreading.
  *
  * One tiny JSON file, written once per stage (appends leave it in
  * place — the params are the immutable contract; counts describe the
  * last full stage, the `appendGramCensus` discipline).
  */
final case class IndexManifest(kind: String, version: Int,
    params: Map[String, String], counts: Map[String, Long],
    stagedAtMs: Long) {

  /** params as typed accessors for probe code. */
  def paramInt(name: String): Int = params.get(name) match {
    case Some(v) => v.toInt
    case None => throw new IllegalArgumentException(
      s"index manifest ($kind) has no param '$name' — " +
        s"present: ${params.keys.toSeq.sorted.mkString(", ")}")
  }

  /** The explicit READ schema of sublayout `name`, when the stager
    * recorded one (params key `schema.<name>`, written by
    * [[StagedIndex.schemaParam]]; generation dirs like `codes.g3`
    * resolve through their base name — a recluster re-encodes the same
    * shape). Readers pass it to `spark.read.schema(...)` so the
    * per-probe parquet footer schema-INFERENCE job disappears — a tiny
    * job per staged re-read locally, a real metadata hotspot at 100 TB
    * file counts (guide §6). `None` (an index staged before the schema
    * params existed) falls back to inference, the historical
    * behavior. */
  def layoutSchema(name: String): Option[org.apache.spark.sql.types.StructType] = {
    val base = name.replaceAll("""\.g\d+$""", "")
    params.get(s"schema.$base")
      .map(org.apache.spark.sql.types.StructType.fromDDL)
  }
}

object IndexManifest {
  val FileName = "_graft_index.json"
  val CurrentVersion = 1

  val KindBm25 = "bm25"
  val KindGramCensus = "gram_census"
  val KindIvfPq = "ivf_pq"
  val KindIvfFlat = "ivf_flat"
  val KindMinhashBands = "minhash_bands"
  val KindFingerprints = "fingerprints"

  /** Drop the manifest of `dir` if one exists. Stagers call this FIRST,
    * before touching the layout: a restage that dies mid-rewrite then
    * leaves NO manifest (probes fail loudly with "not a graft index")
    * instead of a stale one that validates the wrong layout. */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    val path = new Path(dir, FileName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) { fs.delete(path, false); () }
  }

    /** Write the manifest of an index rooted at `dir` — the stager's
    * LAST step. Written to a temp name and renamed into place, so a
    * reader never sees a HALF-WRITTEN file. The rename is tried FIRST
    * (POSIX rename overwrites atomically — a concurrent reader sees
    * the old manifest or the new one, never none: the property
    * [[graft.ml.Similarity.reclusterIvfFlat]]'s reader-atomic
    * generation flip rides on); only on filesystems whose rename
    * refuses to overwrite (HDFS semantics) does the existing manifest
    * get deleted first, re-opening a brief no-manifest window —
    * acceptable under the single-writer staging discipline. A write
    * that still fails cleans up its temp file and leaves no manifest —
    * the same loud "not a graft index" state an interrupted restage
    * leaves. */
  def write(spark: SparkSession, dir: String, kind: String,
      params: Map[String, String], counts: Map[String, Long]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("kind", kind)
    root.put("version", CurrentVersion)
    val p = root.putObject("params")
    params.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v); () }
    val c = root.putObject("counts")
    counts.toSeq.sortBy(_._1).foreach { case (k, v) => c.put(k, v); () }
    root.put("staged_at_ms", System.currentTimeMillis())
    val path = new Path(dir, FileName)
    val tmp = new Path(dir, FileName + ".tmp")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(m.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
    if (!fs.rename(tmp, path)) { // POSIX: atomic overwrite
      // HDFS-semantics fallback: rename refuses to overwrite
      if (fs.exists(path)) { fs.delete(path, false); () }
      if (!fs.rename(tmp, path)) {
        fs.delete(tmp, false) // don't strand a stale .tmp next to no manifest
        throw new IllegalStateException(s"could not move $tmp into place")
      }
    }
  }

  /** Read the manifest of an index rooted at `dir`; loud errors on a
    * missing/corrupt file or an unsupported format version. */
  def read(spark: SparkSession, dir: String): IndexManifest = {
    val path = new Path(dir, FileName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path),
      s"$dir is not a graft index (no $FileName) — was it staged by " +
        "stageBm25 / stageGramCensus / stageIvfPq? (an interrupted " +
        "restage also removes the manifest: restage to recover)")
    val in = fs.open(path)
    val node = try new ObjectMapper().readTree(in)
      catch {
        case e: java.io.IOException => throw new IllegalArgumentException(
          s"$path is not parseable JSON (${e.getMessage}) — restage the index", e)
      } finally in.close()
    require(node != null && node.isObject, s"$path is not a JSON object")
    def obj(f: String): ObjectNode = node.path(f) match {
      case o: ObjectNode => o
      case _ => new ObjectMapper().createObjectNode()
    }
    val mf = IndexManifest(
      kind = node.path("kind").asText(""),
      version = node.path("version").asInt(-1),
      params = obj("params").fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap,
      counts = obj("counts").fields().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap,
      stagedAtMs = node.path("staged_at_ms").asLong(0L))
    require(mf.kind.nonEmpty, s"$path has no index kind")
    require(mf.version == CurrentVersion,
      s"$dir has index format version ${mf.version}; this engine reads " +
        s"version $CurrentVersion — restage it")
    mf
  }

  /** Read + check kind and any expected params — every append, probe
    * and compaction calls this before touching the layout, so a
    * mismatched directory fails with WHAT is wrong, not a downstream
    * schema error. It also passes the index root through
    * [[DirCommit.settleUnder]] (one listing): a commit a crash left
    * sealed, or with a layout missing, is finished or undone, so what
    * follows reads a complete layout, while a staging that may be a
    * compaction running in another process is left alone. */
  def validate(spark: SparkSession, dir: String, kind: String,
      expect: Map[String, String] = Map.empty): IndexManifest = {
    val mf = read(spark, dir)
    require(mf.kind == kind,
      s"$dir is a '${mf.kind}' index, not '$kind'")
    val root = new Path(dir)
    DirCommit.settleUnder(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    val bad = expect.filter { case (k, v) => !mf.params.get(k).contains(v) }
    require(bad.isEmpty,
      s"$dir ($kind) params mismatch: expected " +
        bad.toSeq.sorted.map { case (k, v) =>
          s"$k=$v (staged: ${mf.params.getOrElse(k, "<absent>")})"
        }.mkString(", "))
    mf
  }

  /** One printable line per manifest — the `-index` list surface. */
  def describe(mf: IndexManifest): String = {
    def kv[A](m: Map[String, A]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
    s"kind=${mf.kind} version=${mf.version} ${kv(mf.params)} ${kv(mf.counts)}" +
      s" staged_at_ms=${mf.stagedAtMs}"
  }
}
