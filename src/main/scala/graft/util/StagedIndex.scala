package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The shared lifecycle of every staged index kind — gram census
  * ([[graft.text.Substrings]]), BM25 ([[graft.text.Retrieval]]),
  * IVF-PQ ([[graft.ml.Similarity]]), minhash bands
  * ([[graft.text.Dedup]]). Each kind owns its layouts and derivations;
  * what they must NOT each own is the lifecycle's safety protocol,
  * because four hand-rolled copies is four chances for the semantics
  * to drift:
  *
  *  - '''stage''' is invalidate-FIRST / manifest-LAST ([[stage]]): a
  *    restage that dies mid-rewrite leaves NO manifest, so probes fail
  *    loudly instead of validating a half-written layout;
  *  - '''append''' enforces the new-ids contract BEFORE anything is
  *    written ([[requireNewIds]]): a repeated id corrupts every kind's
  *    aggregate invariants (split tf rows, duplicated codes, a
  *    double-counted bucket census), so the refusal is uniform and the
  *    kind supplies only its consequence sentence;
  *  - '''compact''' is validate + one [[DirCommit]] per sublayout +
  *    a manifest count refresh ([[compact]]); the old and new layouts
  *    are probe-identical, so the manifest stays valid throughout. A
  *    swap a crash interrupted is finished or undone by the next
  *    [[IndexManifest.validate]] when it was sealed or left a layout
  *    missing, and by the next compaction's commit otherwise.
  */
object StagedIndex {

  /** One sublayout of a staged index under the index root: its
    * directory name, the parquet partition column (None =
    * unpartitioned), and the compaction rule rewriting the read frame
    * into its consolidated form — identity-shaped for pure file
    * consolidation (immutable per-row facts: codes, bands), an
    * aggregation for kinds whose appends accumulate rows readers sum
    * (census `n`, BM25 `df`). The rule may attach an `observe` to ride
    * the count refresh on the rewrite itself. */
  final case class Layout(name: String, partitionCol: Option[String],
      consolidate: DataFrame => DataFrame = identity)

  /** Stage bracket. `body` writes the sublayouts and returns the
    * manifest counts; the manifest is dropped before the first byte
    * and written after the last, so every crash window reads as "not
    * a graft index — restage to recover". */
  def stage(spark: SparkSession, dir: String, kind: String,
      params: Map[String, String])(body: => Map[String, Long]): Unit = {
    IndexManifest.invalidate(spark, dir)
    // the writer gate over every layout first: a sealed staging left by
    // an earlier compaction must not roll forward over this stage's
    // layout
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) DirCommit.recoverUnder(fs, root)
    val counts = body
    IndexManifest.write(spark, dir, kind, params, counts)
  }

  /** The `schema.<name>` manifest param recording sublayout `name`'s
    * READ schema (the as-written frame's schema, partition column
    * included), consumed by [[IndexManifest.layoutSchema]] so probes
    * never pay a parquet schema-inference job on the layout. Every
    * field is recorded NULLABLE (recursively): parquet read-back always
    * reports nullable fields, and id-side sublayouts legitimately carry
    * null columns the compaction rewrites away — a superset schema over
    * post-compaction files reads the dropped columns back as nulls,
    * which is exactly what the pre-compaction files held on those
    * rows. */
  def schemaParam(name: String, df: DataFrame): (String, String) = {
    import org.apache.spark.sql.types._
    def asNullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    s"schema.$name" ->
      asNullable(df.schema).asInstanceOf[StructType].toDDL
  }

  /** The enforced new-ids contract shared by every id-carrying staged
    * kind: `seenIds` is the kind's probe of already-indexed batch ids
    * (its cheapest id-holding frame — BM25's `dl`, IVF-PQ's codes ids,
    * the band index's pruned `ids/`), and ANY hit refuses the whole
    * append before anything is written. `consequence` names what a
    * re-appended id would silently corrupt; `restage` names the
    * explicit re-ingest verb. */
  def requireNewIds(seenIds: DataFrame, verb: String, dir: String,
      consequence: String, restage: String): Unit = {
    val seen = seenIds.limit(5).collect().map(_.get(0))
    require(seen.isEmpty,
      s"$verb($dir): batch contains already-indexed ids (e.g. " +
        s"${seen.mkString(", ")}) — $consequence Re-ingest is an " +
        s"explicit restage ($restage); pass assumeNewIds=true only if " +
        "disjointness is proven upstream.")
  }

  /** Read a staged sublayout that may be legitimately EMPTY (an index
    * staged over a corpus where nothing signed): with data present the
    * read uses `dataSchema` when the caller supplies one (the
    * manifest-recorded STAGED schema, [[IndexManifest.layoutSchema]] —
    * no parquet footer schema-inference job; a probing batch whose id
    * type differs from the staged type still matches through the
    * join's implicit cast, exactly as it did under inference) and
    * INFERS otherwise (the historical behavior, kept for layouts whose
    * manifest predates the schema params); only a layout with no data
    * files falls back to `emptySchema` (schema inference has nothing
    * to infer there and would throw; the layout must read as "no rows
    * seen" instead). The check recurses into partition directories
    * until it finds a real FILE: a crash between a partition-dir mkdir
    * and the first file move leaves dirs with zero data files, which
    * must read as empty, not route to schema inference and throw. The
    * listing is driver-side RPCs, bounded by the crash-window dir
    * count (steady state: one listing). */
  def readLayout(spark: SparkSession, path: String,
      emptySchema: org.apache.spark.sql.types.StructType,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasDataFile(d: Path): Boolean =
      fs.listStatus(d).exists { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          (if (s.isDirectory) hasDataFile(s.getPath) else true)
      }
    if (fs.exists(p) && hasDataFile(p)) readParquet(spark, dataSchema, path)
    else spark.read.schema(emptySchema).parquet(path)
  }

  /** Read a staged layout with its manifest-recorded schema
    * ([[IndexManifest.layoutSchema]]): no parquet footer
    * schema-inference job, no listing. `None` (an index staged before
    * the schema params existed) infers, the historical behavior. */
  def readParquet(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType], path: String): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path)

  /** Compact bracket: validate (see class doc), commit each sublayout
    * ([[DirCommit]]) through its consolidation with ONE file per
    * partition restored, then refresh the manifest counts. `layouts` and `counts` both take the
    * pre-compaction manifest (layout shapes may depend on frozen
    * params like the id column; counts evaluate AFTER the rewrites,
    * so Observation-riding counts are bound). Returns the manifest
    * for kinds that refresh ancillary stats frames from its params. */
  def compact(spark: SparkSession, dir: String, kind: String,
      overlap: Boolean = false)
      (layouts: IndexManifest => Seq[Layout])
      (counts: IndexManifest => Map[String, Long]): IndexManifest = {
    val mf = IndexManifest.validate(spark, dir, kind)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rewrite(l: Layout): Unit =
      DirCommit.run(fs, new Path(dir, l.name)) { st =>
        val consolidated =
          l.consolidate(readParquet(spark, mf.layoutSchema(l.name), s"$dir/${l.name}"))
        l.partitionCol match {
          case Some(pc) => consolidated
            .repartition(col(pc)) // one file per partition
            .write.mode("overwrite").partitionBy(pc).parquet(st.toString)
          case None => consolidated.write.mode("overwrite").parquet(st.toString)
        }
        DirCommit.Staged(())
      }
    // `overlap` runs the sublayout rewrites as concurrent actions
    // (guide §2.6: back-to-back driver-committed jobs leave task slots
    // idle in each other's tails). ONLY for kinds whose rewrites are
    // INDEPENDENT (band index bands∥ids, BM25 postings∥df∥dl): each
    // commit's staging/aside is namespaced by its layout name, so
    // concurrent commits never touch the same paths, and the crash
    // contract is unchanged — any subset of layouts swapped is the
    // same valid mixed-compaction state the sequential order could
    // leave. Kinds whose LATER layout consumes an Observation bound by
    // an EARLIER one (census stats) must keep the sequential default.
    val ls = layouts(mf)
    if (overlap && ls.size > 1) Par.run(ls.map(l => () => rewrite(l)): _*)
    else ls.foreach(rewrite)
    IndexManifest.write(spark, dir, kind, mf.params, counts(mf))
    mf
  }
}
