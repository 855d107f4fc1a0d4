package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.DirCommit

/** Source/Sink/Catalog SPI (SURVEY §7.1-2).
  *
  * The reference discovers namespaces from a live MongoDB catalog
  * (GetQualifiedDBs/GetQualifiedNamespaces — mongo_utils.go:18-63, S5/S6)
  * and reads/writes through collection handles. Our engine abstracts that
  * behind this trait so the whole pipeline is connector-agnostic: the
  * parquet implementation below serves the test harness, and a MongoDB
  * Spark connector implementation is a thin adapter (same contract)
  * added when the connector jar is available.
  */
trait Catalog {
  /** Qualified namespaces (`db.coll`), system namespaces excluded —
    * reference filter: skip `system.*` except `system.js`, skip views
    * (mongo_utils.go:36-63, P5). */
  def listNamespaces(): Seq[String]

  /** Batch scan of one namespace — S1's source side. */
  def read(ns: String): DataFrame

  /** Append/overwrite write — K1's sink side. */
  def write(ns: String, df: DataFrame, mode: String = "overwrite"): Unit

  /** Idempotent upsert on the primary key: replay-safe like the
    * reference's dup-key-tolerant batchedCopy (task.go:83-105, K1).
    * Returns the post-upsert row count. */
  def upsert(ns: String, df: DataFrame, key: String): Long

  /** Atomic upsert+delete in ONE table commit — the sink side of the
    * oplog bulk apply (K2, BulkWriteOplogs oplog_utils.go:88-205).
    * `deletes` carries the keys to remove (column named `key`).
    * `marker`, when given, is a (name, value) recorded atomically WITH
    * the data commit — the K5/ST4 checkpoint analog
    * (SaveOplogTimestamp, workspace.go:276-288): a replayed micro-batch
    * can check [[readMarker]] and skip, making the streaming apply
    * exactly-once even though delivery is at-least-once.
    * Returns the post-merge row count. */
  def merge(ns: String, upserts: DataFrame, deletes: DataFrame, key: String,
      marker: Option[(String, String)] = None): Long

  /** Read back a marker recorded by [[merge]]; None if absent. */
  def readMarker(ns: String, name: String): Option[String]

  /** Primary-key ("_id") column for a namespace. */
  def keyOf(ns: String): String

  /** Drop a namespace — D5 analog. */
  def drop(ns: String): Unit

  /** Reference DoesDataExist guard (config_copier.go:114-130, D6). */
  def dataExists(ns: String): Boolean

  /** Filesystem path of one namespace's table — for callers that must
    * address the table's directory directly (e.g. tailing it as a file
    * stream), so layout knowledge (flat vs per-db subdirectory) stays
    * inside the catalog. */
  def tablePath(ns: String): String
}

/** Filesystem/parquet Catalog: one directory per "database", one
  * `<coll>.parquet` dir per collection.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] API
  * resolved from the directory URI, so the same code serves local disk,
  * HDFS, and S3A — the filesystems a 100 TB deployment actually uses.
  * (On S3A, rename is copy-not-atomic — deployments there swap this
  * implementation for a real table format — Delta/Iceberg MERGE —
  * behind the same trait.)
  *
  * == Bucketed incremental merge (`buckets` > 0) ==
  *
  * With `buckets = B`, a merged table lives as B hash-bucket partition
  * subdirectories (`graft_bucket=pmod(xxhash64(key), B)`); [[merge]]
  * rewrites ONLY the buckets containing touched keys — data I/O is
  * proportional to the batch, not the table, which is what makes a
  * streaming apply against a 100 TB table affordable (the reference's
  * per-document apply economics, oplog_utils.go:88-205). Untouched
  * bucket directories are carried into each new table version by
  * metadata-only renames. Reads prune to bucket subdirs via ordinary
  * partition pruning. Size B so one bucket ≈ one comfortable task
  * (e.g. 100 TB / 256 MB ≈ 4·10⁵ buckets).
  *
  * == Commit ==
  *
  * Every merge publishes through [[graft.util.DirCommit]]: the merged
  * data, the marker and the `_graft_count` file are staged, sealed and
  * published together (untouched buckets carried by rename). A merge
  * enters through the writer gate, which recovers any interrupted
  * commit; [[read]], [[readMarker]] and [[dataExists]] pass the reader
  * gate, which finishes a commit only on proof that it is not still
  * being written, so a reader in another process (a `-compare` beside a
  * running apply) never deletes a merge's staging. A crash anywhere
  * leaves the table either fully pre-merge (marker absent ⇒ the
  * micro-batch replays) or fully post-merge (marker present ⇒ the replay
  * is skipped): exactly-once either way. Single writer per table
  * assumed (the migrator owns its target), as in the reference. */
final class ParquetCatalog(
    val spark: SparkSession,
    val dir: String,
    val db: String = "local",
    keys: Map[String, String] = Map.empty,
    val buckets: Int = 0) extends Catalog {

  import ParquetCatalog._

  private val root = new Path(dir)
  private def fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def table(ns: String): String =
    if (ns.contains('.')) ns.substring(ns.indexOf('.') + 1) else ns

  private def path(ns: String): Path = new Path(root, s"${table(ns)}.parquet")
  private def settle(ns: String): Unit = DirCommit.settle(fs, path(ns))

  override def listNamespaces(): Seq[String] = {
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(n => s"$db.${n.stripSuffix(".parquet")}")
      .filterNot(ns => table(ns).startsWith("system.") && table(ns) != "system.js")
      .sorted
  }

  override def tablePath(ns: String): String = path(ns).toString

  override def read(ns: String): DataFrame = { settle(ns); scan(ns) }

  /** [[read]] without the reader gate, for a merge past its writer gate. */
  private def scan(ns: String): DataFrame = {
    val df = spark.read.parquet(path(ns).toString)
    // a bucketed table surfaces its partition column; the read contract
    // is the logical schema
    if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
  }

  override def write(ns: String, df: DataFrame, mode: String): Unit =
    df.write.mode(mode).parquet(path(ns).toString)

  override def upsert(ns: String, df: DataFrame, key: String): Long =
    merge(ns, df, df.select(col(key)).limit(0), key)

  /** Parquet has no server-side merge; equivalent semantics via anti-join
    * rewrite: keep existing rows whose key is in NEITHER the upsert batch
    * NOR the delete set, union the upserts (new wins), publish through
    * the crash-safe commit protocol (class doc). With `buckets` > 0 only
    * the touched buckets are read (partition pruning) and rewritten.
    * Counts come from `observe()` on the executed plans — no second scan
    * of the written table; the bucketed path tracks the table total
    * incrementally in a `_graft_count` metadata file. */
  override def merge(ns: String, upserts: DataFrame, deletes: DataFrame, key: String,
      marker: Option[(String, String)] = None): Long =
    DirCommit.run(fs, path(ns)) { st =>
      val (n, touched) =
        if (buckets > 0) mergeBucketed(ns, st, upserts, deletes, key)
        else (mergePlain(ns, st, upserts, deletes, key), None)
      val meta = marker.map { case (name, value) => s"_graft_$name" -> value }.toSeq :+
        (CountFile -> n.toString)
      DirCommit.Staged(n, meta, touched)
    }

  private def mergePlain(ns: String, st: Path, upserts: DataFrame, deletes: DataFrame,
      key: String): Long = {
    val touched = upserts.select(col(key)).unionByName(deletes.select(col(key))).distinct()
    val merged =
      if (!present(ns)) upserts
      else scan(ns).join(touched, Seq(key), "left_anti")
        .unionByName(upserts, allowMissingColumns = true)
    val obs = Observation()
    merged.observe(obs, count(lit(1)).as("rows"))
      // task-local sort (no exchange): key-ordered files give parquet
      // row-group min/max stats that prune point and range reads
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(st.toString)
    obs.get("rows").asInstanceOf[Long]
  }

  /** The new total and the rewritten bucket ids (None: full write). */
  private def mergeBucketed(ns: String, st: Path, upserts: DataFrame, deletes: DataFrame,
      key: String): (Long, Option[Set[String]]) = {
    val p = path(ns)
    val bucketOf = pmod(xxhash64(col(key)), lit(buckets.toLong)).cast("int")
    val exists = present(ns)
    val bucketedLayout = exists && fs.listStatus(p)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith(BucketCol + "="))
    val up = upserts.withColumn(BucketCol, bucketOf)
    val touchedKeys = upserts.select(col(key))
      .unionByName(deletes.select(col(key))).distinct().persist()
    try {
      val curObs = Observation()
      val mergedObs = Observation()
      // incremental only against an already-bucketed table; a plain table
      // (or a fresh one) takes one full write into the bucketed layout
      val (current, touchedList) =
        if (!exists) (None, None)
        else if (!bucketedLayout)
          (Some(spark.read.parquet(p.toString).withColumn(BucketCol, bucketOf)), None)
        else {
          val tb = touchedKeys.select(bucketOf.as(BucketCol)).distinct()
            .collect().map(_.getInt(0)).sorted
          val pruned = spark.read.parquet(p.toString)
            .filter(col(BucketCol).isin(tb.toIndexedSeq: _*))
          (Some(pruned), Some(tb.map(_.toString).toSet))
        }
      val merged = current match {
        case None => up
        case Some(cur) =>
          cur.observe(curObs, count(lit(1)).as("rows"))
            .join(touchedKeys, Seq(key), "left_anti")
            .unionByName(up, allowMissingColumns = true)
      }
      merged.observe(mergedObs, count(lit(1)).as("rows"))
        // task-local sort by (bucket, key) — no exchange. Two wins: the
        // partitionBy writer streams ONE open file per task instead of
        // one per bucket it touches (at B ≈ 4·10⁵ concurrent writers
        // would dominate executor memory), and key-ordered files carry
        // tight parquet row-group min/max stats for read-side pruning.
        .sortWithinPartitions(col(BucketCol), col(key))
        .write.mode("overwrite").partitionBy(BucketCol).parquet(st.toString)
      val newTouched = mergedObs.get("rows").asInstanceOf[Long]
      val total = touchedList match {
        case None => newTouched // full write: the observation IS the total
        case Some(_) =>
          val oldTouched = curObs.get("rows").asInstanceOf[Long]
          // pre-merge total: maintained incrementally; a bucketed table
          // without the metadata file (external writer) pays one scan
          val oldTotal = DirCommit.readFile(fs, new Path(p, CountFile)).map(_.toLong)
            .getOrElse(scan(ns).count())
          oldTotal - oldTouched + newTouched
      }
      (total, touchedList)
    } finally { touchedKeys.unpersist(false); () }
  }

  override def readMarker(ns: String, name: String): Option[String] = {
    settle(ns)
    DirCommit.readFile(fs, new Path(path(ns), s"_graft_$name"))
  }

  override def keyOf(ns: String): String =
    keys.getOrElse(table(ns), graft.Tables.keys.getOrElse(table(ns), "_id"))

  override def drop(ns: String): Unit = DirCommit.drop(fs, path(ns))

  override def dataExists(ns: String): Boolean = { settle(ns); present(ns) }

  private def present(ns: String): Boolean = {
    val p = path(ns)
    fs.exists(p) && (fs.getFileStatus(p).isFile || fs.listStatus(p).nonEmpty)
  }
}

object ParquetCatalog {
  /** Hash-bucket partition column. NOT underscore-prefixed: Spark's file
    * index treats `_`/`.`-prefixed paths as hidden, which would hide the
    * bucket partition dirs from every read. */
  val BucketCol = "graft_bucket"
  private val CountFile = "_graft_count"
}

/** Multi-database parquet catalog — S5's full shape: one subdirectory
  * per database under the root (`root/<db>/<coll>.parquet`), with the
  * reference's qualified-DB filter (GetQualifiedDBs excludes
  * `admin`/`config`/`local` and the meta database, mongo_utils.go:18-33).
  * Each database delegates to a per-db [[ParquetCatalog]], so all
  * read/write/merge semantics are identical. */
final class MultiDbParquetCatalog(
    val spark: SparkSession,
    val rootDir: String,
    metaDb: String = "graft_meta",
    buckets: Int = 0) extends Catalog {

  private val root = new Path(rootDir)
  private def fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val SystemDbs = Set("admin", "config", "local")

  /** S5 — qualified database names. */
  def listDatabases(): Seq[String] = {
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(db => SystemDbs.contains(db) || db == metaDb)
      .sorted
  }

  private def dbCatalog(db: String): ParquetCatalog =
    new ParquetCatalog(spark, s"$rootDir/$db", db, buckets = buckets)

  private def forNs(ns: String): ParquetCatalog =
    dbCatalog(graft.config.Namespaces.split(ns)._1)

  override def listNamespaces(): Seq[String] =
    listDatabases().flatMap(db => dbCatalog(db).listNamespaces())

  override def read(ns: String): DataFrame = forNs(ns).read(ns)
  override def write(ns: String, df: DataFrame, mode: String): Unit =
    forNs(ns).write(ns, df, mode)
  override def upsert(ns: String, df: DataFrame, key: String): Long =
    forNs(ns).upsert(ns, df, key)
  override def merge(ns: String, upserts: DataFrame, deletes: DataFrame, key: String,
      marker: Option[(String, String)] = None): Long =
    forNs(ns).merge(ns, upserts, deletes, key, marker)
  override def readMarker(ns: String, name: String): Option[String] =
    forNs(ns).readMarker(ns, name)
  override def keyOf(ns: String): String = forNs(ns).keyOf(ns)
  override def drop(ns: String): Unit = forNs(ns).drop(ns)
  override def dataExists(ns: String): Boolean = forNs(ns).dataExists(ns)
  override def tablePath(ns: String): String = forNs(ns).tablePath(ns)
}
