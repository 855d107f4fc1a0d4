package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.config.MigratorConfig
import graft.monitor.StatusServer
import graft.sim.Simgen
import graft.sources.{Catalog, MultiDbParquetCatalog, ParquetCatalog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The CLI entry point — the reference's one-binary dispatch
  * (neutrino.go:45-88): exactly one of
  *
  *   `-start <config.json>`   run a migration (command gating per
  *                            start.go:29-47: all|config|data|data-only|index)
  *   `-resume <config.json>`  pick an interrupted migration back up (O6)
  *   `-compare <config.json>` deep-diff source vs target per namespace (J1)
  *   `-sim <config.json>`     generate a rate-paced change-stream load (G1)
  *   `-sql <config.json>`     ad-hoc SQL over a catalog (engine extension)
  *   `-curate <config.json>`  corpus curation pipeline → training manifest
  *                            (engine extension)
  *   `-optimize <config.json>` Z-order + size-balanced file rewrite of a
  *                            namespace (engine extension)
  *   `-profile <config.json>` one-scan ANALYZE-style column profile of
  *                            a namespace (engine extension)
  *   `-tokenize <config.json>` train a BPE subword model over a
  *                            namespace; write merges/fertility/encoded
  *                            (engine extension)
  *   `-mine <config.json>`    market-basket mining: frequent pairs,
  *                            association rules, basket census, triangle
  *                            census (engine extension)
  *   `-version`               print version
  *
  * (`-worker` has no Spark counterpart: the reference spawns queue
  * workers, which ARE Spark's executors — SURVEY §2.10.)
  *
  * Config mapping: `source`/`target` connection strings are catalog
  * roots — a directory of `<coll>.parquet` tables (single-db) or of
  * `<db>/<coll>.parquet` subdirectories (multi-db, auto-detected); a
  * Mongo URI would select a connector-backed [[Catalog]] instead. The
  * `spool` directory (the reference's oplog workspace) holds the two
  * stream-side dirs: `<spool>/changelog` (the change-stream source, fed
  * by `-sim` or a connector) and `<spool>/checkpoint` (offsets, ST4).
  *
  * `-start`/`-resume` serve live progress JSON at `cfg.port`
  * (web_server.go:59-88) for the duration of the run. The CLI's stream
  * phase is the blocking catch-up ([[graft.streaming.ApplyJob.catchUp]]
  * drains everything accumulated, then returns — so the process exits);
  * with `"tail": true` in the config the process instead keeps
  * following the change stream after catch-up ([[Migrate.liveTail]] —
  * the reference's never-returning LiveStreamOplogs deployment shape)
  * until stopped.
  */
object Main {

  val Version = "graft-0.8"

  def main(args: Array[String]): Unit = {
    val rc = run(args.toIndexedSeq,
      () => GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
    if (rc != 0) sys.exit(rc)
  }

  /** Dispatch with an injectable session factory (tests pass their
    * shared session); returns a process exit code. */
  def run(args: Seq[String], session: () => SparkSession): Int = {
    def usage(): Int = {
      Console.err.println(
        "usage: graft -start|-resume|-compare|-sim|-sql|-curate|-optimize|-profile|-index|-tokenize|-mine <config.json> | -version")
      1
    }
    args match {
      case Seq("-version") => println(Version); 0
      case Seq(flag, file)
          if Set("-start", "-resume", "-compare", "-sim", "-sql", "-curate",
            "-optimize", "-profile", "-index", "-tokenize", "-mine")(flag) =>
        val json = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
        flag match {
          case "-sim" => sim(session(), json)
          case "-sql" => sql(session(), json)
          case "-curate" => curate(session(), json)
          case "-optimize" => optimize(session(), json)
          case "-profile" => profile(session(), json)
          case "-index" => index(session(), json)
          case "-tokenize" => tokenize(session(), json)
          case "-mine" => mine(session(), json)
          case "-compare" => compare(session(), MigratorConfig.parse(json))
          case "-start" => lifecycle(session(), MigratorConfig.parse(json), resume = false)
          case "-resume" => lifecycle(session(), MigratorConfig.parse(json), resume = true)
        }
      case _ => usage()
    }
  }

  /** Detect the catalog layout at `dir`: `<coll>.parquet` children =
    * single-db (named after the config's first include, matching how
    * the reference scopes an unqualified URI), other children =
    * multi-db. A missing or still-empty TARGET dir mirrors the source's
    * shape. */
  private[graft] def catalogAt(spark: SparkSession, dir: String,
      cfg: MigratorConfig, mirrorOf: Option[Catalog] = None): Catalog = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = if (fs.exists(p)) fs.listStatus(p).toSeq else Nil
    val flat =
      if (entries.nonEmpty) entries.exists(_.getPath.getName.endsWith(".parquet"))
      else mirrorOf.forall(_.isInstanceOf[ParquetCatalog])
    if (flat) new ParquetCatalog(spark, dir, dbOf(cfg), buckets = cfg.buckets)
    else new MultiDbParquetCatalog(spark, dir, buckets = cfg.buckets)
  }

  private def dbOf(cfg: MigratorConfig): String =
    cfg.includes.headOption
      .map(i => config.Namespaces.split(i.namespace)._1)
      .getOrElse("local")

  private def lifecycle(spark: SparkSession, cfg: MigratorConfig, resume: Boolean): Int = {
    val source = catalogAt(spark, cfg.source, cfg)
    val sink = catalogAt(spark, cfg.target, cfg, mirrorOf = Some(source))
    val changelog = {
      val p = new Path(cfg.spool, "changelog")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(p.toString) else None
    }
    val checkpoint = new Path(cfg.spool, "checkpoint").toString
    val status = StatusServer.start(cfg.port)
    try {
      val result =
        if (resume) Migrate.resume(spark, cfg, source, sink, checkpoint, changelog)
        else Migrate.start(spark, cfg, source, sink, checkpoint, changelog, Some(status))
      println(s"copied ${result.copied.size} namespace(s), " +
        s"applied ${result.applied.total} change(s); ${result.progress.statusLine}")
      // `tail: true` — keep following the change stream from the same
      // checkpoint (the reference's never-returning flagship shape,
      // oplog_streamer.go:270-323). Runs until the stream is stopped:
      // SIGTERM lands in the shutdown hook, which stops the query
      // cleanly so awaitTermination returns and the process exits 0.
      changelog.filter(_ => cfg.tail).foreach { dir =>
        val handle = Migrate.liveTail(spark, cfg, sink, dir, checkpoint,
          intervalMs = 1000)
        status.attachStream(handle)
        status.setPhase("live tail") // set AFTER the stream starts: the
        // phase string is the externally visible "tailing now" signal
        val hook = new Thread(() => handle.stop())
        Runtime.getRuntime.addShutdownHook(hook)
        try handle.awaitTermination()
        finally {
          try Runtime.getRuntime.removeShutdownHook(hook)
          catch { case _: IllegalStateException => () } // mid-shutdown
        }
        println(s"tail stopped after applying ${handle.counts.total} change(s)")
      }
      0
    } finally status.stop()
  }

  private def compare(spark: SparkSession, cfg: MigratorConfig): Int = {
    val source = catalogAt(spark, cfg.source, cfg)
    val sink = catalogAt(spark, cfg.target, cfg, mirrorOf = Some(source))
    val results =
      if (cfg.compareMode == MigratorConfig.CompareChunked)
        Migrate.compareChunked(spark, cfg, source, sink, block = cfg.block)
      else Migrate.compare(spark, cfg, source, sink)
    results.toSeq.sortBy(_._1).foreach { case (ns, s) =>
      println(s"$ns: matched=${s.matched} mismatched=${s.mismatched} " +
        s"missing=${s.missingOnTarget} extra=${s.extraOnTarget}")
    }
    if (results.values.forall(_.isEqual)) 0 else 2
  }

  /** `-sim` (sim.go:58-80): `{"namespaces":["db.coll"],
    * "seconds_to_run":N, "oplogs_per_second":M, "uri":"<dir>"}` →
    * one change-log batch per second into `<uri>`, M oplogs each —
    * [[Simgen.liveFeed]]'s rate-paced churn. */
  private def sim(spark: SparkSession, json: String): Int = {
    val n = new ObjectMapper().readTree(json)
    require(n != null && n.isObject, "sim config must be a JSON object")
    val namespaces =
      if (n.has("namespaces")) n.get("namespaces").elements().asScala.map(_.asText()).toSeq
      else Nil
    require(namespaces.nonEmpty, "sim config needs at least one namespace")
    val seconds = if (n.has("seconds_to_run")) n.get("seconds_to_run").asInt() else 300
    val perSecond = if (n.has("oplogs_per_second")) n.get("oplogs_per_second").asInt()
      else Simgen.DefaultNumOplogs
    val dir = if (n.has("uri")) n.get("uri").asText() else ""
    require(dir.nonEmpty, "sim config needs a uri (change-log directory)")
    val emitted = namespaces.map(ns =>
      Simgen.liveFeed(spark, new Path(dir, ns).toString, ns,
        batches = seconds, docsPerBatch = perSecond).emitted).sum
    println(s"emitted $emitted oplog(s) across ${namespaces.size} namespace(s)")
    0
  }

  /** `-curate` (engine extension): run the batch curation pipeline over
    * a catalog namespace and write the training-corpus manifest —
    * the CLI shape of `q_pipeline_corpus` / `DocStream.curateStream`:
    * corpus-wide exact dedup (min-id winner) → optional substring-level
    * cut ([[graft.text.Substrings]], `substrCut` = gram width k) →
    * optional C4 line gate → quality + language filter → deterministic
    * split assignment → optional per-stratum token budgets
    * ([[graft.text.Mixing]]).
    *
    * Config: `{"source": "<catalog root>", "namespace": "db.coll",
    * "out": "<dir>", "id": "doc_id", "text": "text", "minQuality": 3,
    * "langs": ["en"], "salt": "42",
    * "weights": {"train": 0.8, "val": 0.1, "test": 0.1},
    * "lineGate": 5, "substrCut": 40, "substrMode": "anchored",
    * "substrGuarantee": 64, "budgets": {"en": 4000000000}}` —
    * everything after `weights` optional. `substrMode` picks the span
    * surface the cut removes: `"exact"` (default — the full Lee-et-al
    * per-char gram census) or `"anchored"` (winnow-anchored census,
    * ~2/(G+1) the shuffle bytes — the 100 TB default; a shared run of
    * ≥ `substrGuarantee` chars, default `substrCut + 24`, is still
    * caught, and `q_substr_eval` is the coverage dial for tuning the
    * pair). `"substrHash": "md5"|"xxh64"` keys the ephemeral cut
    * census — xxh64 = 4× smaller keys, the production choice. In exact
    * mode spans are equality-of-key facts either way; in anchored mode
    * the hash also RANKS the winnow selection, so the anchor set (and
    * the cut) differs while the ≥ `substrGuarantee` window guarantee
    * holds under both.
    * `"substrIndex": "<dir>"` (mutually exclusive with
    * `substrCut`) cuts against a FROZEN staged census instead —
    * incremental curation; the index carries its own gram width and
    * exact/anchored mode. Writes parquet (id, n_tokens, quality_score,
    * pred_lang, bucket, split) to `out` and prints the stage counts.
    *
    * `"audit": "<dir>"` (batch only) additionally writes corpus-loss
    * accounting: one (id, fate) row for EVERY document of the
    * namespace — `kept`, or the first pipeline stage that dropped it
    * (`dropped_null_text` / `dropped_duplicate` / `dropped_quality` /
    * `dropped_language` / `dropped_entropy` / `dropped_budget`) — the
    * operational answer to "where did my corpus go" after a curate
    * run shrinks 10⁹ docs to 10⁸.
    *
    * `"stream": {...}` switches to the ON-ARRIVAL surface
    * ([[graft.streaming.DocStream]]): the namespace is tailed as a
    * Structured Streaming file source, each micro-batch is deduped
    * (watermark-bounded state), optionally cut against `substrIndex`,
    * gated, scrubbed, and split, and the curated rows APPEND to `out`.
    * Stream keys: `checkpoint` (required — the file-source offsets AND
    * the dedup gate's state live here, so RE-RUNNING the same config
    * drains only files that arrived since the last run and still drops
    * duplicates of earlier runs' docs: the operational incremental-
    * curation loop), `timeCol` (required — event-time column for the
    * dedup watermark), `watermark` (default "1 hour"),
    * `maxFilesPerTrigger`, and with `substrIndex`: `appendAfterCut`
    * (cross-batch substring dedup — each cut batch's raw grams append
    * into the index) + `compactEvery` (census compaction cadence).
    * The run DRAINS the backlog (Trigger.AvailableNow) and exits — a
    * resident service uses the library API with a ProcessingTime
    * trigger. Batch-only knobs (`substrCut` — a corpus-wide census;
    * `budgets` — corpus-wide selection; `minEntropy`) are refused. */
  private def curate(spark: SparkSession, json: String): Int = {
    import org.apache.spark.sql.functions._
    import graft.text.{Lines, Mixing, Sampling, TextFunctions}
    val n = new ObjectMapper().readTree(json)
    require(n != null && n.isObject, "curate config must be a JSON object")
    def req(f: String): String = {
      require(n.has(f) && n.get(f).asText().nonEmpty, s"curate config needs $f")
      n.get(f).asText()
    }
    val dir = req("source"); val ns = req("namespace"); val out = req("out")
    val idCol = if (n.has("id")) n.get("id").asText() else "doc_id"
    val textName = if (n.has("text")) n.get("text").asText() else "text"
    val minQuality = if (n.has("minQuality")) n.get("minQuality").asInt() else 3
    val langs = if (n.has("langs"))
      n.get("langs").elements().asScala.map(_.asText()).toSeq else Seq("en")
    val salt = if (n.has("salt")) n.get("salt").asText() else "42"
    val weights = if (n.has("weights"))
      n.get("weights").fields().asScala.toSeq
        .map(e => e.getKey -> e.getValue.asDouble())
      else Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val lineGate = if (n.has("lineGate")) Some(n.get("lineGate").asInt()) else None
    val minEntropy =
      if (n.has("minEntropy")) Some(n.get("minEntropy").asDouble()) else None
    val substrCut = if (n.has("substrCut")) Some(n.get("substrCut").asInt()) else None
    val substrMode = if (n.has("substrMode")) n.get("substrMode").asText() else "exact"
    require(Set("exact", "anchored")(substrMode),
      s"substrMode must be exact|anchored, got $substrMode")
    val substrGuarantee = if (n.has("substrGuarantee"))
      n.get("substrGuarantee").asInt() else substrCut.getOrElse(40) + 24
    val substrIndex =
      if (n.has("substrIndex")) Some(n.get("substrIndex").asText()) else None
    require(substrIndex.isEmpty || substrCut.isEmpty,
      "substrCut and substrIndex are mutually exclusive: the index " +
        "carries its own gram width and mode")
    require(substrIndex.isEmpty ||
        (!n.has("substrMode") && !n.has("substrGuarantee")),
      "substrMode/substrGuarantee have no effect with substrIndex — " +
        "the index's own manifest decides the discipline")
    // the -index census discipline, mirrored: a knob that would be
    // silently ignored is refused instead
    require(substrCut.nonEmpty ||
        (!n.has("substrMode") && !n.has("substrGuarantee")),
      "substrMode/substrGuarantee parameterize the substrCut census — " +
        "without substrCut they would be silently ignored")
    require(!n.has("substrGuarantee") || substrMode == "anchored",
      "substrGuarantee only parameterizes the anchored census — " +
        "set substrMode to 'anchored' or drop substrGuarantee")
    val substrHash = if (n.has("substrHash")) n.get("substrHash").asText()
      else graft.text.Substrings.HashMd5
    require(Set(graft.text.Substrings.HashMd5,
      graft.text.Substrings.HashXxh64)(substrHash),
      s"substrHash must be md5|xxh64, got $substrHash")
    require(!n.has("substrHash") || substrCut.nonEmpty,
      "substrHash keys the substrCut census — without substrCut it " +
        "would be silently ignored (substrIndex takes the hash from " +
        "its own manifest)")
    val budgets = if (n.has("budgets"))
      Some(n.get("budgets").fields().asScala.toSeq
        .map(e => e.getKey -> e.getValue.asLong()))
      else None
    val audit = if (n.has("audit")) Some(n.get("audit").asText()) else None

    val cat = catalogAt(spark, dir,
      MigratorConfig(command = "data", source = dir, target = dir))

    if (n.has("stream")) {
      val st = n.get("stream")
      require(st != null && st.isObject, "curate 'stream' must be a JSON object")
      // batch-only knobs refused loudly: each needs a corpus-wide pass
      // the on-arrival surface deliberately doesn't have
      Seq("substrCut" -> substrCut.nonEmpty, "budgets" -> budgets.nonEmpty,
          "minEntropy" -> minEntropy.nonEmpty,
          "audit" -> audit.nonEmpty).foreach { case (k, set) =>
        require(!set, s"'$k' is a batch-only curate knob (it needs a " +
          "corpus-wide census/selection pass) — drop it or run without 'stream'")
      }
      def sreq(f: String): String = {
        require(st.has(f) && st.get(f).asText().nonEmpty,
          s"curate stream config needs $f")
        st.get(f).asText()
      }
      val ckpt = sreq("checkpoint")
      val timeCol = sreq("timeCol")
      val watermark =
        if (st.has("watermark")) st.get("watermark").asText() else "1 hour"
      val appendAfterCut =
        st.has("appendAfterCut") && st.get("appendAfterCut").asBoolean()
      val compactEvery =
        if (st.has("compactEvery")) st.get("compactEvery").asInt() else 0
      require(substrIndex.nonEmpty || (!appendAfterCut && compactEvery == 0),
        "appendAfterCut/compactEvery compose with the substrIndex cut — " +
          "without an index there is nothing to append into")
      // the feed is the namespace's parquet directory, tailed as a file
      // stream with the batch read's schema — resolved THROUGH the
      // catalog (flat vs per-db layouts place the table differently),
      // and verified to exist: a wrong path would otherwise drain zero
      // files and exit 0, a silent no-op where the CLI promises a
      // loud refusal
      val feedPath = cat.tablePath(ns)
      val feedP = new org.apache.hadoop.fs.Path(feedPath)
      val feedFs = feedP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(feedFs.exists(feedP),
        s"curate stream feed $feedPath does not exist — is '$ns' a " +
          s"table of $dir?")
      val schema = cat.read(ns).schema
      require(schema.fieldNames.contains(timeCol),
        s"stream timeCol '$timeCol' is not a column of $ns " +
          s"(present: ${schema.fieldNames.mkString(", ")})")
      val reader = spark.readStream.schema(schema)
      val src = (if (st.has("maxFilesPerTrigger"))
          reader.option("maxFilesPerTrigger", st.get("maxFilesPerTrigger").asInt())
        else reader).parquet(feedPath)
      val query = substrIndex match {
        case Some(ix) =>
          graft.streaming.DocStream.curateStreamAgainstIndex(src, idCol,
            textName, timeCol, watermark, ix, out, ckpt, minQuality, langs,
            salt, weights, lineGate, appendAfterCut, compactEvery)
        case None =>
          graft.streaming.DocStream.curateStream(src, idCol, col(textName),
              timeCol, watermark, minQuality, langs, salt, weights, lineGate)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
      }
      query.awaitTermination()
      // the out directory only exists once a micro-batch wrote (the
      // foreachBatch path creates nothing on an empty drain) — a
      // successful zero-batch first run must report 0, not crash on
      // schema inference
      val outP = new org.apache.hadoop.fs.Path(out)
      val total =
        if (outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(outP))
          spark.read.parquet(out).count()
        else 0L
      println(s"stream-curated $ns: drained into $out " +
        s"($total curated row(s) total); checkpoint $ckpt")
      return 0
    }

    val raw = cat.read(ns).filter(col(textName).isNotNull)
    // the input count for the summary line rides an Observation on the
    // pipeline's own scan — a separate raw.count() would be one FULL
    // extra corpus pass per curate run, purely for a log line
    val obs = org.apache.spark.sql.Observation()
    val rawObs = raw.observe(obs, count(lit(1)).as("n_input"))
    // corpus-wide exact dedup FIRST, keyed on the RAW text, min-id
    // winner — an algebraic min(struct) aggregate (map-side combined),
    // NOT a window over md5(text): a production namespace with millions
    // of byte-identical documents would sort them all through one
    // reducer (the same hot-key discipline as Lines.lineDedup).
    // Dedup-before-gate mirrors DocStream.curateStream so the batch and
    // streaming surfaces select the same corpus: gating first would key
    // the dedup on GATED text, collapsing docs whose raw texts differ
    // but gate to identical kept text — which the stream (deduping raw)
    // keeps.
    val rcols = raw.columns
    val dedupedBase = rawObs
      .groupBy(md5(col(textName)).as("__h"))
      .agg(min(struct((col(idCol) +: rcols.filterNot(_ == idCol).map(col))
        .toIndexedSeq: _*)).as("__w"))
      .select("__w.*")
    // a substring cut consumes the dedup output 2–3 times (span
    // derivation, join-back — and the probe's census checkpoint):
    // persist so the scan + dedup exchange runs ONCE (and the
    // Observation above fires exactly once, at materialization). The
    // no-cut path consumes it once — nothing to cache.
    val cutActive = substrCut.nonEmpty || substrIndex.nonEmpty
    val deduped = if (cutActive) dedupedBase.persist() else dedupedBase
    // optional substring-level cut (Lee et al. ExactSubstr, k-char
    // grams): remove corpus-wide duplicated spans from the SURVIVING
    // docs before gating/scoring, so boilerplate runs don't inflate
    // quality or token counts. Two explicit shapes, never implied:
    // substrCut = batch-internal census over THIS corpus;
    // substrIndex = incremental cut against a FROZEN staged census
    // (Substrings.cleanedAgainstIndex — different semantics: spans mark
    // text duplicating the reference, not the batch's own repeats).
    val cleanedOpt = (substrCut, substrIndex) match {
      case (Some(k), _) =>
        Some(substrMode match {
          case "anchored" => graft.text.Substrings.cleanedCorpusAnchored(
            deduped, idCol, col(textName), k, substrGuarantee,
            maxChars = 0, hash = substrHash)
          case _ => graft.text.Substrings.cleanedCorpus(
            deduped, idCol, col(textName), k, maxChars = 0,
            hash = substrHash)
        })
      case (None, Some(ix)) =>
        // incremental curation: cut spans duplicating a FROZEN staged
        // reference census (exact or anchored per the index's mode) —
        // the reference corpus is never re-scanned
        Some(graft.text.Substrings.cleanedAgainstIndex(
          deduped, idCol, col(textName), ix))
      case _ => None
    }
    val cut = cleanedOpt match {
      case Some(cleaned) =>
        deduped.join(cleaned.select(col(idCol), col("text_clean")), Seq(idCol))
          .drop(textName).withColumnRenamed("text_clean", textName)
      case None => deduped
    }
    val (gated, scoredText) = lineGate match {
      case Some(minWords) =>
        (cut.withColumn("__text_kept",
          Lines.lineFilterCol(col(textName), minWords).getField("text_kept")),
          col("__text_kept"))
      case None => (cut, col(textName))
    }
    val statsBase = TextFunctions.languageId(
      TextFunctions.qualityStats(gated, scoredText), scoredText)
    // the entropy value is materialized as a column (rather than a
    // filter-side expression) when EITHER the gate or the audit needs
    // it — same one-pass native census, and the audit can then name
    // the gate a doc failed
    val stats = if (minEntropy.nonEmpty || audit.nonEmpty)
      statsBase.withColumn("__ent",
        TextFunctions.charEntropyCol(scoredText).getField("entropy_nats"))
      else statsBase
    val keptBase = stats.filter(col("quality_score") >= minQuality &&
      col("pred_lang").isin(langs: _*))
    // optional compressibility gate: Shannon char entropy of the SCORED
    // text (one-pass native census — a narrow predicate, no extra
    // pass). NULL entropy (empty kept text) fails the gate by design.
    val kept = minEntropy match {
      case Some(me) => keptBase.filter(col("__ent") >= me)
      case None => keptBase
    }
    // the split frame feeds the budget selection AND the join-back:
    // persist so the scan + dedup + scoring pipeline runs once
    // (materialize-then-release, same contract as budgetSelect's ann)
    val split = Sampling.hashSplit(kept, col(idCol), salt, weights).persist()
    try {
      val manifest = budgets match {
        case Some(b) =>
          // NOT the split salt: the admission bucket must be independent
          // of the split bucket, or a fractional stratum keeps only its
          // low buckets = only its train rows
          Mixing.budgetSelect(split, idCol, col("pred_lang"), col("n_tokens"),
              col("quality_score"), b, salt + ":mix")
            .withColumnRenamed("stratum", "pred_lang")
            .withColumnRenamed("quality", "quality_score")
            .join(split.select(col(idCol), col("bucket"), col("split")), Seq(idCol))
        case None =>
          split.select(col(idCol), col("n_tokens"), col("quality_score"),
            col("pred_lang"), col("bucket"), col("split"))
      }
      manifest.write.mode("overwrite").parquet(out)
      // corpus-loss accounting (opt-in): one (id, fate) row for EVERY
      // document of the namespace — the operational answer to "where
      // did my corpus go". Precedence mirrors the pipeline's stage
      // order (null text → dedup → quality → language → entropy →
      // budget); all joins are id-keyed over doc-count-sized narrow
      // frames, and the scored frame is the pipeline's own `stats`
      // lineage (re-executed once — the audit's honest price, paid
      // only when the knob is on).
      audit.foreach { adir =>
        // explicit presence marker: a dedup WINNER can still carry a
        // NULL quality_score (empty/whitespace scored text) — absence
        // from the scored frame is what means "dedup loser", not a
        // NULL score
        val scoredCols = Seq(col(idCol), lit(true).as("__scored"),
          col("quality_score").as("__q"), col("pred_lang").as("__l")) ++
          minEntropy.map(_ => col("__ent")).toSeq
        val scored = stats.select(scoredCols: _*)
        val selected = spark.read.parquet(out).select(col(idCol))
          .withColumn("__sel", lit(true))
        val entDrop = minEntropy match {
          case Some(me) => col("__ent").isNull || col("__ent") < me
          case None => lit(false)
        }
        // NULL quality fails the >= gate in the pipeline, so the audit
        // mirrors it as a quality drop — not a dedup loss
        val fate = when(col("__nul"), "dropped_null_text")
          .when(col("__scored").isNull, "dropped_duplicate")
          .when(col("__q").isNull || col("__q") < minQuality,
            "dropped_quality")
          .when(!col("__l").isin(langs: _*), "dropped_language")
          .when(entDrop, "dropped_entropy")
          .when(col("__sel").isNull, "dropped_budget")
          .otherwise("kept")
        // unfiltered re-read: null-text rows must be accounted too
        cat.read(ns).select(col(idCol), col(textName).isNull.as("__nul"))
          .join(scored, Seq(idCol), "left")
          .join(selected, Seq(idCol), "left")
          .select(col(idCol), fate.as("fate"))
          .write.mode("overwrite").parquet(adir)
        println(s"audited $ns: wrote per-document fates to $adir")
      }
    } finally {
      split.unpersist(false)
      if (cutActive) { deduped.unpersist(false); () }
    }
    val nInput = obs.get("n_input").asInstanceOf[Long]
    // ONE read of the (output-sized) manifest: the per-split counts sum
    // to the selected total
    val perSplitCounts = spark.read.parquet(out).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val perSplit = perSplitCounts.map { case (s, c) => s"$s=$c" }.mkString(", ")
    println(s"curated $ns: $nInput doc(s) in, " +
      s"${perSplitCounts.map(_._2).sum} selected ($perSplit); wrote $out")
    0
  }

  /** `-optimize` (engine extension): rewrite one namespace in Z-order
    * with size-balanced output files — the lake-side `OPTIMIZE ...
    * ZORDER BY` maintenance job. Config:
    * `{"source": <catalog root>, "namespace": "db.coll",
    *   "out": <dir>, "dims": ["colA", "colB"],
    *   "bits": 16, "targetBytes": 16777216, "shardShift": 20}`.
    * Both dims are masked to `bits` bits of their integer value
    * (callers quantize non-integers upstream). Rows get a Morton code
    * (ops/ZOrder.scala), pack into ≈targetBytes next-fit bins along
    * the Z order (ops/BinPack.assignBinsInOrder — sharded prefix sum,
    * no global sort), and write one file per bin, Z-sorted within —
    * so every output file is a tight zone-map rectangle in BOTH
    * dimensions and parquet min/max pruning works for predicates on
    * either. A layout report (per-bin rows/bytes + both dims' min/max)
    * lands at `<out>/_layout_report` and prints as a summary line. */
  private def optimize(spark: SparkSession, json: String): Int = {
    import org.apache.spark.sql.functions._
    val n = new ObjectMapper().readTree(json)
    require(n != null && n.isObject, "optimize config must be a JSON object")
    def req(f: String): String = {
      require(n.has(f) && n.get(f).asText().nonEmpty, s"optimize config needs $f")
      n.get(f).asText()
    }
    val dir = req("source"); val ns = req("namespace"); val out = req("out")
    val dims = if (n.has("dims"))
      n.get("dims").elements().asScala.map(_.asText()).toSeq else Seq()
    require(dims.size == 2, "optimize config needs dims: [colA, colB]")
    val bits = if (n.has("bits")) n.get("bits").asInt() else 16
    val target = if (n.has("targetBytes")) n.get("targetBytes").asLong()
      else 16L * 1024 * 1024
    val shardShift = if (n.has("shardShift")) n.get("shardShift").asInt()
      else math.max(0, 2 * bits - 10)
    val sizeCol = if (n.has("sizeCol")) Some(n.get("sizeCol").asText()) else None

    val cat = catalogAt(spark, dir,
      MigratorConfig(command = "data", source = dir, target = dir))
    val df = cat.read(ns)
    val Seq(dx, dy) = dims
    // row size: an explicit byte column when the table has one, else a
    // flat per-row estimate (bin balance only needs relative weight)
    val size = sizeCol.map(col).getOrElse(lit(128L))
    // range-normalize both dimensions so each fills its bit budget from
    // the TOP — raw-value interleave gives a narrow dimension zero
    // pruning (ZOrder.quantize scaladoc; measured in tools/PruneSweep)
    val bounds = df.agg(min(col(dx)).cast("long"), max(col(dx)).cast("long"),
      min(col(dy)).cast("long"), max(col(dy)).cast("long")).head()
    require(!bounds.anyNull, s"dims $dx/$dy must be non-null numeric")
    def qz(d: org.apache.spark.sql.DataFrame) = ops.ZOrder.zvalue(
      ops.ZOrder.quantize(col(dx), bounds.getLong(0), bounds.getLong(1), bits),
      ops.ZOrder.quantize(col(dy), bounds.getLong(2), bounds.getLong(3), bits),
      bits)
    val idCol = df.columns.head
    val binned = ops.BinPack.assignBinsInOrder(
      df.withColumn("__size", size), qz(df), idCol, "__size", target, shardShift)
      .drop("__size")
    // one output FILE per bin: hash repartition would collide distant
    // bins into one file and widen its min/max envelope (measured in
    // tools/PruneSweep); partitionBy writes each bin's rows — already
    // grouped in one task — to its own directory/file, Z-sorted within
    val laid = binned.repartition(col("bin"))
      .sortWithinPartitions(qz(binned))
    laid.write.mode("overwrite").partitionBy("bin").parquet(out)
    val report = binned.groupBy("bin").agg(
      count(lit(1)).as("n_rows"),
      sum(size).as("bytes"),
      min(col(dx)).as(s"${dx}_min"), max(col(dx)).as(s"${dx}_max"),
      min(col(dy)).as(s"${dy}_min"), max(col(dy)).as(s"${dy}_max"))
    report.write.mode("overwrite").parquet(s"$out/_layout_report")
    val nBins = report.count()
    val nRows = spark.read.parquet(out).count()
    println(s"optimized $ns: $nRows row(s) into $nBins bin(s) at $out")
    0
  }

  /** `-profile` (engine extension): one-scan ANALYZE-style table
    * profile of a namespace — per column the null count, exact
    * distinct count, and canonical min/max (ops/Profile.scala).
    * Config: `{"source": <catalog root>, "namespace": "db.coll"}`
    * plus optional `"columns": [...]` (default: all profilable
    * columns) and `"out": <dir>` (default: print). */
  private def profile(spark: SparkSession, json: String): Int = {
    val n = new ObjectMapper().readTree(json)
    require(n != null && n.isObject, "profile config must be a JSON object")
    def req(f: String): String = {
      require(n.has(f) && n.get(f).asText().nonEmpty, s"profile config needs $f")
      n.get(f).asText()
    }
    val dir = req("source"); val ns = req("namespace")
    val cols = if (n.has("columns"))
      n.get("columns").elements().asScala.map(_.asText()).toSeq else Seq()
    val cat = catalogAt(spark, dir,
      MigratorConfig(command = "data", source = dir, target = dir))
    val report = ops.Profile.report(cat.read(ns), cols).orderBy("column")
    if (n.has("out")) {
      val out = n.get("out").asText()
      report.write.mode("overwrite").parquet(out)
      println(s"wrote $out")
    } else report.show(truncate = false)
    0
  }

  /** `-mine` (engine extension): market-basket mining over a
    * namespace — a-priori frequent pairs, association rules
    * (ops/Itemsets.scala) and the triangle census over the pair graph
    * (ops/Graph.triangleStats), plus the basket-cap census so nothing
    * is silently dropped. Config: `{"source": <catalog root>,
    * "namespace": "db.coll", "basket": <col>, "item": <col>}` with
    * optional `"minItemSupport"` (2), `"minPairSupport"` (2),
    * `"maxBasket"` (1000), `"out"` (parquet dir: rules + census +
    * triangles sub-tables; default: show). */
  private def mine(spark: SparkSession, json: String): Int = {
    val n = new ObjectMapper().readTree(json)
    require(n != null && n.isObject, "mine config must be a JSON object")
    def req(f: String): String = {
      require(n.has(f) && n.get(f).asText().nonEmpty, s"mine config needs $f")
      n.get(f).asText()
    }
    def long(f: String, dflt: Long): Long =
      if (n.has(f)) n.get(f).asLong() else dflt
    val dir = req("source"); val ns = req("namespace")
    val basket = org.apache.spark.sql.functions.col(req("basket"))
    val item = org.apache.spark.sql.functions.col(req("item"))
    val minItem = long("minItemSupport", 2L)
    val minPair = long("minPairSupport", 2L)
    val maxBasketL = long("maxBasket", 1000L)
    require(maxBasketL > 0 && maxBasketL <= Int.MaxValue,
      s"maxBasket out of range: $maxBasketL")
    val maxBasket = maxBasketL.toInt
    val cat = catalogAt(spark, dir,
      MigratorConfig(command = "data", source = dir, target = dir))
    val docs = cat.read(ns)
    val rules = ops.Itemsets.rules(docs, basket, item, minItem, minPair,
      maxBasket).orderBy("item_a", "item_b")
    val census = ops.Itemsets.basketCensus(docs, basket, item, minItem,
      maxBasket)
    // the rules rows ARE the frequent pairs (inner joins to supports
    // drop nothing) — feed them to the triangle census instead of
    // re-running the eager pair pipeline
    val tri = ops.Graph.triangleStats(rules,
      org.apache.spark.sql.functions.col("item_a"),
      org.apache.spark.sql.functions.col("item_b"))
    if (n.has("out")) {
      val out = n.get("out").asText()
      rules.write.mode("overwrite").parquet(s"$out/rules")
      census.write.mode("overwrite").parquet(s"$out/census")
      tri.write.mode("overwrite").parquet(s"$out/triangles")
      println(s"wrote $out/{rules,census,triangles}")
    } else {
      rules.show(20, truncate = false)
      census.show(truncate = false)
      tri.show(truncate = false)
    }
    0
  }

  /** `-index` (engine extension): build / append / query a
    * materialized IVF-PQ ANN index over an embedding column
    * (ml/Similarity.scala: stageIvfPq / appendIvfPq / stagedIvfPqTopK),
    * or `"action": "describe"` — print ANY graft index's shared
    * manifest (util/IndexManifest: kind, version, build params,
    * counts), validating it parses and is a supported version; works
    * on BM25 / gram-census / IVF-PQ layouts alike, and `describe`
    * needs only `"index"` in the config. `"action": "compact"` (also
    * index-dir-only, kind-dispatched on the manifest) consolidates the
    * one-file-per-append layout back to one file per partition and
    * refreshes the manifest count appends leave stale — probe results
    * unchanged by construction; refused for kinds with no append
    * surface (BM25).
    * Config: `{"source": <catalog root>, "namespace": "db.coll",
    * "index": <index dir>, "action": "build"|"append"|"query"|"describe"}` with
    * `"id"`/`"embedding"` column names (defaults `vec_id`/`embedding`);
    * build takes `"centroids"` (64), `"m"` (4), `"ksub"` (16); query
    * takes `"queries"` (a namespace, default the corpus namespace
    * itself), `"k"` (5), `"nprobe"` (4) and optional `"out"`.
    *
    * `"kind": "bm25"` switches the verbs to the staged BM25 inverted
    * index (text/Retrieval.scala): build takes `"id"`/`"text"`
    * (defaults `doc_id`/`text`) and `"buckets"` (64); append folds a
    * namespace of NEW documents in at batch cost (buckets comes from
    * the manifest — passing it is refused); query scores a `"queries"`
    * namespace (same id/text columns, emitted as
    * `query_id`/doc-id/rank/score) against the index.
    *
    * `"kind": "census"` switches the same build/append/query verbs to
    * the staged substring-dedup gram census
    * (text/Substrings.scala) — the reference side of `-curate`'s
    * `substrIndex` incremental cut: build takes `"id"`/`"text"`
    * (defaults `doc_id`/`text`), `"k"` (40), `"buckets"` (64),
    * `"mode": "exact"|"anchored"` (+ `"guarantee"`, default k+24), and
    * for the exact mode `"hash": "md5"|"xxh64"` (md5 default — oracle-
    * recomputable; xxh64 stores 8-byte census keys, 4× smaller, the
    * production choice at scale); query probes a namespace and writes
    * its duplicated spans.
    *
    * `"kind": "flat"` switches the verbs to the staged IVF-flat vector
    * index (ml/Similarity.scala) — the exact-threshold SEMANTIC
    * admission tier next to the PQ retrieval tier: build takes
    * `"id"`/`"embedding"` (defaults `vec_id`/`embedding`) and
    * `"centroids"` (64); query returns a namespace's genuinely-new
    * vectors (no indexed neighbor of cosine ≥ `"minCos"`/1000, default
    * 900, within `"nprobe"` probed lists, default 4).
    *
    * `"action": "ingest"` drains a parquet feed directory into ANY
    * staged kind as a checkpointed stream (one append per micro-batch);
    * `"action": "admit"` drains a feed through the index-resident
    * ADMISSION gate instead — fp = exact, lsh = text near-dup,
    * ivf_flat = semantic — writing admitted rows (full feed schema) to
    * `"out"` and folding their fingerprints / band signatures /
    * quantized vectors into the index. */
  private def index(spark: SparkSession, json: String): Int = {
    val n = new ObjectMapper().readTree(json)
    require(n != null && n.isObject, "index config must be a JSON object")
    def req(f: String): String = {
      require(n.has(f) && n.get(f).asText().nonEmpty, s"index config needs $f")
      n.get(f).asText()
    }
    def int(f: String, dflt: Int): Int =
      if (n.has(f)) n.get(f).asInt() else dflt
    val idx = req("index"); val action = req("action")
    if (action == "describe") {
      // kind-agnostic: any staged index carries the shared manifest;
      // the IVF kinds additionally report per-list occupancy skew —
      // the drift diagnostic that says when a recluster is due
      val mf = graft.util.IndexManifest.read(spark, idx)
      println(s"$idx: ${graft.util.IndexManifest.describe(mf)}")
      if (streaming.StagedKinds.of(mf).ivf.nonEmpty) {
        val s = ml.Similarity.listSkew(spark, idx)
        println(f"  lists: ${s.nonEmptyLists}/${s.centroids} non-empty, " +
          f"${s.nVectors} vectors, largest ${s.maxList}, " +
          f"skew(max/mean) ${s.skew}%.2f")
      }
      return 0
    }
    if (action == "recluster") {
      // IVF drift maintenance (ml/Similarity.reclusterIvfFlat /
      // reclusterIvfPq): re-seed + Lloyd-refine the coarse centroids
      // over the STORED vectors (flat) or the codes' exact
      // reconstructions (pq — the codebook is frozen and carried
      // verbatim; a codebook refresh is an explicit restage from raw
      // vectors, see the scaladoc) and reassign every row — frozen
      // stage-time geometry otherwise degrades probe pruning as an
      // append stream drifts. Optional "iters" (3). Reader-atomic
      // generation commit: concurrent probes keep working through the
      // flip.
      val mf = graft.util.IndexManifest.read(spark, idx)
      val ivf = streaming.StagedKinds.of(mf).ivf.getOrElse(
        throw new IllegalArgumentException(
          s"recluster supports the IVF kinds (got '${mf.kind}')"))
      ivf.recluster(spark, idx, int("iters", 3))
      println(s"reclustered $idx")
      return 0
    }
    if (action == "reap") {
      // generation-grace disk reclaim (ml/Similarity.reapIvfGrace):
      // a recluster keeps the previous generation as a read-grace
      // copy until the NEXT recluster — 2x vector storage on a
      // rarely-reclustered index. The operator declares in-flight
      // readers drained and reaps it early; the live pair and the
      // manifest are never touched.
      val reaped = ml.Similarity.reapIvfGrace(spark, idx)
      println(if (reaped.isEmpty) s"nothing to reap in $idx"
        else s"reaped ${reaped.mkString(", ")} from $idx")
      return 0
    }
    if (action == "compact") {
      // kind-dispatched on the MANIFEST (like describe, needs only the
      // index dir): consolidate append-accumulated files back to one
      // per partition, refresh the manifest count the appends left
      // stale. Probe/query results are unchanged by construction.
      streaming.StagedKinds.at(spark, idx).compact(spark, idx)
      println(s"compacted $idx")
      return 0
    }
    if (action == "ingest") {
      // kind-dispatched INSIDE the shared entry point
      // (streaming/DocStream.ingestStream — the StagedIndex trait's
      // streaming twin): drain a parquet feed directory into the index
      // as a real Structured Streaming query, one append per
      // micro-batch, checkpointed offsets, optional periodic
      // compaction. Config: {"index", "action": "ingest",
      // "feed": <parquet dir>, "checkpoint": <dir>} + the kind's
      // column names ("id" — defaults vec_id for ivf_pq, doc_id
      // otherwise; "text"/"embedding" name the value column), optional
      // "assumeNewIds", "compactEvery", "maxFilesPerTrigger" (1).
      val feed = req("feed"); val ckpt = req("checkpoint")
      // the IVF kinds are the vector kinds
      val isVec = streaming.StagedKinds.at(spark, idx).ivf.nonEmpty
      val id = if (n.has("id")) n.get("id").asText()
        else if (isVec) "vec_id" else "doc_id"
      val value =
        if (isVec) { if (n.has("embedding")) n.get("embedding").asText()
          else "embedding" }
        else if (n.has("text")) n.get("text").asText() else "text"
      streaming.DocStream.ingestStream(
          spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", int("maxFilesPerTrigger", 1))
            .parquet(feed),
          id, value, idx, ckpt,
          assumeNewIds = n.has("assumeNewIds") &&
            n.get("assumeNewIds").asBoolean(),
          compactEvery = int("compactEvery", 0))
        .awaitTermination()
      println(s"ingested $feed into $idx")
      return 0
    }
    if (action == "admit") {
      // streaming ADMISSION gate, kind-dispatched on the manifest:
      // drain a parquet feed through the index-resident dedup gate —
      // admitted docs (full feed schema) land in "out", their
      // fingerprints/band signatures append into the index. fp = exact
      // admission (DocStream.admitStream), lsh = near-dup admission
      // (DocStream.admitNearStream, optional "maxBucket"; optional
      // "verifyJaccard" threshold + "refTexts" parquet of the staged
      // corpus switches to Jaccard-VERIFIED rejection, and "rejects"
      // names a parquet dir for the (id, ref_id, jaccard) audit trail
      // instead of discarding the evidence). "compactEvery": N runs
      // the kind's compactor after every Nth micro-batch — a
      // continuous drain otherwise accumulates one file per bucket
      // per batch forever. For ivf_flat, "reclusterSkew": s (with
      // compactEvery) auto-reclusters at compaction points whenever
      // list-occupancy skew reads >= s — drift maintenance for a
      // long-running semantic gate ("reclusterIters" tunes the Lloyd
      // rounds). Config: {"index", "action": "admit",
      // "feed": <parquet dir>, "checkpoint": <dir>, "out": <dir>}
      // + optional "id"/"text" column names, "maxFilesPerTrigger" (1).
      val feed = req("feed"); val ckpt = req("checkpoint")
      val outP = req("out")
      val mf = graft.util.IndexManifest.read(spark, idx)
      val id = if (n.has("id")) n.get("id").asText() else "doc_id"
      val textCol = if (n.has("text")) n.get("text").asText() else "text"
      val src = spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", int("maxFilesPerTrigger", 1))
        .parquet(feed)
      val every = int("compactEvery", 0)
      // every gate audits its rejections when "rejects" names a sink
      // dir — the fate-audit knob shared across the admission family
      val rejects = if (n.has("rejects"))
        Some(n.get("rejects").asText()) else None
      val gate = mf.kind match {
        case graft.util.IndexManifest.KindFingerprints =>
          streaming.DocStream.admitStream(src, id, textCol, idx, outP,
            ckpt, compactEvery = every, rejectsPath = rejects)
        case graft.util.IndexManifest.KindMinhashBands =>
          streaming.DocStream.admitNearStream(src, id, textCol, idx, outP,
            ckpt, maxBucket = int("maxBucket", 1000),
            compactEvery = every,
            verifyJaccard = if (n.has("verifyJaccard"))
              Some(n.get("verifyJaccard").asDouble()) else None,
            refTexts = if (n.has("refTexts"))
              Some(spark.read.parquet(n.get("refTexts").asText())) else None,
            rejectsPath = rejects)
        case graft.util.IndexManifest.KindIvfFlat =>
          streaming.DocStream.admitVecStream(src,
            if (n.has("id")) id else "vec_id",
            if (n.has("embedding")) n.get("embedding").asText()
            else "embedding",
            idx, outP, ckpt, minCosPermille = int("minCos", 900),
            nprobe = int("nprobe", 4), compactEvery = every,
            reclusterSkew = if (n.has("reclusterSkew"))
              n.get("reclusterSkew").asDouble() else 0.0,
            reclusterIters = int("reclusterIters", 3),
            rejectsPath = rejects)
        case other => throw new IllegalArgumentException(
          s"no admission gate for index kind '$other' (fp = exact, " +
            "lsh = text near-dup, ivf_flat = semantic)")
      }
      gate.awaitTermination()
      println(s"admitted $feed into $outP against $idx")
      return 0
    }
    val dir = req("source"); val ns = req("namespace")
    val cat = catalogAt(spark, dir,
      MigratorConfig(command = "data", source = dir, target = dir))
    val kind = if (n.has("kind")) n.get("kind").asText() else "ivfpq"
    require(Set("ivfpq", "flat", "census", "bm25", "lsh", "fp")(kind),
      s"index kind must be ivfpq|flat|census|bm25|lsh|fp, got $kind")
    def outOrShow(result: org.apache.spark.sql.DataFrame): Unit =
      if (n.has("out")) {
        val out = n.get("out").asText()
        result.write.mode("overwrite").parquet(out)
        println(s"wrote $out")
      } else result.show(truncate = false)
    if (kind == "bm25") {
      // staged BM25 inverted index (text/Retrieval.scala) — the lexical
      // retrieval surface: build/append tokenize a namespace into the
      // bucketed postings/df/dl layout; query scores a query namespace
      // (columns id + text) against it
      import org.apache.spark.sql.functions.col
      val id = if (n.has("id")) n.get("id").asText() else "doc_id"
      val textCol = if (n.has("text")) n.get("text").asText() else "text"
      action match {
        case "build" =>
          text.Retrieval.stageBm25(cat.read(ns), id, col(textCol), idx,
            buckets = int("buckets", 64))
          println(s"built bm25 index for $ns at $idx")
        case "append" =>
          require(!n.has("buckets"),
            "bm25 config has 'buckets' but the index's staged value is " +
              "the contract — drop it (only 'build' takes it)")
          // new-ids guard on by default; assumeNewIds=true is the
          // explicit escape hatch (see Retrieval.appendBm25)
          text.Retrieval.appendBm25(cat.read(ns), id, col(textCol), idx,
            assumeNewIds = n.has("assumeNewIds") &&
              n.get("assumeNewIds").asBoolean())
          println(s"appended $ns into $idx")
        case "query" =>
          val qns = if (n.has("queries")) n.get("queries").asText() else ns
          // queries usually share the corpus' column names — rename so
          // the output's (query_id, doc-id) pair never collides
          val qs = cat.read(qns)
            .select(col(id).as("query_id"), col(textCol).as("qtext"))
          outOrShow(text.Retrieval.stagedBm25TopK(spark, idx, qs,
              "query_id", col("qtext"), k = int("k", 5))
            .orderBy("query_id", "rank"))
        case other =>
          throw new IllegalArgumentException(
            s"unknown index action '$other' (build|append|query|ingest|admit|compact|recluster|describe)")
      }
      return 0
    }
    if (kind == "flat") {
      // staged IVF-flat vector index (ml/Similarity.scala) — the
      // reference side of incremental SEMANTIC admission: build
      // quantizes a namespace's embeddings into list-partitioned raw
      // vectors, query returns a probe namespace's genuinely-new
      // vectors (no indexed neighbor of cosine >= minCos/1000 in the
      // nprobe probed lists), append folds in an admitted batch
      import org.apache.spark.sql.functions.col
      val id = if (n.has("id")) n.get("id").asText() else "vec_id"
      val emb = if (n.has("embedding")) n.get("embedding").asText()
        else "embedding"
      action match {
        case "build" =>
          ml.Similarity.stageIvfFlat(cat.read(ns), id, emb,
            numCentroids = int("centroids", 64), dir = idx)
          println(s"built ivf-flat index for $ns at $idx")
        case "append" =>
          require(!n.has("centroids"),
            "flat config has 'centroids' but the index's staged value is " +
              "the contract — drop it (only 'build' takes it)")
          ml.Similarity.appendIvfFlat(cat.read(ns), id, emb, idx)
          println(s"appended $ns into $idx")
        case "query" =>
          require(!n.has("centroids"),
            "flat config has 'centroids' but the index's staged value is " +
              "the contract — drop it (only 'build' takes it)")
          val qns = if (n.has("queries")) n.get("queries").asText() else ns
          outOrShow(ml.Similarity.vecNewStaged(cat.read(qns), id, emb, idx,
              minCosPermille = int("minCos", 900), nprobe = int("nprobe", 4))
            .orderBy(id))
        case other =>
          throw new IllegalArgumentException(
            s"unknown index action '$other' (build|append|query|ingest|admit|compact|recluster|describe)")
      }
      return 0
    }
    if (kind == "fp") {
      // staged exact-dedup fingerprint set (text/Dedup.scala) — the
      // reference side of incremental EXACT admission: build hashes a
      // namespace once, query returns a probe namespace's genuinely-new
      // docs, append folds in an admitted batch's fingerprints
      import org.apache.spark.sql.functions.col
      val id = if (n.has("id")) n.get("id").asText() else "doc_id"
      val textCol = if (n.has("text")) n.get("text").asText() else "text"
      action match {
        case "build" =>
          text.Dedup.stageFingerprints(cat.read(ns), col(textCol), idx,
            buckets = int("buckets", 64))
          println(s"built fingerprint index for $ns at $idx")
        case "append" =>
          require(!n.has("buckets"),
            "fp config has 'buckets' but the index's staged value is the " +
              "contract — drop it (only 'build' takes it)")
          text.Dedup.appendFingerprints(cat.read(ns), col(textCol), idx)
          println(s"appended $ns into $idx")
        case "query" =>
          require(!n.has("buckets"),
            "fp config has 'buckets' but the index's staged value is the " +
              "contract — drop it (only 'build' takes it)")
          val qns = if (n.has("queries")) n.get("queries").asText() else ns
          outOrShow(text.Dedup.exactNewStaged(cat.read(qns), id,
              col(textCol), idx)
            .orderBy(id))
        case other =>
          throw new IllegalArgumentException(
            s"unknown index action '$other' (build|append|query|ingest|admit|compact|recluster|describe)")
      }
      return 0
    }
    if (kind == "lsh") {
      // staged MinHash band index (text/Dedup.scala) — the reference
      // side of incremental near-dup admission: build signs a namespace
      // under a frozen recipe, query returns (batch_id, ref_id)
      // candidate pairs for a probe namespace
      import org.apache.spark.sql.functions.col
      val id = if (n.has("id")) n.get("id").asText() else "doc_id"
      val textCol = if (n.has("text")) n.get("text").asText() else "text"
      def refuseLshBuildKnobs(): Unit =
        Seq("numHashes", "rowsPerBand", "shingleWords", "buckets",
            "storeTexts").foreach(f =>
          require(!n.has(f),
            s"lsh config has '$f' but the index's staged value is the " +
              "contract — drop it (only 'build' takes it)"))
      action match {
        case "build" =>
          // "storeTexts": true makes the index self-contained for
          // Jaccard-VERIFIED admission (texts ride the id-bucketed
          // ids/ rows; the admit verb's verifyJaccard then needs no
          // refTexts and re-scans nothing corpus-sized per batch)
          text.Dedup.stageBandIndex(cat.read(ns), id, col(textCol), idx,
            numHashes = int("numHashes", 16),
            rowsPerBand = int("rowsPerBand", 2),
            shingleWords = int("shingleWords", 3),
            buckets = int("buckets", 16),
            storeTexts = n.has("storeTexts") &&
              n.get("storeTexts").asBoolean())
          println(s"built lsh band index for $ns at $idx")
        case "append" =>
          refuseLshBuildKnobs()
          text.Dedup.appendBandIndex(cat.read(ns), id, col(textCol), idx,
            assumeNewIds = n.has("assumeNewIds") &&
              n.get("assumeNewIds").asBoolean())
          println(s"appended $ns into $idx")
        case "query" =>
          refuseLshBuildKnobs()
          val qns = if (n.has("queries")) n.get("queries").asText() else ns
          outOrShow(text.Dedup.lshNewCandidatesStaged(cat.read(qns), id,
              col(textCol), idx, maxBucket = int("maxBucket", 1000))
            .orderBy("batch_id", "ref_id"))
        case "storetexts" =>
          // legacy -> store-texts migration (Dedup.migrateBandIndexTexts):
          // rebuild the index self-contained for Jaccard-verified
          // admission under its frozen recipe. The frame must be the
          // index's exact doc set: the staged namespace UNION the
          // gate's admitted out dir ("admitted") — both directions
          // guarded.
          refuseLshBuildKnobs()
          val base = cat.read(ns).select(col(id), col(textCol))
          val frame = (if (n.has("admitted"))
              base.unionByName(spark.read.parquet(n.get("admitted").asText())
                .select(col(id), col(textCol)))
            else base).localCheckpoint(true) // evaluated 3x by the verb
          try text.Dedup.migrateBandIndexTexts(frame, id, col(textCol), idx)
          finally graft.util.LocalCkpt.release(frame)
          println(s"migrated $idx to the store-texts layout")
        case other =>
          throw new IllegalArgumentException(
            s"unknown index action '$other' (build|append|query|ingest|admit|compact|recluster|describe|storetexts)")
      }
      return 0
    }
    if (kind == "census") {
      // staged substring-dedup census (text/Substrings.scala) — the
      // reference side of `-curate`'s `substrIndex` incremental cut
      import org.apache.spark.sql.functions.col
      val id = if (n.has("id")) n.get("id").asText() else "doc_id"
      val textCol = if (n.has("text")) n.get("text").asText() else "text"
      val mode = if (n.has("mode")) n.get("mode").asText() else "exact"
      require(Set("exact", "anchored")(mode),
        s"census mode must be exact|anchored, got $mode")
      // mode/k/buckets/guarantee parameterize the BUILD; append/query
      // take the whole discipline from the index's own manifest — a
      // config knob that would be silently ignored is refused instead
      def indexMode(): String = text.Substrings.censusMode(
        graft.util.IndexManifest.validate(spark, idx,
          graft.util.IndexManifest.KindGramCensus))
      def refuseBuildKnobs(): Unit =
        Seq("k", "buckets", "guarantee", "hash").foreach(f =>
          require(!n.has(f),
            s"census config has '$f' but the index's staged value is the " +
              "contract — drop it (only 'build' takes it)"))
      action match {
        case "build" =>
          val k = int("k", 40)
          require(!n.has("guarantee") || mode == "anchored",
            "census config has 'guarantee' but mode is not 'anchored' — " +
              "guarantee only parameterizes the anchored census")
          // hash is a build-time param for BOTH modes: exact spans are
          // hash-invariant; anchored selection changes with the rank
          // hash but keeps the window guarantee (Substrings.winnowRows)
          val hash = if (n.has("hash")) n.get("hash").asText()
            else text.Substrings.HashMd5
          if (mode == "anchored")
            text.Substrings.stageAnchorCensus(cat.read(ns), id, col(textCol),
              k, guarantee = int("guarantee", k + 24), dir = idx,
              buckets = int("buckets", 64), hash = hash)
          else
            text.Substrings.stageGramCensus(cat.read(ns), id, col(textCol),
              k, dir = idx, buckets = int("buckets", 64), hash = hash)
          println(s"built $mode census for $ns at $idx")
        case "append" =>
          refuseBuildKnobs()
          val im = indexMode()
          require(!n.has("mode") || mode == im,
            s"config mode '$mode' contradicts the index's '$im' discipline")
          if (im == "anchored")
            text.Substrings.appendAnchorCensus(cat.read(ns), id, col(textCol), idx)
          else
            text.Substrings.appendGramCensus(cat.read(ns), id, col(textCol), idx)
          println(s"appended $ns into $idx")
        case "query" =>
          refuseBuildKnobs()
          val im = indexMode()
          require(!n.has("mode") || mode == im,
            s"config mode '$mode' contradicts the index's '$im' discipline")
          val qns = if (n.has("queries")) n.get("queries").asText() else ns
          outOrShow(text.Substrings
            .probeIndex(cat.read(qns), id, col(textCol), idx)
            .orderBy(id, "span_start"))
        case "rebucket" =>
          // corpus-scaled bucket maintenance (Substrings.rebucketCensus):
          // an append-grown census outgrows its stage-time bucket count
          // and key-dense probes go scan-bound; optional "perBucket"
          // (1024 grams) sizes the new count. Stage-grade commit —
          // re-open any handles after.
          val nb = text.Substrings.rebucketCensus(spark, idx,
            perBucket = int("perBucket", 1024).toLong)
          println(s"rebucketed $idx to $nb buckets")
        case other =>
          throw new IllegalArgumentException(
            s"unknown index action '$other' (build|append|query|ingest|admit|compact|recluster|describe)")
      }
      return 0
    }
    val id = if (n.has("id")) n.get("id").asText() else "vec_id"
    val emb = if (n.has("embedding")) n.get("embedding").asText() else "embedding"
    // build geometry is the index's frozen contract — on append/query a
    // centroids/m/ksub knob would be silently ignored, so it is refused
    // (the census/bm25 discipline)
    def refusePqBuildKnobs(): Unit =
      Seq("centroids", "m", "ksub").foreach(f =>
        require(!n.has(f),
          s"ivfpq config has '$f' but the index's staged value is the " +
            "contract — drop it (only 'build' takes it)"))
    action match {
      case "build" =>
        ml.Similarity.stageIvfPq(cat.read(ns), id, emb,
          numCentroids = int("centroids", 64), m = int("m", 4),
          ksub = int("ksub", 16), dir = idx)
        println(s"built index for $ns at $idx")
      case "append" =>
        refusePqBuildKnobs()
        // new-ids guard on by default; assumeNewIds=true is the
        // explicit escape hatch (see Similarity.appendIvfPq)
        ml.Similarity.appendIvfPq(cat.read(ns), id, emb, dir = idx,
          assumeNewIds = n.has("assumeNewIds") &&
            n.get("assumeNewIds").asBoolean())
        println(s"appended $ns into $idx")
      case "query" =>
        refusePqBuildKnobs()
        val qns = if (n.has("queries")) n.get("queries").asText() else ns
        val result = ml.Similarity.stagedIvfPqTopK(spark, idx,
            cat.read(qns), id, emb, k = int("k", 5), nprobe = int("nprobe", 4))
          .orderBy("query_id", "rank")
        outOrShow(result)
      case other =>
        throw new IllegalArgumentException(
          s"unknown index action '$other' (build|append|query|ingest|admit|compact|recluster|describe)")
    }
    0
  }

  /** `-tokenize` (engine extension): train a BPE subword model over a
    * namespace's text column and materialize the tokenizer artifacts
    * ([[graft.text.Bpe]]): `<out>/merges` (the rank-ordered model) and
    * `<out>/fertility` (per-doc word/token costs). Config:
    * `{"source": <catalog root>, "namespace": "db.coll",
    * "out": <dir>}` with optional `"id"`/`"text"` column names
    * (defaults `doc_id`/`text`), `"merges"` (k, default 32),
    * `"maxWords"` (50000), and `"encode"` — another namespace to
    * tokenize under the trained model → `<out>/encoded`. */
  private def tokenize(spark: SparkSession, json: String): Int = {
    import org.apache.spark.sql.functions.col
    val n = new ObjectMapper().readTree(json)
    require(n != null && n.isObject, "tokenize config must be a JSON object")
    def req(f: String): String = {
      require(n.has(f) && n.get(f).asText().nonEmpty, s"tokenize config needs $f")
      n.get(f).asText()
    }
    def int(f: String, dflt: Int): Int =
      if (n.has(f)) n.get(f).asInt() else dflt
    def str(f: String, dflt: String): String =
      if (n.has(f)) n.get(f).asText() else dflt
    val dir = req("source"); val ns = req("namespace"); val out = req("out")
    val idCol = str("id", "doc_id"); val textCol = str("text", "text")
    val cat = catalogAt(spark, dir,
      MigratorConfig(command = "data", source = dir, target = dir))
    val corpus = cat.read(ns)
    val (merges, syms) = text.Bpe.trainMerges(corpus, col(textCol),
      int("merges", 32), int("maxWords", 50000))
    merges.coalesce(1).write.mode("overwrite").parquet(s"$out/merges")
    text.Bpe.fertility(corpus, idCol, col(textCol), syms)
      .write.mode("overwrite").parquet(s"$out/fertility")
    n.path("encode").asText("") match {
      case "" => ()
      case encNs =>
        text.Bpe.encode(cat.read(encNs), idCol, col(textCol),
            text.Bpe.mergeSeq(merges))
          .write.mode("overwrite").parquet(s"$out/encoded")
    }
    println(s"wrote $out")
    0
  }

  /** `-sql` (engine extension — the reference has no query CLI; this is
    * the "analytics over the migrated data" surface a Spark engine gets
    * for free): `{"source": "<catalog root>", "query": "SELECT ..."}`
    * (or `"queryFile": "<path>"`). Every catalog namespace is
    * registered as a temp view — `db.coll` becomes `db_coll`, plus the
    * bare `coll` name when unambiguous — the `graft_*` SQL functions
    * are registered, and the statement runs. With `"out": "<dir>"` the
    * result is written there as parquet; otherwise up to
    * `"limit"` (default 20) rows print to stdout. */
  private def sql(spark: SparkSession, json: String): Int = {
    val n = new ObjectMapper().readTree(json)
    require(n != null && n.isObject, "sql config must be a JSON object")
    val dir = if (n.has("source")) n.get("source").asText() else ""
    require(dir.nonEmpty, "sql config needs a source (catalog root)")
    val query =
      if (n.has("query")) n.get("query").asText()
      else if (n.has("queryFile")) new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(n.get("queryFile").asText())), "UTF-8")
      else ""
    require(query.trim.nonEmpty, "sql config needs a query (or queryFile)")
    GraftFunctions.register(spark)
    val cat = catalogAt(spark, dir,
      MigratorConfig(command = "data", source = dir, target = dir))
    def viewName(s: String): String = s.replaceAll("[^A-Za-z0-9_]", "_")
    val namespaces = cat.listNamespaces().filter(cat.dataExists)
    namespaces.foreach { ns =>
      cat.read(ns).createOrReplaceTempView(viewName(ns))
    }
    // bare collection names, where they don't collide across dbs
    namespaces.groupBy(ns => config.Namespaces.split(ns)._2)
      .collect { case (coll, Seq(ns)) => coll -> ns }
      .foreach { case (coll, ns) =>
        cat.read(ns).createOrReplaceTempView(viewName(coll))
      }
    val result = spark.sql(query)
    if (n.has("out")) {
      val out = n.get("out").asText()
      result.write.mode("overwrite").parquet(out)
      println(s"wrote $out")
    } else {
      val limit = if (n.has("limit")) n.get("limit").asInt() else 20
      result.show(limit, truncate = false)
    }
    0
  }
}
