package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming-ingest document deduplication — the live-feed shape of the
  * LLM-pipeline dedup operators (`graft.text.Dedup` is their batch
  * form): a training-data pipeline that tails a crawl/ingest feed wants
  * duplicates dropped ON ARRIVAL, before they cost downstream tokenize/
  * embed/train work, not in a nightly batch sweep.
  *
  * Both gates keep the FIRST arrival of a key and drop later ones via
  * `dropDuplicatesWithinWatermark`, so per-key state EXPIRES once the
  * event-time watermark passes it — state is bounded by the duplicate
  * horizon (how far apart in event time a dup may arrive), not by
  * corpus size, which is what makes the operator runnable forever
  * against an unbounded feed. A duplicate arriving beyond the horizon
  * re-admits (documented recall trade; widen the watermark or run the
  * batch sweep to catch stragglers). In BATCH mode the same code
  * degenerates to an exact distinct-on-key — one code path, two
  * deployment shapes, mirroring `EventStream`'s stream==batch
  * discipline.
  */
object DocStream {

  /** Content identity for the exact gate: md5 of the raw text. */
  def contentKey(text: Column): Column = md5(text)

  /** Keyed first-wins dedup: watermark-expiring state in streaming,
    * plain distinct-on-key in batch (Spark forbids
    * `dropDuplicatesWithinWatermark` on batch frames — batch needs no
    * state bound, so `dropDuplicates` IS its degenerate form). */
  private def firstWins(docs: DataFrame, keyCol: String, timeCol: String,
      watermark: String): DataFrame =
    if (docs.isStreaming)
      docs.withWatermark(timeCol, watermark)
        .dropDuplicatesWithinWatermark(keyCol)
    else docs.dropDuplicates(keyCol)

  /** Exact-duplicate gate: drop every doc whose `text` was already seen
    * within the watermark horizon. Narrow per-row hash + keyed state
    * lookup — no shuffle beyond the state-store exchange on the key. */
  def dedupExactStream(docs: DataFrame, text: Column, timeCol: String,
      watermark: String): DataFrame =
    firstWins(docs.withColumn("__ck", contentKey(text)), "__ck", timeCol, watermark)
      .drop("__ck")

  /** Near-duplicate gate: drop docs whose FULL minhash signature
    * (all `numHashes` minhashes over word-`shingleWords`-gram shingles
    * of the lowercased text) collides with an already-seen doc. Catches
    * reformatted/re-cased copies the exact gate misses; signature
    * equality is the strictest LSH band (r = numHashes, b = 1), so
    * precision is high and recall is the documented trade — the batch
    * `Dedup.lshCandidates` + `jaccardVerify` sweep remains the
    * completeness backstop. Signature computation is the same native
    * one-pass expression the batch path uses. */
  def dedupMinhashStream(docs: DataFrame, text: Column, timeCol: String,
      watermark: String, numHashes: Int = 16,
      shingleWords: Int = 3): DataFrame =
    firstWins(
      docs.withColumn("__mh",
          graft.text.Dedup.minhashCol(text, numHashes, shingleWords))
        // empty/short docs have no shingles → null signature; a null key
        // would collapse them all into one "duplicate" — pass them
        // through the gate keyed by their content hash instead
        .withColumn("__mk", coalesce(col("__mh").cast("string"), contentKey(text))),
      "__mk", timeCol, watermark)
      .drop("__mh", "__mk")

  /** The streaming curation chain — on-arrival form of the batch
    * `q_pipeline_corpus` composition: exact-dup gate → quality +
    * language filter → PII scrub → deterministic split assignment.
    * Everything after the gate is a stateless narrow projection, so the
    * ONLY streaming state is the dedup gate's watermark-bounded key
    * store; the split is a pure (key, salt) function, so a doc's
    * train/val/test membership is identical whether it arrived via this
    * stream or the batch sweep — the property that lets the two
    * deployment shapes share one corpus. Emits the input columns +
    * (n_tokens, quality_score, pred_lang, scrubbed, bucket, split) —
    * plus `text_kept` when the line gate is on.
    *
    * `lineGate = Some(minWords)` inserts the C4 per-line quality gate
    * ([[graft.text.Lines.lineFilterCol]]) after dedup: scoring, PII
    * scrub, and the emitted text then run on the line-FILTERED text.
    * It is a stateless narrow expression, so the streaming state story
    * is unchanged (the dedup gate remains the only state). Corpus-wide
    * line DEDUP, by contrast, is inherently a batch aggregate (the
    * winner of a line is a property of the whole corpus) — run
    * [[graft.text.Lines.lineDedup]] in the nightly sweep. */
  def curateStream(docs: DataFrame, idCol: String, text: Column,
      timeCol: String, watermark: String, minQuality: Int = 3,
      langs: Seq[String] = Seq("en"), salt: String = "42",
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      lineGate: Option[Int] = None): DataFrame =
    gateAndSplit(dedupExactStream(docs, text, timeCol, watermark), idCol,
      text, minQuality, langs, salt, weights, lineGate)

  /** The stateless curation tail (line gate → quality + language filter
    * → PII scrub → deterministic split) — shared verbatim by the plain
    * stream, the index-cut stream, and any batch caller, so every
    * deployment shape gates and splits identically. */
  private[streaming] def gateAndSplit(docs: DataFrame, idCol: String,
      text: Column, minQuality: Int, langs: Seq[String], salt: String,
      weights: Seq[(String, Double)], lineGate: Option[Int]): DataFrame = {
    import graft.text.{Lines, Pii, Sampling, TextFunctions}
    val (gated, scoredText) = lineGate match {
      case Some(minWords) =>
        (docs.withColumn("text_kept",
          Lines.lineFilterCol(text, minWords).getField("text_kept")),
          col("text_kept"))
      case None => (docs, text)
    }
    val scored = gated
      .withColumn("__q", TextFunctions.qualityStatsCol(scoredText))
      .withColumn("__l", TextFunctions.languageIdCol(scoredText))
      .filter(col("__q").getField("quality_score") >= minQuality &&
        col("__l").getField("pred_lang").isin(langs: _*))
      .withColumn("n_tokens", col("__q").getField("n_tokens"))
      .withColumn("quality_score", col("__q").getField("quality_score"))
      .withColumn("pred_lang", col("__l").getField("pred_lang"))
      .withColumn("scrubbed", Pii.scrub(scoredText))
      .drop("__q", "__l")
    Sampling.hashSplit(scored, col(idCol), salt, weights)
  }

  /** One micro-batch (or any batch frame) through the INDEX-CUT
    * curation chain — the on-arrival form of `-curate substrIndex`
    * ([[graft.Main]]): spans duplicating a FROZEN staged gram census
    * ([[graft.text.Substrings.cleanedAgainstIndex]]) are removed from
    * each document's text, then the shared [[gateAndSplit]] tail runs
    * on the CUT text (duplicated boilerplate no longer inflates token
    * counts or quality scores).
    *
    * The cut is REFERENCE-ONLY (`selfDups = false`): each document's
    * output depends on (document, index) alone, so the result is
    * invariant under micro-batching — the property DocStreamSpec pins
    * (stream-cut ≡ batch-cut on the same feed). Batch-internal repeats
    * are the dedup gate's and the append discipline's job, not the
    * probe's. */
  def curateBatchAgainstIndex(batch: DataFrame, idCol: String,
      textName: String, indexDir: String, minQuality: Int = 3,
      langs: Seq[String] = Seq("en"), salt: String = "42",
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      lineGate: Option[Int] = None): DataFrame =
    curateBatchAgainstIndex(batch, idCol, textName,
      graft.text.Substrings.openIndex(batch.sparkSession, indexDir),
      minQuality, langs, salt, weights, lineGate)

  /** [[curateBatchAgainstIndex]] through an OPEN census handle — the
    * per-micro-batch shape: the stream opens the index once
    * ([[curateStreamAgainstIndex]]) and every batch cuts through the
    * handle, paying zero per-batch manifest or stats reads. */
  def curateBatchAgainstIndex(batch: DataFrame, idCol: String,
      textName: String, idx: graft.text.Substrings.CensusIndex,
      minQuality: Int, langs: Seq[String], salt: String,
      weights: Seq[(String, Double)],
      lineGate: Option[Int]): DataFrame = {
    val cleaned = graft.text.Substrings.cleanedAgainstIndex(batch, idCol,
      col(textName), idx, maxChars = 0, selfDups = false)
    val cut = batch
      .join(cleaned.select(col(idCol), col("text_clean")), Seq(idCol))
      .drop(textName).withColumnRenamed("text_clean", textName)
    gateAndSplit(cut, idCol, col(textName), minQuality, langs, salt,
      weights, lineGate)
  }

  /** The micro-batch gate skeleton — the one micro-batch sink every
    * streaming entry point below runs on. It owns, once:
    *
    *  - '''persist''': a micro-batch frame RE-EXECUTES its plan
    *    (including an upstream stateful dedup exchange) on every action,
    *    and every body reads it more than once — so each batch is
    *    persisted, and unpersisted in a `finally`.
    *  - '''release''': every checkpointed frame the body hands to
    *    `hold` is released ([[graft.util.LocalCkpt.release]]) in ONE
    *    `finally` that covers the whole body — probe, every sink write,
    *    index append and compaction. A batch that fails anywhere (and is
    *    replayed) leaks no block; `Dataset.unpersist` cannot free
    *    checkpoint blocks, and a live feed would otherwise accumulate one
    *    per micro-batch.
    *  - '''cadence''': `compactEvery = N` (> 0) runs `compact` (on the
    *    micro-batch's session) after every Nth batch's body, keyed on
    *    the CHECKPOINTED batch id — a restart neither double-compacts
    *    nor drifts. The append discipline adds one file per touched
    *    bucket per batch; periodic compaction bounds that at ~N files,
    *    is probe-invisible by each kind's construction, and is
    *    single-writer-safe (micro-batch bodies run serially, so the
    *    compactor never races an append).
    *  - the checkpoint location (source offsets only — an index-resident
    *    gate keeps its state IN THE INDEX), the trigger and `start()`.
    *    Callers own `awaitTermination`. */
  private def runGate(docs: DataFrame, checkpointDir: String,
      trigger: Trigger, compactEvery: Int, compact: SparkSession => Unit)
      (body: (DataFrame, DataFrame => DataFrame) => Unit): StreamingQuery = {
    require(compactEvery >= 0, "compactEvery must be >= 0")
    docs.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val bb = b.persist()
        val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        try {
          body(bb, { df => held += df; df })
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            compact(bb.sparkSession)
        } finally {
          held.foreach(graft.util.LocalCkpt.release)
          bb.unpersist(false); ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** One micro-batch's admission decision: the admitted rows (FULL input
    * schema) and, for a gate asked to audit, the rejection evidence. */
  private final case class Admission(admitted: DataFrame,
      rejects: Option[DataFrame])

  /** [[runGate]] for the index-resident ADMISSION gates. `probe` decides
    * the persisted batch (handing every checkpoint it makes to `hold`);
    * the sinks then run in the one order the family shares: the rejects
    * audit (when `rejectsPath` names a sink) overlapped with the out
    * write through [[graft.util.Par.run]] — independent sinks over
    * materialized frames — and `append` folds the admitted rows into the
    * index STRICTLY AFTER the out write. That order is the delivery
    * contract: `outPath` and the audit are at-least-once (a crash
    * between out and append re-admits the batch on replay), while the
    * reverse order would silently LOSE a replayed batch (index holds
    * its rows ⇒ the probe admits nothing ⇒ out never written). */
  private def runAdmission(docs: DataFrame, outPath: String,
      rejectsPath: Option[String], checkpointDir: String, trigger: Trigger,
      compactEvery: Int, compact: SparkSession => Unit)
      (probe: (DataFrame, DataFrame => DataFrame) => Admission)
      (append: DataFrame => Unit): StreamingQuery =
    runGate(docs, checkpointDir, trigger, compactEvery, compact) { (bb, hold) =>
      val a = probe(bb, hold)
      graft.util.Par.run(
        (for (p <- rejectsPath; r <- a.rejects)
          yield () => r.write.mode("append").parquet(p)).toSeq :+
        (() => a.admitted.write.mode("append").parquet(outPath)): _*)
      append(a.admitted)
    }

  /** The streaming curation chain CUT AGAINST A FROZEN CENSUS — the
    * round-10 verdict's missing operator: continuous ingest where every
    * arriving document is deduplicated (watermark-bounded state), has
    * its reference-duplicating substrings removed at batch-proportional
    * probe cost (the reference corpus is never re-scanned), is gated,
    * scrubbed, split, and appended to `outPath` as parquet.
    *
    * The probe needs a tiny driver-side step per micro-batch (the
    * census bucket collect), so the cut runs per micro-batch —
    * everything upstream of the sink (the dedup gate) is the ordinary
    * incremental streaming plan, and the per-batch work is
    * batch-proportional by [[graft.text.Substrings.newDupSpans]]'
    * contract.
    *
    * `appendAfterCut = true` composes the `q_st_substr` ingest
    * discipline with the cut: after a batch is cut and written, its RAW
    * grams are appended into the index, so a LATER batch repeating this
    * batch's text collides and gets cut — cross-batch dedup with
    * first-arrival-wins semantics, exactly the dedup gate's discipline
    * at substring granularity. (Within one micro-batch, repeats pass
    * uncut — the documented horizon of on-arrival semantics; the batch
    * sweep remains the completeness backstop.)
    *
    * `compactEvery = N` runs [[graft.text.Substrings.compactCensus]] on
    * the [[runGate]] cadence — appendAfterCut only, refused otherwise: a
    * read-only probe never grows the index, so the knob would be
    * silently meaningless. Census compaction is probe-invisible because
    * readers sum `n` and sum is associative (DocStreamSpec pins output
    * equality across cadences), and crash-safe ([[graft.util.DirCommit]]
    * — the next probe's validate finishes a sealed swap or undoes one
    * that left the census missing, the next compaction the rest). */
  def curateStreamAgainstIndex(docs: DataFrame, idCol: String,
      textName: String, timeCol: String, watermark: String,
      indexDir: String, outPath: String, checkpointDir: String,
      minQuality: Int = 3, langs: Seq[String] = Seq("en"),
      salt: String = "42",
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      lineGate: Option[Int] = None, appendAfterCut: Boolean = false,
      compactEvery: Int = 0, trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    require(compactEvery == 0 || appendAfterCut,
      "compactEvery without appendAfterCut: a read-only probe stream " +
        "never grows the index — drop the knob or turn on appendAfterCut")
    // open the frozen index ONCE, before the first micro-batch: the
    // probe contract (k/buckets/mode/hash) is immutable for the index's
    // lifetime, so per-batch manifest reads + stats lookups would be
    // pure trigger-cadence overhead at ingest rates of thousands of
    // micro-batches
    val idx = graft.text.Substrings.openIndex(docs.sparkSession, indexDir)
    runGate(dedupExactStream(docs, col(textName), timeCol, watermark),
        checkpointDir, trigger, compactEvery,
        graft.text.Substrings.compactCensus(_, idx.dir)) { (bb, hold) =>
      // the cut's plan captures the probe's checkpointed batch census
      hold(curateBatchAgainstIndex(bb, idCol, textName, idx, minQuality,
        langs, salt, weights, lineGate)).write.mode("append").parquet(outPath)
      if (appendAfterCut)
        graft.text.Substrings.appendToIndex(bb, idCol, col(textName), idx,
          maxChars = 0)
    }
  }

  /** Streamed index INGEST — the [[graft.util.StagedIndex]] trait's
    * streaming twin: "drain a live feed into a staged index" as ONE
    * entry point for every kind. The manifest is read ONCE before the
    * first micro-batch and the kind's streamed append is opened from
    * [[StagedKinds]] (census kinds open the index handle once — zero
    * per-batch manifest/stats reads, the continuous-ingest discipline);
    * each micro-batch then pays exactly the kind's batch-proportional
    * append, and `compactEvery` runs the kind's compactor on the
    * [[runGate]] cadence. The checkpoint tracks source offsets only —
    * the index IS the state, so any concurrent probe (a batch job,
    * another stream) sees everything ingested so far.
    *
    * `valueCol` names the text column (bm25 / census / minhash bands /
    * fingerprints) or the embedding column (ivf_pq / ivf_flat).
    * `assumeNewIds` passes through to the id-carrying kinds' new-ids
    * guard.
    *
    * Delivery contract on replay of an interrupted micro-batch: the
    * id-FREE kinds (census, fingerprints) re-append harmlessly
    * (duplicate rows are probe-invisible; compaction collapses them);
    * the id-CARRYING kinds' new-ids guard refuses the replay LOUDLY
    * (fail closed — restage, or assumeNewIds with upstream proof),
    * the [[graft.text.Dedup.appendBandIndex]] crash discipline. */
  def ingestStream(docs: DataFrame, idCol: String, valueCol: String,
      indexDir: String, checkpointDir: String,
      assumeNewIds: Boolean = false, compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = docs.sparkSession
    val kind = StagedKinds.at(spark, indexDir)
    val append = kind.append(spark, indexDir, idCol, valueCol, assumeNewIds)
    runGate(docs, checkpointDir, trigger, compactEvery,
      kind.compact(_, indexDir))((b, _) => append(b))
  }

  /** Streaming EXACT-admission gate against a staged fingerprint index
    * ([[graft.text.Dedup.stageFingerprints]]) — the crawl-ingest
    * admission service as one verb: each micro-batch probes the index
    * ([[graft.text.Dedup.exactNewStaged]] — batch-internal repeats
    * collapse to the min-id winner, already-seen texts are rejected at
    * bucket-pruned batch-proportional cost), the ADMITTED docs append
    * to `outPath`, and their fingerprints append into the index — so
    * later micro-batches, and later RUNS, reject repeats of everything
    * admitted so far. Sinks, release and the `compactEvery` cadence
    * ([[graft.text.Dedup.compactFingerprints]]) follow [[runAdmission]].
    *
    * The dedup state lives IN THE INDEX, not in a Spark state store:
    * no watermark, an unbounded horizon, restart with a FRESH
    * checkpoint still rejects everything ever admitted, and any other
    * probe of the same index (a batch `exactNewStaged`, another
    * stream) sees the same admission state. Replay after a crash
    * between the out and fingerprint appends keeps admission STATE
    * exact — re-appending a fingerprint is probe-invisible
    * ([[graft.text.Dedup.appendFingerprints]]).
    *
    * Null-text rows are DROPPED, not admitted: admission is
    * content-keyed and a contentless row has no fingerprint — passing
    * it through (exactNew's batch semantics, where one probe = one
    * decision) would here re-admit a null row on EVERY micro-batch
    * forever, since nothing ever records it as seen.
    *
    * `outPath` carries the FULL input schema: the admitted ids
    * semi-join the original micro-batch, so metadata columns
    * (timestamps, source, language) survive curation — a corpus is
    * more than (id, text). One row per admitted id, the min-id winner
    * of its content hash (ids are assumed unique per batch — the
    * admission contract shared with every id-carrying append).
    *
    * `rejectsPath = Some(dir)` writes every rejection's evidence
    * instead of discarding it — the `-curate` fate-audit discipline,
    * shared across the admission family: (id, ch) rows, where `ch` is
    * the doc's content fingerprint (md5 — the fingerprint index is
    * id-FREE, so the matched "reference" IS the fingerprint; an
    * in-batch loser carries the same `ch` as its admitted winner, which
    * links the two in the audit). */
  def admitStream(docs: DataFrame, idCol: String, textName: String,
      indexDir: String, outPath: String, checkpointDir: String,
      compactEvery: Int = 0, rejectsPath: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    runAdmission(docs.filter(col(textName).isNotNull), outPath,
        rejectsPath, checkpointDir, trigger, compactEvery,
        graft.text.Dedup.compactFingerprints(_, indexDir)) { (bb, hold) =>
      val winners = hold(graft.text.Dedup.exactNewStaged(bb, idCol,
        col(textName), indexDir)).select(idCol)
      Admission(bb.join(winners, Seq(idCol), "left_semi"),
        Some(bb.join(winners, Seq(idCol), "left_anti")
          .select(col(idCol), contentKey(col(textName)).as("ch"))))
    } { admitted =>
      graft.text.Dedup.appendFingerprints(admitted, col(textName), indexDir)
    }

  /** Streaming NEAR-DUP admission gate against a staged minhash band
    * index ([[graft.text.Dedup.stageBandIndex]]) — [[admitStream]]'s
    * LSH twin, completing the streaming admission pair (exact via the
    * fingerprint set, near via the band index): each micro-batch signs
    * itself under the index's frozen recipe and probes the bands scan
    * ([[graft.text.Dedup.lshNewCandidatesStaged]] — statically pruned
    * to the batch's band buckets, batch-proportional), docs with ANY
    * index candidate are REJECTED, the admitted docs append to
    * `outPath` with the FULL input schema, and their band signatures
    * append into the index — so later micro-batches, and later RUNS,
    * reject near-copies of everything admitted so far. Sinks, release
    * and the `compactEvery` cadence ([[graft.text.Dedup.compactBandIndex]])
    * follow [[runAdmission]].
    *
    * Admission is CANDIDATE-keyed by default (one shared LSH band ⇒
    * reject), the high-recall gate of the banded-minhash design — but
    * LSH bands collide by CHANCE at a measurable drip (the 100×
    * sweep recorded 2 chance collisions in ~1400 probe rows), and a
    * candidate-keyed gate silently drops those innocent documents
    * forever. Two production knobs close that:
    *
    *  - '''verifyJaccard = Some(t)''': a candidate pair only REJECTS
    *    if its exact word-n-gram Jaccard (shingle width from the
    *    index's frozen recipe, [[graft.text.Dedup.jaccardVerify]]) is
    *    ≥ `t` — a chance band collision between unrelated texts
    *    verifies near 0 and the doc is admitted. The matched side's
    *    text comes from ONE of two authorities:
    *     - '''the index itself''' (staged with
    *       [[graft.text.Dedup.stageBandIndex]] `storeTexts = true` —
    *       the production shape): every signed doc's text lives on its
    *       id-bucketed `ids/` row, appends (including this gate's own)
    *       carry their texts, and the per-batch fetch reads ONLY the
    *       bucket partitions holding a candidate id
    *       ([[graft.text.Dedup.bandIndexTexts]]) — verify cost is
    *       candidate-proportional end-to-end, nothing corpus-sized is
    *       scanned per micro-batch. `refTexts` must NOT be passed (two
    *       text authorities for one id would be ambiguous).
    *     - '''caller-supplied frames''' (legacy, index staged without
    *       texts): `refTexts` (REQUIRED then) is the staged corpus'
    *       (id, text) frame, and previously-ADMITTED docs' texts are
    *       re-read from `outPath` each batch — one admitted-corpus
    *       scan per micro-batch, a per-batch cost that GROWS with
    *       everything ever admitted; acceptable for bounded drains,
    *       wrong for a continuous service — restage with storeTexts.
    *    Either way the candidate texts are deduplicated by id with
    *    deterministic precedence (batch > index/out > refTexts) before
    *    shingling, so at-least-once replay duplicates in `outPath` and
    *    a batch row colliding with a known id can never yield
    *    duplicate or ambiguous verification rows. Cross-surface id
    *    UNIQUENESS remains the gate's contract (ids are the admission
    *    identity; the index append guard enforces it for every
    *    admitted doc) — the precedence exists to keep a violation
    *    fail-safe, not to bless it. A pair whose text is missing drops
    *    UNVERIFIED → the doc admits, fail-open by design: a gate must
    *    not reject on evidence it cannot read.
    *  - '''rejectsPath = Some(dir)''': every rejection writes its
    *    evidence — (id, ref_id, jaccard; jaccard null when verify is
    *    off) — instead of discarding it: the `-curate` fate-audit
    *    discipline applied to the gate.
    *
    * Near-dups WITHIN one micro-batch are admitted together (the probe
    * is index-keyed; in-batch near-dedup is the upstream
    * [[dedupMinhashStream]] / batch `lshCandidates` operator) — they
    * become ONE index append, so a near-copy in any LATER batch is
    * rejected by either member. Docs too short to sign a band
    * (< shingle_words words) carry no near-dup identity: always
    * admitted, never indexed (the exact gate is their keeper).
    *
    * State lives IN THE INDEX (the [[admitStream]] contract: no
    * watermark, unbounded horizon, fresh-checkpoint restarts keep the
    * admission state, concurrent probes see it immediately). The band
    * append keeps [[graft.text.Dedup.appendBandIndex]]'s fail-closed
    * crash discipline: a replay after a mid-append crash refuses
    * loudly on the new-ids guard instead of double-counting bands.
    * Null-text rows are dropped (no content ⇒ no admission identity —
    * see [[admitStream]]'s null contract). */
  def admitNearStream(docs: DataFrame, idCol: String, textName: String,
      indexDir: String, outPath: String, checkpointDir: String,
      maxBucket: Int = 1000, compactEvery: Int = 0,
      verifyJaccard: Option[Double] = None,
      refTexts: Option[DataFrame] = None,
      rejectsPath: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(verifyJaccard.forall(t => t > 0.0 && t <= 1.0),
      "verifyJaccard must be in (0, 1]")
    // frozen recipe read ONCE: the verify stage must shingle at the
    // index's width or its Jaccard would disagree with the bands, and
    // the text authority (store_texts) is part of the same recipe
    val mf = graft.util.IndexManifest.validate(docs.sparkSession, indexDir,
      graft.util.IndexManifest.KindMinhashBands)
    val shingleWords = mf.paramInt("shingle_words")
    val indexTexts = mf.params.get("store_texts").contains("1")
    require(verifyJaccard.isEmpty || refTexts.nonEmpty || indexTexts,
      "verifyJaccard needs a text authority: this index stores " +
        "signatures only — restage it with storeTexts=true (the " +
        "batch-proportional shape) or pass the staged corpus' " +
        "(id, text) frame as refTexts")
    require(refTexts.isEmpty || !indexTexts,
      "this index stores its own texts (storeTexts=true) — drop " +
        "refTexts: two text authorities for one id would make the " +
        "Jaccard evidence ambiguous")
    runAdmission(docs.filter(col(textName).isNotNull), outPath,
        rejectsPath, checkpointDir, trigger, compactEvery,
        graft.text.Dedup.compactBandIndex(_, indexDir)) { (bb, hold) =>
      // candidate (batch_id, ref_id) pairs — lazy, but its plan captures
      // the probe's internal checkpointed band frame
      val cand = hold(graft.text.Dedup.lshNewCandidatesStaged(bb, idCol,
        col(textName), indexDir, maxBucket))
      // the rejecting evidence (batch_id, ref_id, jaccard): every
      // candidate pair (verify off), or only Jaccard-confirmed pairs
      val evidence = verifyJaccard match {
        case Some(t) =>
          // jaccardVerify references its pairs several times — pass
          // them materialized (its stated contract). The texts are
          // materialized too: left lazy, jaccardVerify re-plans the
          // precedence union inside each of its joins, where the union
          // can claim its children's hash partitioning yet execute as a
          // plain concatenation — a zip of unequal partition counts on
          // an exchanged (state-store) micro-batch
          val pairs = hold(cand.select(col("batch_id").as("id_a"),
            col("ref_id").as("id_b")).localCheckpoint(true))
          val texts = hold(verifyTexts(bb, pairs, idCol, textName,
            indexDir, indexTexts, refTexts, outPath).localCheckpoint(true))
          hold(graft.text.Dedup.jaccardVerify(texts, pairs, idCol,
              col(textName), shingleWords))
            .filter(col("jaccard") >= t)
            .select(col("id_a").as("batch_id"), col("id_b").as("ref_id"),
              col("jaccard"))
        case None =>
          cand.select(col("batch_id"), col("ref_id"),
            lit(null).cast("double").as("jaccard"))
      }
      val rejected = evidence.select(col("batch_id").as(idCol)).distinct()
      // admitted feeds the out write AND the band append: materialize
      Admission(
        hold(bb.join(rejected, Seq(idCol), "left_anti").localCheckpoint(true)),
        Some(evidence.select(col("batch_id").as(idCol), col("ref_id"),
          col("jaccard"))))
    } { admitted =>
      graft.text.Dedup.appendBandIndex(admitted, idCol, col(textName),
        indexDir)
    }
  }

  /** The candidate-pruned, precedence-deduplicated (id, text) frame
    * [[admitNearStream]]'s verify stage hands to `jaccardVerify`: each
    * text SURFACE is semi-join-pruned to the candidate-pair ids FIRST
    * (so every downstream step — the precedence dedup, the shingling —
    * is candidate-proportional), then one text per id survives with
    * deterministic precedence batch > index/out > refTexts (`min_by`
    * on the surface rank — at-least-once replay duplicates and
    * cross-surface id reuse collapse to one well-defined row instead
    * of fanning the pair rows out).
    *
    * Surfaces by text authority: a STORE-TEXTS index contributes the
    * bucket-pruned [[graft.text.Dedup.bandIndexTexts]] fetch of the
    * candidates' matched side (covering both the staged corpus and
    * everything this gate admitted — its appends carry texts), so
    * nothing corpus-sized is read; a legacy index contributes
    * `refTexts` plus the `outPath` re-scan ([[admittedTexts]] — the
    * documented corpus-proportional price). */
  private def verifyTexts(bb: DataFrame, pairs: DataFrame, idCol: String,
      textName: String, indexDir: String, indexTexts: Boolean,
      refTexts: Option[DataFrame], outPath: String): DataFrame = {
    val candIds = pairs.select(col("id_a").as(idCol))
      .unionByName(pairs.select(col("id_b").as(idCol))).distinct()
    val surfaces: Seq[DataFrame] =
      if (indexTexts) {
        // the matched side can only be an INDEXED doc — prune the
        // bucket collect to the pairs' ref side, not both sides.
        // refIds derives NARROWLY from the already-materialized pairs
        // checkpoint, so both consumers (the driver-side bucket
        // collect inside bandIndexTexts, the lazy semi-join) recompute
        // it from that block for pennies — no extra checkpoint to leak
        val refIds = pairs.select(col("id_b").as("ref_id")).distinct()
        Seq(bb.select(col(idCol), col(textName)),
          graft.text.Dedup.bandIndexTexts(refIds, indexDir)
            .select(col("ref_id").as(idCol), col("text").as(textName)))
      } else
        Seq(bb.select(col(idCol), col(textName)),
          admittedTexts(bb, outPath, idCol, textName),
          refTexts.get.select(col(idCol), col(textName)))
    surfaces.zipWithIndex
      .map { case (s, i) =>
        s.join(candIds, Seq(idCol), "left_semi")
          .withColumn("__pri", lit(i)) }
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(min_by(col(textName), col("__pri")).as(textName))
  }

  /** The (id, text) frame of everything ADMITTED so far — `outPath`
    * read back for [[admitNearStream]]'s LEGACY verify surface (index
    * staged without texts); empty (with the BATCH's id/text types, so
    * the union resolves) before the first admit lands. One
    * admitted-corpus scan per micro-batch — the cost that makes the
    * legacy surface wrong for a continuous drain (restage with
    * storeTexts for the bucket-pruned shape). */
  private def admittedTexts(batch: DataFrame, outPath: String,
      idCol: String, textName: String): DataFrame = {
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(outPath).select(col(idCol),
      col(textName))
    else batch.select(col(idCol), col(textName)).limit(0)
  }

  /** Streaming SEMANTIC admission gate against a staged IVF-flat index
    * ([[graft.ml.Similarity.stageIvfFlat]]) — the third member of the
    * admission family (exact via fingerprints, text-near via minhash
    * bands, embedding-near via exact quantized cosine over IVF-pruned
    * lists): each micro-batch probes its `nprobe` IVF lists
    * ([[graft.ml.Similarity.vecNewStaged]] — statically pruned,
    * batch-proportional, integer-exact cosine test), vectors with ANY
    * indexed neighbor of cosine ≥ `minCosPermille`/1000 are REJECTED,
    * admitted rows (FULL input schema) append to `outPath`, and their
    * quantized vectors append into the index — the SemDeDup curation
    * step as a live ingest service whose state lives IN THE INDEX
    * (the [[admitStream]] contract). Sinks, release and the
    * `compactEvery` cadence ([[graft.ml.Similarity.compactIvfFlat]])
    * follow [[runAdmission]].
    *
    * Replay is self-healing here: an exact copy probes the SAME lists
    * as its indexed original (identical vector ⇒ identical probes) and
    * cos = 1 rejects it, so a replayed batch whose vectors already
    * landed admits nothing and appends nothing. Near-dups within one
    * micro-batch are admitted together (index-keyed probe — the batch
    * [[graft.ml.Similarity.semanticDedup]] is the in-batch operator);
    * null AND zero-quantized embeddings are dropped (no direction ⇒
    * no identity — and a zero vector is un-rejectable by the cosine
    * test's `dot > 0`, so passing it through would re-admit it on
    * every replay and poison the append guard:
    * [[graft.ml.Similarity.vecNewStaged]]'s admissibility contract,
    * which is also what keeps replay self-healing).
    * `rejectsPath = Some(dir)` writes every rejecting (id, ref_id,
    * cos_permille) pair — [[graft.ml.Similarity.vecRejectedPairs]]'
    * evidence, same single probe ([[graft.ml.Similarity.vecNewStagedAudit]]).
    *
    * `reclusterSkew = s` (requires `compactEvery`) turns on DRIFT
    * AUTO-MAINTENANCE: at each compaction point, if the post-compact
    * [[graft.ml.Similarity.listSkew]] reads ≥ `s`, the index is
    * [[graft.ml.Similarity.reclusterIvfFlat]]'d — a drifting crawl
    * would otherwise pile new vectors into a few lists until probe
    * pruning degrades toward full scans, and "run describe and decide"
    * is not an answer for a gate sold as a continuous service. The
    * single-writer discipline covers the gate's own ordering (each
    * batch re-reads the centroids, so the NEXT probe uses the new
    * geometry), and the commit is READER-ATOMIC (generation
    * directories + one atomic manifest flip —
    * [[graft.ml.Similarity.reclusterIvfFlat]]): concurrent external
    * PROBES of a shared index keep working through a recluster; only
    * concurrent external WRITERS remain unsupported (the standing
    * single-writer append contract). Admission semantics may shift at
    * the nprobe margin (the documented recluster trade); with nprobe ≥
    * the centroid count they provably cannot (every list is probed
    * under any geometry), and exact copies always still reject. */
  def admitVecStream(docs: DataFrame, idCol: String, embName: String,
      indexDir: String, outPath: String, checkpointDir: String,
      minCosPermille: Int = 900, nprobe: Int = 4, compactEvery: Int = 0,
      reclusterSkew: Double = 0.0, reclusterIters: Int = 3,
      rejectsPath: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(reclusterSkew >= 0.0, "reclusterSkew must be >= 0")
    require(reclusterSkew == 0.0 || compactEvery > 0,
      "reclusterSkew rides the compaction cadence — set compactEvery " +
        "(a per-batch skew scan would pay a layout aggregate on every " +
        "micro-batch)")
    import graft.ml.Similarity
    def compact(spark: SparkSession): Unit = {
      Similarity.compactIvfFlat(spark, indexDir)
      if (reclusterSkew > 0.0 &&
          Similarity.listSkew(spark, indexDir).skew >= reclusterSkew)
        Similarity.reclusterIvfFlat(spark, indexDir, reclusterIters)
    }
    runAdmission(docs.filter(col(embName).isNotNull), outPath, rejectsPath,
        checkpointDir, trigger, compactEvery, compact) { (bb, hold) =>
      // both variants return eagerly materialized frames; the audit one
      // pays the same single probe and adds the rejecting pairs
      if (rejectsPath.isEmpty)
        Admission(hold(Similarity.vecNewStaged(bb, idCol, embName, indexDir,
          minCosPermille, nprobe)), None)
      else {
        val (adm, rej) = Similarity.vecNewStagedAudit(bb, idCol, embName,
          indexDir, minCosPermille, nprobe)
        Admission(hold(adm), Some(hold(rej)))
      }
    } { admitted =>
      Similarity.appendIvfFlat(admitted, idCol, embName, indexDir)
    }
  }
}
