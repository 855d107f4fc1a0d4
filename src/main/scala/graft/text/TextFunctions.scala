package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for the LLM-data-pipeline surface (SURVEY
  * §7.1-10): tokenization, shingling, quality stats, language-ID,
  * SimHash, and document fingerprinting.
  *
  * Everything here is a composition of built-in (codegen'd) SQL
  * functions — no UDFs — so the whole stage stays inside
  * WholeStageCodegen and is reproducible in any ANSI SQL engine (the
  * DuckDB oracle runs the literal same arithmetic).
  *
  * Scale notes: all per-document work is embarrassingly parallel (narrow
  * transformations, no shuffle); shingling cost is capped per document by
  * [[Shingles.MaxChars]] so a pathological 100 MB document cannot skew a
  * partition.
  */
object TextFunctions {

  /** Whitespace tokens — `\S+` runs, the reference tokenization for
    * counting. */
  def whitespaceTokens(text: Column): Column =
    regexp_extract_all(text, lit("""\S+"""), lit(0))

  /** BPE-ish subword segmentation: letter runs, single digits, single
    * punctuation marks — the shape a byte-pair pre-tokenizer produces. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("""[a-z]+|[0-9]|[^a-z0-9\s]"""), lit(0))

  /** Per-document quality statistics (length / alpha / digit / token
    * counts + ratios). Ratios are single exact IEEE divisions of integer
    * counts — deterministic across engines. */
  /** The full quality-stat record as ONE struct column — the SQL-surface
    * form (`graft_text_stats`); [[qualityStats]] expands it. The local
    * sub-expressions repeat across fields, but they live in one
    * projection where codegen's subexpression elimination dedups them. */
  def qualityStatsCol(text: Column): Column = {
    val nLen = length(text).cast("long")
    val nTokens = size(whitespaceTokens(text)).cast("long")
    val nAlpha = size(regexp_extract_all(text, lit("[A-Za-z]"), lit(0))).cast("long")
    // NULL (not Inf/NaN) for empty or whitespace-only docs, pinned on
    // both engine and oracle (NULLIF) so the zero case can't diverge
    val alphaRatio = when(nLen > 0, nAlpha.cast("double") / nLen)
    val avgTokenLen = when(nTokens > 0, nLen.cast("double") / nTokens)
    struct(
      nLen.as("n_len"),
      nTokens.as("n_tokens"),
      size(bpeishTokens(text)).cast("long").as("n_bpeish"),
      nAlpha.as("n_alpha"),
      size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("long").as("n_digit"),
      alphaRatio.as("alpha_ratio"),
      avgTokenLen.as("avg_token_len"),
      ((nTokens >= 10).cast("int") +
        (nTokens <= 1000).cast("int") +
        (avgTokenLen >= 3 && avgTokenLen <= 12).cast("int") +
        (alphaRatio > 0.7).cast("int")).as("quality_score"))
  }

  def qualityStats(df: DataFrame, text: Column): DataFrame = {
    val fields = Seq("n_len", "n_tokens", "n_bpeish", "n_alpha", "n_digit",
      "alpha_ratio", "avg_token_len", "quality_score")
    val withStruct = df.withColumn("__q", qualityStatsCol(text))
    fields.foldLeft(withStruct) { (d, f) =>
      d.withColumn(f, col("__q").getField(f))
    }.drop("__q")
  }

  /** Stopword-marker counts per language — the n-gram-heuristic
    * language-ID core. Counting `\b`-delimited markers is one regex scan
    * per language (codegen'd, no shuffle). */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> """\b(the|a|of|and|is)\b""",
    "fr" -> """\b(le|la|et|les|des)\b""",
    "es" -> """\b(el|los|las|y|que)\b""",
    "de" -> """\b(der|die|und|das|ist)\b""")

  /** Marker counts + argmax prediction as ONE struct column — the
    * SQL-surface form (`graft_lang_id`); [[languageId]] expands it. */
  def languageIdCol(text: Column): Column = {
    val t = lower(text)
    val counts = langMarkers.map { case (lang, pat) =>
      lang -> size(regexp_extract_all(t, lit(pat), lit(0))).cast("long")
    }
    val Seq(en, fr, es, de) = counts.map(_._2)
    val pred = when(en >= fr && en >= es && en >= de, "en")
      .when(fr >= es && fr >= de, "fr")
      .when(es >= de, "es")
      .otherwise("de")
    struct(counts.map { case (l, c) => c.as(s"${l}_n") } :+ pred.as("pred_lang"): _*)
  }

  /** Language-ID: argmax of marker counts with a fixed tie-break order
    * (en > fr > es > de). Returns df + one count column per language +
    * `pred_lang`. */
  def languageId(df: DataFrame, text: Column): DataFrame = {
    val fields = langMarkers.map { case (l, _) => s"${l}_n" } :+ "pred_lang"
    val withStruct = df.withColumn("__l", languageIdCol(text))
    fields.foldLeft(withStruct) { (d, f) =>
      d.withColumn(f, col("__l").getField(f))
    }.drop("__l")
  }

  /** 16-bit SimHash over the whitespace-token multiset.
    *
    * Bit j of a token's hash = bit (3 − j%4) of hex digit j/4 of
    * md5(token); the document bit is the majority vote (ties → 0), and
    * the signature packs the 16 bits little-endian. 16 bits keeps the
    * hex→bit arithmetic portable SQL; widen by raising `Bits` and the
    * digit math. Plan shape: explode(tokens) × explode(bit index) →
    * one partial hash-aggregate per (doc, j) → one per doc — two
    * map-side-combined shuffles on the doc key, no all-pairs work.
    */
  val SimhashBits = 16

  def simhash(df: DataFrame, idCol: String, text: Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.ExprBridge
    // NARROW plan: SimHashN packs the whole signature in one pass per
    // doc — zero shuffles (the exploded twin paid two hash aggregates
    // over tokens × 16 bit rows). Token-less docs drop via the CHEAP
    // input predicate, mirroring explode's no-row behavior — never by
    // filtering the computed signature (double-eval trap).
    df.select(col(idCol), whitespaceTokens(text).as("__tok"))
      .filter(size(col("__tok")) > 0)
      .select(col(idCol), ExprBridge.column(graft.functions.SimHashN(
        ExprBridge.expression(col("__tok")), SimhashBits)).as("simhash"))
  }

  /** 64-bit SimHash signature as a bare Column over a BOUND token-array
    * column — the fingerprint width the banded near-dup pipeline
    * ([[graft.text.Dedup.simhashCandidates]]) keys on. Same bit rule as
    * [[simhash]], just wider: bit 63 lands in the long's sign bit, so
    * consumers extract bands with shift-then-mask (sign-safe). */
  def simhash64Col(tokens: Column): Column =
    ExprBridge.column(graft.functions.SimHashN(
      ExprBridge.expression(tokens), 64))

  /** Hamming distance between two packed simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Token-multiset repetition stats as a struct column over a BOUND
    * token-array column — [[graft.functions.TokenStats]], one narrow
    * pass, zero shuffles. */
  def tokenStatsCol(tokens: Column): Column =
    ExprBridge.column(graft.functions.TokenStats(ExprBridge.expression(tokens)))

  /** Shannon character entropy (compressibility quality signal) as a
    * one-pass native projection — struct (n_chars, total_mnats,
    * entropy_nats); see [[graft.functions.CharEntropy]]. */
  def charEntropyCol(text: Column): Column =
    ExprBridge.column(graft.functions.CharEntropy(ExprBridge.expression(text)))

  /** Gopher-family repetition quality signals per document, all derived
    * from two one-pass [[tokenStatsCol]] projections (words and word
    * 2-grams) — the serious form of "quality scoring" a pretraining
    * pipeline filters on:
    *  - `dup_word_ratio`   = 1 − distinct words / words — boilerplate
    *    and keyword-stuffing pages score high;
    *  - `top_word_ratio`   = most frequent word / words — degenerate
    *    repetition ("buy buy buy …");
    *  - `dup_2gram_ratio`  = 1 − distinct 2-grams / 2-grams — phrase
    *    loops that word-level ratios miss.
    * Zero shuffles: the exploded formulation pays two aggregates over
    * one row per token OCCURRENCE; this is a per-row projection, so at
    * 100 TB the filter runs at scan speed. Token-less docs are dropped
    * via the cheap input predicate (explode-parity, and keeps the
    * expression out of Filter conditions). */
  def repetitionStats(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.filter(text.isNotNull)
      .select(col(idCol), whitespaceTokens(lower(text)).as("__tok"))
      // ≥ 2 words: a 2-gram exists, so no ratio is NULL (sub-2-word docs
      // carry no repetition signal to filter on anyway)
      .filter(size(col("__tok")) > 1)
      .select(col(idCol),
        tokenStatsCol(col("__tok")).as("__w"),
        tokenStatsCol(Shingles.wordNGramsOf(col("__tok"), 2)).as("__g"))
      .select(col(idCol),
        col("__w").getField("n_total").as("n_words"),
        col("__w").getField("n_distinct").as("n_distinct_words"),
        (lit(1.0) - col("__w").getField("n_distinct").cast("double")
          / col("__w").getField("n_total")).as("dup_word_ratio"),
        (col("__w").getField("top_count").cast("double")
          / col("__w").getField("n_total")).as("top_word_ratio"),
        col("__g").getField("n_total").as("n_2grams"),
        (lit(1.0) - col("__g").getField("n_distinct").cast("double")
          / col("__g").getField("n_total")).as("dup_2gram_ratio"))

  /** One-pass char-mass repetition stats over a BOUND token-array
    * column ([[graft.functions.TokenCharStats]]). */
  def tokenCharStatsCol(tokens: Column): Column =
    ExprBridge.column(graft.functions.TokenCharStats(ExprBridge.expression(tokens)))

  /** The FULL Gopher A1.2 n-gram repetition table (Rae et al. 2021,
    * MassiveText): what fraction of a document's characters sit in its
    * dominant or repeated word n-grams —
    *  - `top_{2,3,4}gram_char_permille`: char mass of the single most
    *    frequent n-gram (all its occurrences; ties to the
    *    lexicographically smallest) over the n-gram multiset's total
    *    char mass;
    *  - `dup_{5..10}gram_char_permille`: char mass of every n-gram
    *    occurring ≥ 2 times over the same total.
    * Gopher gates at ~0.18/0.16/0.14 for top-2/3/4 and ~0.15…0.10 for
    * dup-5…10 — integer per-mille here, so the thresholds are exact
    * integer comparisons in any engine.
    *
    * Char mass is over the n-gram MULTISET (each occurrence counts its
    * full length, spaces included; overlapping positions are NOT
    * unioned — positional union is [[Substrings.dupSpans]]' exact-span
    * semantics). Each column is one [[tokenCharStatsCol]] pass over the
    * shingle array — nine hashmap passes per document inside ONE
    * codegen'd projection: zero shuffles, scan speed. Docs with fewer
    * than n words score 0 for that n (no repetition evidence). */
  def repetitionCharStats(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val withToks = df.filter(text.isNotNull)
      .select(col(idCol), whitespaceTokens(lower(text)).as("__tok"))
    def permille(n: Int, field: String, out: String): Column = {
      val st = tokenCharStatsCol(Shingles.wordNGramsOf(col("__tok"), n))
      coalesce(when(st.getField("total_chars") > 0,
          floor(lit(1000) * st.getField(field) / st.getField("total_chars"))),
        lit(0L)).cast("long").as(out)
    }
    withToks.select(
      col(idCol) +:
        (size(col("__tok")).cast("long").as("n_words") +:
          ((2 to 4).map(n => permille(n, "top_chars", s"top_${n}gram_char_permille")) ++
            (5 to 10).map(n => permille(n, "dup_chars", s"dup_${n}gram_char_permille")))): _*)
  }

  /** Vocabulary building: global token frequencies + document
    * frequencies, top-K by count (ties broken by token — a total order,
    * so the cutoff is deterministic). The canonical word-count: one
    * map-side-combined aggregate on the token; `countDistinct(doc)` is
    * exact for the oracle — at 100 TB swap in `approx_count_distinct`
    * (HLL, same single-aggregate plan) when ±2% doc-frequency error is
    * acceptable. topK lands as TakeOrdered (per-partition heaps + one
    * k-row merge), never a global sort. */
  def vocabulary(df: DataFrame, idCol: String, text: Column,
      topK: Int): DataFrame =
    df.filter(text.isNotNull)
      .select(col(idCol), explode(whitespaceTokens(lower(text))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"), countDistinct(col(idCol)).as("doc_freq"))
      .orderBy(col("n").desc, col("tok"))
      .limit(topK)

  /** Zipf rank-frequency fit over the top-`topK` vocabulary — the
    * corpus-health diagnostic next to [[vocabularyDrift]]: natural
    * corpora follow ln(freq) ≈ intercept + slope·ln(rank) with slope
    * near −1 and high r²; template/spam floods flatten the head
    * (slope → 0) and machine-generated token salad breaks linearity
    * (r² drops). One row: (n_terms, slope, intercept, r2); slope is
    * dimensionless, intercept in NATS (ln of the extrapolated rank-1
    * frequency).
    *
    * Determinism: ln(rank) and ln(freq) are floored to integer
    * MICRO-nats per term, the moment sums accumulate in decimal(38,0)
    * (exact — a long sum of y² would wrap past vocab ~10⁶ × freq
    * ~10¹³), and the closed-form least squares is one fixed IEEE tree
    * over the exact sums cast to double — engines agree bit-for-bit
    * (residual ln-ulp caveat as in [[unigramSurprisal]]).
    *
    * Scale shape: everything after `vocabulary`'s TakeOrdered runs on
    * ≤ topK rows (the ranking window is bounded by construction). */
  def zipfFit(df: DataFrame, idCol: String, text: Column,
      topK: Int): DataFrame = {
    val w = Window.orderBy(col("n").desc, col("tok"))
    val dec = DecimalType(38, 0)
    val q = vocabulary(df, idCol, text, topK)
      .withColumn("rank", row_number().over(w))
      .select(
        floor(lit(1000000.0) * log(col("rank").cast("double")))
          .cast("long").as("x"),
        floor(lit(1000000.0) * log(col("n").cast("double")))
          .cast("long").as("y"))
    val s = q.agg(count(lit(1)).cast("long").as("cnt"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    def d(c: String): Column = col(c).cast("double")
    s.select(col("cnt").as("n_terms"),
        (d("cnt") * d("sxy") - d("sx") * d("sy")).as("num"),
        (d("cnt") * d("sxx") - d("sx") * d("sx")).as("den"),
        (d("cnt") * d("syy") - d("sy") * d("sy")).as("den2"),
        d("sx").as("sxd"), d("sy").as("syd"))
      .select(col("n_terms"),
        (col("num") / col("den")).as("slope"),
        ((col("syd") - col("num") / col("den") * col("sxd"))
          / col("n_terms").cast("double") / lit(1000000.0)).as("intercept"),
        (col("num") * col("num") / (col("den") * col("den2"))).as("r2"))
  }

  /** Vocabulary drift between two corpus snapshots — the monitoring
    * operator of a continuously-ingesting pipeline: which terms became
    * more/less frequent between snapshot `a` and snapshot `b`, and how
    * much each contributes to the KL divergence KL(a ‖ b). Laplace
    * (add-one) smoothing over the UNION vocabulary keeps terms absent
    * from one side finite: `p_x(t) = (c_x(t)+1)/(N_x+V)`.
    *
    * Determinism discipline (the [[unigramSurprisal]] convention): the
    * per-term log-ratio `ln(p_a/p_b)` is one fixed IEEE expression tree
    * — a double product each side, one division, one ln — floored to
    * integer MILLI-NATS; the KL contribution is then pure integer
    * arithmetic: `p_micro = 10⁶·(c_a+1) DIV (N_a+V)` (a truncated
    * micro-probability ≤ 10⁶, so `p_micro·logratio_mn` can never
    * overflow; the 10⁶·(c_a+1) intermediate itself is exact below
    * ~9·10¹² occurrences of one term — switch the literal to
    * DECIMAL(38,0) beyond) times `logratio_mn`.
    * Σ kl_contrib / 10⁹ ≈ KL(a‖b) in nats.
    *
    * Plan shape: each snapshot is one map-side-combined token count;
    * the two vocabularies meet in a full-outer hash join on the term
    * key (linear, co-partitioned); N_a/N_b/V ride a broadcast 1-row
    * cross join. Nothing corpus-sized is sorted or broadcast. Output:
    * (term, count_a, count_b, logratio_mn, kl_contrib), one row per
    * union-vocabulary term. */
  def vocabDrift(a: DataFrame, b: DataFrame, text: Column): DataFrame = {
    def counts(df: DataFrame, as: String) = df.filter(text.isNotNull)
      .select(explode(whitespaceTokens(lower(text))).as("term"))
      .groupBy("term").agg(count(lit(1)).as(as))
    val joined = counts(a, "count_a")
      .join(counts(b, "count_b"), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("count_a"), lit(0L)).as("count_a"),
        coalesce(col("count_b"), lit(0L)).as("count_b"))
      .persist() // feeds the stats row AND the scored output
    try {
      val stats = joined.agg(sum(col("count_a")).as("n_a"),
        sum(col("count_b")).as("n_b"), count(lit(1)).as("v"))
      val out = joined.crossJoin(broadcast(stats))
        .withColumn("logratio_mn", floor(lit(1000.0) * log(
          ((col("count_a") + 1).cast("double") * (col("n_b") + col("v"))) /
            ((col("count_b") + 1).cast("double") * (col("n_a") + col("v")))))
          .cast("long"))
        .withColumn("kl_contrib",
          expr("(1000000 * (count_a + 1) DIV (n_a + v)) * logratio_mn"))
        .select("term", "count_a", "count_b", "logratio_mn", "kl_contrib")
      out.localCheckpoint(true)
    } finally { joined.unpersist(false); () }
  }

  /** Unigram-LM surprisal — the CCNet-style "perplexity" quality
    * signal, with a unigram model in place of a trained LM: documents
    * whose tokens are globally rare (or whose token mix is unusual)
    * score high and are candidates for the dirty bucket; boilerplate
    * scores low.
    *
    * Determinism discipline: each token's −log p is QUANTIZED to
    * integer milli-nats (floor(−1000·ln(count/total))) BEFORE the
    * per-document sum, so the aggregate is exact integer arithmetic —
    * a double sum of logs would be summation-order-dependent across
    * engines. The final per-token average is one double division.
    *
    * Plan shape: the model is the token-frequency table (the
    * [[vocabulary]] aggregate, unlimited); docs explode to tokens and
    * join it — at 100 TB the vocab (millions of rows, two columns)
    * broadcasts, so the probe side never shuffles; the only exchange is
    * the per-doc sum. OOV tokens cannot exist when the model is built
    * from the scored corpus itself; scoring NEW docs against a frozen
    * model needs a smoothing floor — callers pre-join and fill. */
  def unigramSurprisal(df: DataFrame, idCol: String, text: Column,
      stagingDir: Option[String] = None): DataFrame = {
    // the token table feeds three subtrees (model, total, probe):
    // materialize once, release on return. `stagingDir` switches the
    // corpus-sized intermediate from persist() to a parquet staging
    // write — the production shape at 100 TB (util/Staging contract,
    // as in bm25TopK / Dsir / containmentPairs).
    val (toks, release) = graft.util.Staging.stage(
      df.filter(text.isNotNull)
        .select(col(idCol), explode(whitespaceTokens(lower(text))).as("tok")),
      stagingDir, "surprisal_toks")
    try {
      val total = toks.count()
      val model = toks.groupBy("tok").agg(count(lit(1)).as("__tf"))
      toks.join(broadcast(model), Seq("tok"))
        .withColumn("__mnats",
          floor(lit(-1000.0) * log(col("__tf").cast("double") / total)).cast("long"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("__mnats")).as("total_mnats"))
        .withColumn("avg_surprisal_nats",
          col("total_mnats").cast("double") / lit(1000.0) / col("n_tokens"))
        .localCheckpoint(true)
    } finally { release() }
  }

  /** [[unigramSurprisal]] against a FROZEN model — the cross-split
    * shape (perplexity eval, CCNet-style quality scoring of NEW data
    * under a reference-corpus model) that the self-trained variant's
    * scaladoc defers to callers. The model is trained on `train` with
    * Laplace (add-one) smoothing over the TRAIN vocabulary, so a
    * scored token unseen in train gets the smoothing floor
    * `1/(N+V)` instead of −∞: `p(t) = (c(t)+1)/(N+V)`.
    *
    * Same exactness convention: per-token −ln p floored to integer
    * milli-nats before the per-doc sum. Scale shape: ONE groupBy over
    * the train tokens (map-side combined), the vocabulary-sized model
    * broadcasts (swap for an unhinted join past ~10⁸ terms), the
    * scored corpus explodes once. */
  def unigramSurprisalFrozen(train: DataFrame, score: DataFrame,
      idCol: String, text: Column): DataFrame = {
    val trainToks = train.filter(text.isNotNull)
      .select(explode(whitespaceTokens(lower(text))).as("tok"))
    val model = trainToks.groupBy("tok").agg(count(lit(1)).as("__tf"))
      .persist()
    try {
      val agg = model.agg(sum(col("__tf")).as("__n"),
        count(lit(1)).as("__v")).collect()(0)
      val denom = agg.getLong(0) + agg.getLong(1) // N + V
      score.filter(text.isNotNull)
        .select(col(idCol),
          explode(whitespaceTokens(lower(text))).as("tok"))
        .join(broadcast(model), Seq("tok"), "left")
        .withColumn("__mnats", floor(lit(-1000.0) * log(
          (coalesce(col("__tf"), lit(0L)) + lit(1L)).cast("double") / denom))
          .cast("long"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__tf").isNull, 1L).otherwise(0L)).as("n_unseen"),
          sum(col("__mnats")).as("total_mnats"))
        .withColumn("avg_surprisal_nats",
          col("total_mnats").cast("double") / lit(1000.0) / col("n_tokens"))
        .localCheckpoint(true)
    } finally { model.unpersist(false); () }
  }

  /** Bigram-LM surprisal — the next rung above [[unigramSurprisal]] on
    * the CCNet/KenLM quality ladder: each token is scored by its
    * in-context probability `p(w_i | w_{i−1})` from a bigram model
    * trained on the scored corpus itself, so formulaic boilerplate
    * (predictable continuations) scores LOW while incoherent token
    * salad scores HIGH — a separation unigram frequency cannot make.
    * The first token of a document has no context and scores against
    * the unigram model (the standard sentence-start backoff).
    *
    * Same exactness convention as [[unigramSurprisal]]: every
    * per-token −ln p is quantized to integer milli-nats BEFORE the
    * per-document sum, so the aggregate is exact integer arithmetic
    * with the documented residual ln-ulp caveat on the quantization
    * itself.
    *
    * Plan shape: tokens explode ONCE, with the previous token carried
    * NARROW from the token array (struct-explode — no positions
    * self-join); the exploded table feeds four subtrees (unigram
    * model, bigram model, context totals, probe) so it persists for
    * the duration and is released on return. The unigram model
    * broadcasts (vocabulary-sized). The BIGRAM model is the one table
    * that outgrows a broadcast at 100 TB (distinct bigrams run ~10×
    * vocabulary) — its join strategy is left to AQE: auto-broadcast
    * while it fits, hash join co-partitioned on (prev, tok) beyond,
    * still sort-free. Scoring NEW docs against a frozen model needs a
    * smoothing floor for unseen bigrams — callers pre-join and fill
    * (OOV cannot exist when the model is the corpus itself). */
  def bigramSurprisal(df: DataFrame, idCol: String, text: Column,
      stagingDir: Option[String] = None): DataFrame = {
    val toks = whitespaceTokens(lower(text))
    val (pos, release) = graft.util.Staging.stage(
      df.filter(text.isNotNull)
        .select(col(idCol), toks.as("__toks"))
        .filter(size(col("__toks")) >= 1)
        .select(col(idCol), explode(transform(
          sequence(lit(1), size(col("__toks"))),
          i => struct(element_at(col("__toks"), i).as("tok"),
            when(i > 1, element_at(col("__toks"), i - 1)).as("prev")))).as("__p"))
        .select(col(idCol), col("__p.tok").as("tok"), col("__p.prev").as("prev")),
      stagingDir, "surprisal_bigram_pos")
    try {
      val total = pos.count()
      val uni = pos.groupBy("tok").agg(count(lit(1)).as("__tf"))
      val bi = pos.filter(col("prev").isNotNull)
        .groupBy("prev", "tok").agg(count(lit(1)).as("__bf"))
      val ctx = bi.groupBy("prev").agg(sum(col("__bf")).as("__cf"))
      val firsts = pos.filter(col("prev").isNull)
        .join(broadcast(uni), Seq("tok"))
        .select(col(idCol), floor(lit(-1000.0) *
          log(col("__tf").cast("double") / total)).cast("long").as("__mnats"))
      val rest = pos.filter(col("prev").isNotNull)
        .join(bi, Seq("prev", "tok"))
        .join(ctx, Seq("prev"))
        .select(col(idCol), floor(lit(-1000.0) *
          log(col("__bf").cast("double") / col("__cf"))).cast("long").as("__mnats"))
      firsts.unionByName(rest)
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_tokens"), sum(col("__mnats")).as("total_mnats"))
        .withColumn("avg_surprisal_nats",
          col("total_mnats").cast("double") / lit(1000.0) / col("n_tokens"))
        .localCheckpoint(true)
    } finally { release() }
  }

  /** Canonical text normalization — the pre-dedup cleanup pass:
    * lowercase, control characters (and NBSP) to spaces, whitespace
    * runs collapsed to one space, trimmed. Raw exact dedup misses
    * byte-level variants of the same content (case, doubled spaces,
    * CRLF vs LF, stray control bytes); hashing the NORMALIZED form
    * groups them. A pure narrow projection; the character classes use
    * explicit `\x` ranges so Java and RE2 engines (and the DuckDB
    * oracle) agree byte-for-byte. */
  def normalizeCol(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), """[\x00-\x1f\x7f\xa0]""", " "),
      """ +""", " "))

  /** Per-document top-`k` keywords by tf-idf — the keyword-extraction /
    * topic-tagging pass of a curation pipeline.
    *
    * idf is quantized to integer MILLI-NATS (`floor(1000·ln(N/df))`)
    * before the `tf × idf` product, so every score is exact integer
    * arithmetic and the ranking is engine-reproducible (a double
    * product would tie-break differently across libm implementations —
    * same rule as [[unigramSurprisal]]). Ties break on the token.
    *
    * Plan shape: one map-side-combined (doc, token) count; the document
    * frequency table derives from it (vocabulary-sized, BROADCAST back
    * — same assumption as [[vocabulary]]/[[unigramSurprisal]]); corpus
    * size N rides a 1-row broadcast cross join (the plan stays lazy);
    * the only other exchange is the per-document top-k window, whose
    * partitions are single documents' vocabularies — never hot. The
    * (doc, token) aggregate feeds two subtrees (probe + doc_freq), so
    * it persists for the duration and is released on return. */
  def tfIdfTopK(df: DataFrame, idCol: String, text: Column, k: Int = 3,
      stagingDir: Option[String] = None): DataFrame = {
    require(k > 0, "k must be positive")
    val nonNull = df.filter(text.isNotNull)
    val (tf, release) = graft.util.Staging.stage(
      nonNull
        .select(col(idCol), explode(whitespaceTokens(lower(text))).as("tok"))
        .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf")),
      stagingDir, "tfidf_tf")
    try {
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("doc_freq"))
      val n = nonNull.agg(count(lit(1)).as("__n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("score_mnats").desc, col("tok"))
      tf.join(broadcast(dfreq), Seq("tok")).crossJoin(broadcast(n))
        .withColumn("score_mnats", col("tf") *
          floor(lit(1000.0) * log(col("__n").cast("double") / col("doc_freq")))
            .cast("long"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(idCol), col("rank"), col("tok"), col("tf"),
          col("doc_freq"), col("score_mnats"))
        .localCheckpoint(true)
    } finally { release() }
  }

  /** Content fingerprint: the lexicographic min of md5 over the
    * document's char-shingle set (a 1-hash MinHash — winnowing-lite),
    * plus the distinct-shingle count. Stable under reordering of
    * identical content windows.
    *
    * NARROW plan: [[graft.functions.ShingleStats]] computes both values
    * in one pass per doc — no explode, no per-doc hash aggregate (the
    * exploded plan shuffled one row per (doc, shingle)), and each
    * DISTINCT shingle is digested once. Pinned equal to
    * [[fingerprintExploded]] by ExprsSpec. */
  def fingerprint(df: DataFrame, idCol: String, text: Column, k: Int = 12): DataFrame = {
    import org.apache.spark.sql.graftbridge.ExprBridge
    // the null filter runs on the INPUT column: `__st` is null exactly
    // when `text` is null, and filtering on the computed struct would
    // push the whole digest pipeline into the Filter condition — the
    // plan then pays shingles+md5 TWICE per row (filter + project).
    // Bonus: an input-column predicate reaches the parquet scan.
    df.filter(text.isNotNull)
      .select(col(idCol),
        substring(lower(text), 1, Shingles.MaxChars).as("__t"))
      .select(col(idCol), ExprBridge.column(graft.functions.ShingleStats(
        ExprBridge.expression(Shingles.charShinglesOf(col("__t"), k)))).as("__st"))
      .select(col(idCol),
        col("__st").getField("fingerprint").as("fingerprint"),
        col("__st").getField("n_shingles").as("n_shingles"))
  }

  /** Declarative explode+aggregate formulation of [[fingerprint]]
    * (spec-only equivalence twin). */
  private[graft] def fingerprintExploded(df: DataFrame, idCol: String,
      text: Column, k: Int = 12): DataFrame =
    df.select(col(idCol),
        substring(lower(text), 1, Shingles.MaxChars).as("__t"))
      .select(col(idCol), explode(Shingles.charShinglesOf(col("__t"), k)).as("s"))
      .groupBy(col(idCol))
      .agg(min(md5(col("s"))).as("fingerprint"),
        countDistinct(col("s")).as("n_shingles"))
}

/** Shingle builders shared by dedup / fingerprinting.
  *
  * PERFORMANCE CONTRACT: the `*Of` variants take an ALREADY-BOUND
  * column (a projected attribute), not an arbitrary expression. An
  * expression referenced inside a higher-order-function lambda is
  * re-evaluated PER ELEMENT — common-subexpression elimination does not
  * reach into lambdas — so `transform(seq, i => f(split(text), i))`
  * recomputes the split O(len) times per document (measured 8× slowdown
  * on the shingle stage). Bind the array/prefix with `.select(...)`
  * first, then shingle the bound column. */
object Shingles {
  /** Shingling window cap — bounds per-document cost at scale; BOTH the
    * engine and any oracle must apply the same cap. */
  val MaxChars = 2048

  /** Character k-shingles over a BOUND capped-prefix column. Native
    * codegen expression (one loop per row); [[charShinglesHof]] is the
    * declarative reference it is pinned against. */
  def charShinglesOf(t: Column, k: Int): Column =
    ExprBridge.column(graft.functions.CharShingles(ExprBridge.expression(t), k))

  /** Declarative reference formulation of [[charShinglesOf]] (spec-only). */
  private[graft] def charShinglesHof(t: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
      i => substring(t, i, lit(k)))

  /** Character k-shingles of lower(text), capped at [[MaxChars]].
    * Convenience for small inputs/tests — hot paths bind the prefix
    * first (see class doc). */
  def charShingles(text: Column, k: Int): Column =
    charShinglesOf(substring(lower(text), 1, MaxChars), k)

  /** Word n-grams over a BOUND word-array column: a sub-n-word doc
    * yields one NULL shingle, matching SQL `w[i] || ' ' || w[i+1]`
    * semantics exactly. Native codegen expression (one loop per row);
    * [[wordNGramsHof]] is the declarative reference it is pinned
    * against. */
  def wordNGramsOf(w: Column, n: Int): Column =
    ExprBridge.column(graft.functions.WordNGrams(ExprBridge.expression(w), n))

  /** Declarative reference formulation of [[wordNGramsOf]] (spec-only):
    * try_element_at → NULL past the end, and `concat` (null-propagating,
    * unlike concat_ws). */
  private[graft] def wordNGramsHof(w: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
      i => concat((0 until n).flatMap { o =>
        val el = try_element_at(w, i + lit(o))
        if (o == 0) Seq(el) else Seq(lit(" "), el)
      }: _*))

  /** Word n-grams of lower(text). Convenience for small inputs/tests —
    * hot paths bind the split array first (see class doc). */
  def wordNGrams(text: Column, n: Int): Column =
    wordNGramsOf(split(lower(text), " "), n)
}
