package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: token statistics,
  * quality scoring, language identification, fingerprinting. All pure Column
  * expressions (codegen'd, pushdown-friendly); every ratio is a quotient of
  * two integers so results are bit-deterministic across engines.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, "\\s+")

  /** The r17 token-materialization rewrites bind the token array to an
    * internal `__w` column in selects that ALSO carry caller-named columns
    * (idCol and friends) — a caller column named `__w` would then produce a
    * duplicate/ambiguous reference and a confusing AnalysisException deep in
    * the plan. Fail fast at the API boundary instead. */
  private def requireNotReserved(api: String, names: String*): Unit = {
    val bad = names.filter(_ == "__w")
    require(bad.isEmpty,
      s"TextAnalysis.$api: column name __w is reserved for the internal " +
        "token array; rename the input column")
  }
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: maximal runs of letters / digits / other
    * non-space (a cheap proxy for byte-pair tokenizers: "x12ab" → x, 12, ab).
    * Formulated as run extraction rather than lookaround splitting — same
    * count, but the pattern is RE2-compatible, so a SQL oracle can mirror it
    * exactly. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]+"), lit(0)))

  /** Quality features: token count, distinct-token ratio (repetition signal),
    * mean token length, stopword ratio, punctuation ratio. */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def qualityFeatures(text: Column): Column = {
    val t = tokens(text)
    val nTok = size(t)
    val nDistinct = size(array_distinct(t))
    val nStop = size(filter(t, w => w.isin(EnStopwords.map(lit): _*)))
    val nPunct = length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
    struct(
      nTok.cast(LongType).as("n_tokens"),
      nDistinct.cast(LongType).as("n_distinct"),
      (nDistinct.cast(DoubleType) / nTok.cast(DoubleType)).as("distinct_ratio"),
      ((length(text) - nTok + 1).cast(DoubleType) / nTok.cast(DoubleType)).as("mean_token_len"),
      (nStop.cast(DoubleType) / nTok.cast(DoubleType)).as("stopword_ratio"),
      (nPunct.cast(DoubleType) / length(text).cast(DoubleType)).as("punct_ratio"))
  }

  /** The published Gopher document-quality rules (Rae et al. 2021 §A1.1) as
    * one turnkey per-document filter — the token-level subset our schema
    * supports (the line-shape rules — bullet/ellipsis lines, dup-line
    * fractions — live in [[repetitionSignals]]): word count in [minWords,
    * maxWords], mean word length in [3, 10], symbol-to-word ratio ('#'/'…')
    * ≤ 0.1, ≥ 80 % of words containing an alphabetic character, and at
    * least two distinct [[EnStopwords]] present. Returns one boolean column
    * per rule plus the conjunction `pass` — keep flags rather than
    * filtering so pipelines can report WHY documents fail (standard
    * practice when tuning a cleaning stack). Pure per-row expressions: no
    * shuffle, computed in one scan. */
  /** The five Gopher rule flags as named columns — shared by [[gopherRules]]
    * (per-document verdicts) and [[filterReport]] (per-source drop audit) so
    * both read ONE scan's worth of expressions. */
  private def gopherFlags(textCol: String, minWords: Int,
      maxWords: Int): Seq[(String, Column)] = {
    val t = tokens(col(textCol))
    val n = size(t)
    val meanLen = aggregate(t, lit(0L), (a, w) => a + length(w))
      .cast(DoubleType) / n.cast(DoubleType)
    val symbols = size(filter(t, w => w.contains("#") || w.contains("..."))) // '…' spelled ...
    val alpha = size(filter(t, w => w.rlike("[a-zA-Z]")))
    val stops = size(array_distinct(filter(t, w => w.isin(EnStopwords.map(lit): _*))))
    Seq(
      "word_count_ok" -> (n >= minWords && n <= maxWords),
      "mean_word_len_ok" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "symbol_ratio_ok" -> (symbols.cast(DoubleType) / n.cast(DoubleType) <= 0.1),
      "alpha_ratio_ok" -> (alpha.cast(DoubleType) / n.cast(DoubleType) >= 0.8),
      "stopword_ok" -> (stops >= 2))
  }

  def gopherRules(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val flags = gopherFlags(textCol, minWords, maxWords)
    docs.select(col(idCol) +: flags.map { case (nm, c) => c.as(nm) }: _*)
      .withColumn("pass", flags.map(f => col(f._1)).reduce(_ && _))
  }

  /** Per-source filter AUDIT over the Gopher rules — the drop-reason report
    * every production filter run ships with (what fraction of each source
    * fails, and WHICH rule cut it): per source, n documents, per-rule
    * failure counts, and how many pass everything. A rule suddenly cutting
    * one source disproportionately is the classic upstream-drift signal.
    *
    * Scale: the flags evaluate inline over the same single scan as
    * [[gopherRules]] (shared expression builder — no self-join back to the
    * corpus) followed by one map-side-combinable count aggregate; output is
    * |sources| rows. */
  def filterReport(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
      textCol: String = "text", groupCol: String = "source"): DataFrame = {
    val flags = gopherFlags(textCol, minWords, maxWords)
    val base = docs.select(
      col(groupCol) +: flags.map { case (nm, c) => c.as(nm) }: _*)
    base.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        (flags.map { case (nm, _) =>
          sum(when(!col(nm), 1L).otherwise(0L)).as(s"fail_${nm.stripSuffix("_ok")}")
        } :+ sum(when(flags.map(f => col(f._1)).reduce(_ && _), 1L)
          .otherwise(0L)).as("n_pass")): _*)
  }

  /** Composite quality score in [0,1]: penalize extreme repetition, reward
    * stopword presence (fluency proxy), penalize punctuation soup. Weights are
    * documented constants, not learned. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val rep = least(f.getField("distinct_ratio") * 2.0, lit(1.0))
    val stop = least(f.getField("stopword_ratio") * 5.0, lit(1.0))
    val punct = greatest(lit(1.0) - f.getField("punct_ratio") * 4.0, lit(0.0))
    (rep * 0.4 + stop * 0.3 + punct * 0.3)
  }

  /** Stopword-profile language ID (n-gram-free heuristic): count hits against
    * per-language function-word profiles, pick the max with a fixed
    * tie-break order; 'und' (undetermined) when no profile hits. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "es" -> Seq("el", "los", "las", "una", "es", "en", "que", "y"))

  def langId(text: Column): Column = {
    val t = transform(tokens(text), w => lower(w))
    val counts = LangProfiles.map { case (lang, words) =>
      lang -> size(filter(t, w => w.isin(words.map(lit): _*)))
    }
    // fixed priority: first profile in list wins ties (>= against later ones)
    val scored = counts.zipWithIndex.map { case ((lang, c), i) =>
      val beatsAll = counts.zipWithIndex.collect {
        case ((_, c2), j) if j < i => c > c2   // strictly beat earlier profiles
        case ((_, c2), j) if j > i => c >= c2  // ties go to earlier profiles
      }.foldLeft(c > 0)(_ && _)
      (lang, beatsAll)
    }
    scored.foldRight(lit("und")) { case ((lang, cond), acc) => when(cond, lang).otherwise(acc) }
  }

  /** Stable whole-document fingerprint: MD5 of whitespace-normalized,
    * lowercased text — engine-portable exact-dup key. */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Rolling polynomial fingerprint (Rabin-Karp style) over tokens, modular
    * arithmetic (31, 2^31-1 prime) so overflow semantics never differ across
    * engines: fp = Σ fold((acc*31 + tokHash) mod p). Content-defined and
    * locality-sensitive to prefixes — used for shift-tolerant chunk identity. */
  def rollingFingerprint(text: Column, p: Long = 2147483647L): Column =
    aggregate(tokens(text), lit(7L),
      (acc, w) => pmod(acc * 31 + pmod(xxhash64(w), lit(p)), lit(p)))

  /** Gopher-style repetition signals per document (public quality heuristics
    * for web-scale corpus filtering): duplicate-line fraction, fraction of
    * characters in surplus duplicate lines, and the fraction of characters
    * covered by the most frequent word {2,3}-gram. Line metrics are pure
    * array expressions (no shuffle); n-gram mode finding is explode →
    * (id, gram) count → max-struct aggregate — two map-side-combinable
    * aggregations keyed by doc id, the same shuffle profile at any corpus
    * size. Every ratio is integer/integer, so cross-engine exact. */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    val lines = split(col("text"), "\n")
    val lineChars = aggregate(lines, lit(0L), (a, x) => a + length(x))
    val dLineChars = aggregate(array_distinct(lines), lit(0L), (a, x) => a + length(x))
    val lineMetrics = base.select(col("id"),
      ((size(lines) - size(array_distinct(lines))).cast(DoubleType) /
        size(lines).cast(DoubleType)).as("dup_line_frac"),
      when(lineChars === 0L, lit(0.0))
        .otherwise((lineChars - dLineChars).cast(DoubleType) / lineChars.cast(DoubleType))
        .as("dup_line_char_frac"))
    // most frequent word n-gram, ties broken by gram string (max struct —
    // identical to ORDER BY chars DESC, gram DESC in the oracle)
    def topGramFrac(n: Int): DataFrame = {
      // token array materialized before the lambda (see stupidBackoffLogProb.grams)
      val wc = col("__w")
      val grams = transform(sequence(lit(0), size(wc) - n),
        i => concat_ws(" ", slice(wc, i + 1, lit(n))))
      base.select(col("id"), length(col("text")).as("len"),
          tokens(col("text")).as("__w"))
        .filter(size(wc) >= n)
        .select(col("id"), col("len"), explode(grams).as("g"))
        .groupBy(col("id"), col("len"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("id"), col("len"))
        .agg(max(struct((col("c") * length(col("g"))).as("chars"), col("g").as("g"))).as("m"))
        .select(col("id"),
          (col("m.chars").cast(DoubleType) / col("len").cast(DoubleType))
            .as(s"top${n}gram_char_frac"))
    }
    lineMetrics
      .join(topGramFrac(2), Seq("id"), "left")
      .join(topGramFrac(3), Seq("id"), "left")
      .select(col("id").as(idCol), col("dup_line_frac"), col("dup_line_char_frac"),
        coalesce(col("top2gram_char_frac"), lit(0.0)).as("top2gram_char_frac"),
        coalesce(col("top3gram_char_frac"), lit(0.0)).as("top3gram_char_frac"))
  }

  /** Token-budget truncation — cap every document at `maxTokens` whitespace
    * tokens (the context-window truncation step before packing/tokenization;
    * shorter docs pass through byte-identical after token-join
    * normalization). Pure per-row expression: one scan, no shuffle,
    * pushdown-transparent. Returns (idCol, textCol, n_tokens, truncated). */
  def truncateTokens(docs: DataFrame, maxTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0)
    val w = tokens(col(textCol))
    // null text stays null end-to-end (concat_ws would coalesce it to '' —
    // a silent null->'' rewrite no other text operator performs)
    docs.select(col(idCol),
      when(col(textCol).isNull, lit(null).cast(StringType))
        .otherwise(concat_ws(" ", slice(w, 1, maxTokens))).as(textCol),
      least(size(w), lit(maxTokens)).cast(LongType).as("n_tokens"),
      (size(w) > maxTokens).as("truncated"))
  }

  /** Temperature-scaled mixture weights (the T5/mT5 sampling recipe, public:
    * sample source s with probability ∝ |s|^α — α < 1 upweights small
    * sources so low-resource domains aren't drowned). Returns (sourceCol,
    * n_docs, weight) with Σ weight = 1, weight rounded to 6 dp. Feed the
    * weights (scaled by the desired corpus fraction) into [[mixtureSample]].
    *
    * Determinism: α = 0.5 computes via `sqrt` — IEEE-guaranteed correctly
    * rounded in every engine, unlike `pow` — and the normalizing sum
    * accumulates in DECIMAL (order-insensitive); the final division is one
    * double op. Other α values use `pow`: fine within one engine, but a
    * cross-engine oracle should stick to 0.5/1.0. One constant-width
    * aggregate; the totals frame is one broadcast row. */
  def temperatureWeights(docs: DataFrame, alpha: Double = 0.5,
      sourceCol: String = "source"): DataFrame = {
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_docs"))
    val scaled = if (alpha == 0.5) sqrt(col("n_docs")) else pow(col("n_docs"), lit(alpha))
    val sc = counts.withColumn("__s", scaled.cast(DecimalType(27, 10)))
    val total = sc.agg(sum(col("__s")).as("__t"))
    sc.crossJoin(broadcast(total))
      .select(col(sourceCol), col("n_docs"),
        round(col("__s").cast(DoubleType) / col("__t").cast(DoubleType), 6).as("weight"))
  }

  /** Per-window LANGUAGE MIX — the code-switching / mixed-language detector:
    * a document is cut into fixed `windowTokens`-token windows, each window
    * is language-identified independently ([[langId]] — 'und' counts as a
    * language), and per document the report gives window count, distinct
    * language count, the DOMINANT language (most windows, lexicographic
    * tie-break) and its share ×10⁶. Documents whose dominant share sits
    * well under 10⁶ are the classic mixed-language cleaning target that a
    * whole-document language id silently mislabels.
    *
    * One bounded explode (⌈tokens/window⌉ rows per doc) → pure langId
    * expressions → two window passes keyed by doc — no corpus-sized
    * shuffle beyond the per-doc aggregation. */
  def languageMix(docs: DataFrame, windowTokens: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowTokens > 0, "languageMix: windowTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = tokens(col(textCol))
    val windows = transform(
      sequence(lit(0), floor((size(w) - 1) / lit(windowTokens)).cast(IntegerType)),
      i => concat_ws(" ", slice(w, i * windowTokens + 1, lit(windowTokens))))
    val counts = docs.filter(size(w) >= 1)
      .select(col(idCol), explode(windows).as("__wt"))
      .select(col(idCol), langId(col("__wt")).as("lang"))
      .groupBy(col(idCol), col("lang")).agg(count(lit(1)).as("__c"))
    val byDoc = Window.partitionBy(col(idCol))
    counts
      .withColumn("__rn", row_number().over(
        byDoc.orderBy(col("__c").desc, col("lang").asc)))
      .withColumn("__tot", sum(col("__c")).over(byDoc))
      .withColumn("__nl", count(lit(1)).over(byDoc))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__tot").as("n_windows"), col("__nl").as("n_langs"),
        col("lang").as("dom_lang"),
        expr("__c * 1000000L DIV __tot").as("dom_frac_x1e6"))
  }

  /** Epoch budgeting — the "how many times does each source repeat" sheet a
    * training-mixture plan needs once a token budget is fixed: given target
    * mixture weights (parts-per-million, so the arithmetic is exact BIGINT
    * on every engine) and a total token budget, each source's target token
    * allocation is budget·w/Σw and its repeat factor is target/available
    * (×10⁶, integer floor). Sources whose repeat factor exceeds
    * `maxEpochsX1e6` are flagged — the over-epoching signal that tells a
    * pipeline to re-balance before training (repeating a small source too
    * often is the classic data-budget failure). Sources in the corpus but
    * not in `weightsPpm` get weight 0 (flagged-free, epochs 0).
    *
    * One grouped count per source (map-side combinable) + a 1-row broadcast
    * total: nothing document-sized shuffles. Returns (source, n_tokens,
    * target_tokens, epochs_x1e6, over_budget). */
  def epochBudget(docs: DataFrame, weightsPpm: Seq[(String, Long)],
      budgetTokens: Long, maxEpochsX1e6: Long = 4000000L,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    require(weightsPpm.nonEmpty && weightsPpm.forall(_._2 > 0),
      "epochBudget: weights must be positive")
    // the ×10⁶ repeat-factor arithmetic must stay inside BIGINT: budgets up
    // to ~9.2 trillion tokens are exact; split larger plans by source group
    require(budgetTokens > 0 && budgetTokens <= Long.MaxValue / 1000000L,
      "epochBudget: budgetTokens must be in (0, ~9.2e12]")
    val totW = weightsPpm.map(_._2).sum
    // weights are PPM-scale by contract; the (B MOD T)·w term stays inside
    // BIGINT only while ΣW·maxW < 2^63 — bound ΣW instead of trusting it
    require(totW <= 2000000000L,
      s"epochBudget: weight sum $totW exceeds the ppm scale (<= 2e9) — " +
        "renormalize the mixture before budgeting")
    val w = weightsPpm.foldLeft(lit(0L)) { case (acc, (s, ppm)) =>
      when(col("source") === s, lit(ppm)).otherwise(acc) }
    docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(size(tokens(col(textCol)))).as("n_tokens"))
      .withColumn("__w", w)
      // floor(B·w/T) decomposed as (B DIV T)·w + ((B MOD T)·w) DIV T —
      // exact and overflow-safe for multi-trillion-token budgets (the
      // naive B·w product would wrap past ~9e12 tokens at ppm weights)
      .withColumn("target_tokens",
        expr(s"(${budgetTokens}L DIV ${totW}L) * __w + ((${budgetTokens}L % ${totW}L) * __w) DIV ${totW}L"))
      .withColumn("epochs_x1e6",
        expr("target_tokens * 1000000L DIV n_tokens"))
      .withColumn("over_budget", col("epochs_x1e6") > maxEpochsX1e6)
      .drop("__w")
  }

  /** WEIGHTED sampling without replacement, k per group — the
    * Efraimidis–Spirakis A-Res scheme (2006, public): each row draws a
    * deterministic uniform u from the md5 of its id and competes on priority
    * u^(1/w); the top-k priorities per group are the weighted sample
    * (selection probability ∝ w, no replacement, single pass). The
    * comparison runs on ln(u)/w — order-equivalent, and the engine-portable
    * form: u is an exact 6-digit decimal, so both engines take ln of the
    * IDENTICAL double, divide by the identical weight and round at 9 dp.
    * Weights must be positive; nonpositive-weight rows are excluded (they
    * have zero selection probability in E-S).
    *
    * This is [[mixtureSample]]'s exact-k sibling: use mixtureSample for
    * stable per-row Bernoulli rates, weightedSample when you need exactly k
    * per group with probability proportional to a quality/size column. One
    * window shuffle keyed by group with a rank-limit map-side cut — ≤k rows
    * per group cross the exchange. Returns (groupCol, idCol, priority). */
  def weightedSample(docs: DataFrame, k: Int, weight: Column,
      groupCol: String = "source", idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    require(k > 0, "weightedSample: k must be positive")
    import org.apache.spark.sql.expressions.Window
    val h = pmod(
      conv(substring(md5(concat_ws(":", lit(salt), col(idCol).cast(StringType))), 21, 12),
        16, 10).cast(LongType), lit(1000000L))
    val u = (h + 1L).cast(DoubleType) / lit(1000000.0)
    val pr = round(log(u) / weight.cast(DoubleType), 9)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__p").desc, col(idCol).asc)
    docs.filter(weight > lit(0))
      .select(col(groupCol), col(idCol), pr.as("__p"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(groupCol), col(idCol), col("__p").as("priority"))
  }

  /** Deterministic per-source mixture sampling — the training-mix weighting
    * step of a data pipeline. A document rides iff the md5-derived bucket of
    * its id (uniform in [0, 1e6)) falls below its source's rate. No RNG:
    * reproducible across runs, engines, and partitionings; changing one
    * source's rate never resamples another source (per-key stability). Pure
    * filter — pushes down, no shuffle. */
  def mixtureSample(docs: DataFrame, rates: Map[String, Double],
      sourceCol: String = "source", idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(concat_ws(":", lit(salt), col(idCol).cast(StringType))), 21, 12),
        16, 10).cast(LongType), lit(1000000L))
    val rate = rates.foldLeft(lit(0.0)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    docs.filter(bucket.cast(DoubleType) < rate * 1000000.0)
  }

  /** Sliding-window document chunking — the sequence-packing step that turns
    * raw documents into bounded-length training samples. Chunk i covers
    * tokens [i·stride, i·stride + maxTokens) with stride = maxTokens −
    * overlap; the last chunk is the first one that reaches the document end
    * (no fully-redundant trailing windows). Pure expressions: one explode
    * with bounded fan-out (≈ n_tokens/stride per doc), no shuffle at all —
    * the chunker is a map over the corpus at any scale. */
  def chunkDocuments(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    requireNotReserved("chunkDocuments", idCol)
    val stride = maxTokens - overlap
    // token array materialized before the window lambda (see
    // stupidBackoffLogProb.grams — the inline form re-split per chunk)
    val w = col("__w")
    val n = size(w)
    // index of the first chunk whose window reaches the end:
    // ceil((n - maxTokens)/stride) in integer arithmetic
    val lastIdx = when(n <= maxTokens, lit(0L))
      .otherwise(floor((n - maxTokens + (stride - 1)).cast(DoubleType) / stride).cast(LongType))
    docs.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol), posexplode(transform(sequence(lit(0L), lastIdx),
        i => struct(
          concat_ws(" ", slice(w, (i * stride + 1).cast(IntegerType), lit(maxTokens))).as("chunk_text"),
          least(lit(maxTokens), n - i.cast(IntegerType) * stride).cast(LongType).as("n_tokens")))))
      .select(col(idCol), col("pos").cast(LongType).as("chunk_id"),
        col("col.chunk_text").as("chunk_text"), col("col.n_tokens").as("n_tokens"))
  }

  /** Sentence segmentation: split after terminal punctuation followed by
    * whitespace (the punctuation stays with its sentence). Implemented as
    * replace-then-split on a sentinel rather than a lookbehind split —
    * RE2-based engines (the oracle included) have no lookbehind, and the
    * two-step form is expressible identically everywhere. */
  def sentences(text: Column): Column =
    filter(split(regexp_replace(text, "([.!?])\\s+", "$1"), ""),
      s => length(s) > 0)

  /** Sentence-boundary chunking — the RAG/training-sample segmentation that
    * never cuts mid-sentence: consecutive sentences pack left-to-right, and
    * a sentence starts chunk ⌊cum_before / maxTokens⌋ where cum_before is
    * the running token total of the sentences before it (deterministic
    * prefix-sum semantics: a chunk may overflow by at most one sentence,
    * and an over-long single sentence occupies its own chunk rather than
    * being split — use [[chunkDocuments]] for hard token windows). Returns
    * (idCol, chunk_id, chunk_text, n_sentences, n_tokens).
    * Scale: one explode + one per-document window (prefix sum) + one
    * grouped rebuild keyed (doc, chunk) — shuffles carry sentence rows, the
    * same constant-width discipline as every text operator here. */
  def chunkBySentences(docs: DataFrame, maxTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val sent = docs.select(col(idCol),
        posexplode(sentences(col(textCol))).as(Seq("sidx", "sent")))
      .withColumn("ntok", size(tokens(trim(col("sent")))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("sidx"))
    sent.withColumn("cum", sum(col("ntok")).over(w))
      .withColumn("chunk_id", floor((col("cum") - col("ntok")) / maxTokens).cast("long"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(array_sort(collect_list(struct(col("sidx"), col("sent")))).as("ss"),
        count(lit(1)).as("n_sentences"), sum(col("ntok")).as("n_tokens"))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ", transform(col("ss"), s => s.getField("sent"))).as("chunk_text"),
        col("n_sentences"), col("n_tokens"))
  }

  /** Corpus datasheet — the per-source summary table every dataset card
    * leads with (docs, token mass, length distribution, language mix,
    * exact-dup rate), computed in ONE grouped pass plus a broadcast-back of
    * the exact-dup survivors:
    *   (source, n_docs, n_tokens, mean_tokens_x1e6, p50_tokens, n_langs,
    *    top_lang, n_exact_dups, dup_pct_x1e6)
    * Ratios are EXACT integers scaled by 10⁶ (⌊sum·10⁶/n⌋ — integer floor
    * division agrees bit-for-bit in every engine; divide by 1e6 for the
    * float view) rather than rounded double quotients, whose tie-adjacent
    * roundings diverge across engines (the randomProject lesson). p50 is
    * percentile(0.5) — linear interpolation of two ints at 0.5, exact in
    * a double. Scale: one constant-width aggregate keyed by source plus
    * the md5-keyed exact-dup aggregate — nothing quadratic, no text
    * through a shuffle (hashes only). */
  def corpusDatasheet(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source",
      langCol: String = "lang"): DataFrame = {
    val base = docs.select(col(idCol), col(sourceCol), col(langCol),
      tokenCount(col(textCol)).as("__nt"), md5(col(textCol)).as("__h"))
    // exact-dup losers: every doc whose text hash has a smaller-id twin
    val losers = base.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__keep"), count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .join(base.select(col(idCol), col("__h")), Seq("__h"))
      .filter(col(idCol) =!= col("__keep"))
      .select(col(idCol).as("__lid"))
    val flagged = base.join(losers, col(idCol) === col("__lid"), "left")
      .withColumn("__dup", col("__lid").isNotNull)
    // top language by count (ties → lexicographically last): encoded as a
    // zero-padded sortable string so MAX resolves it identically in every
    // engine (composite arg-max tie rules differ across engines)
    val langTop = flagged.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("__lc"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_langs"),
        // 19-digit pad covers the full long range — a shorter pad would
        // silently truncate (and missort) counts past 10^pad
        substring(max(concat(lpad(col("__lc").cast(StringType), 19, "0"), col(langCol))),
          20, 1000000).as("top_lang"))
    flagged.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        percentile(col("__nt"), lit(0.5)).as("p50_tokens"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_exact_dups"))
      .withColumn("mean_tokens_x1e6",
        expr("CAST(n_tokens * 1000000L div n_docs AS BIGINT)"))
      .withColumn("dup_pct_x1e6",
        expr("CAST(n_exact_dups * 1000000L div n_docs AS BIGINT)"))
      .join(langTop, Seq(sourceCol))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"), col("mean_tokens_x1e6"),
        col("p50_tokens"), col("n_langs"), col("top_lang"),
        col("n_exact_dups"), col("dup_pct_x1e6"))
  }

  /** Corpus token document frequency, top `k` by (df DESC, token ASC) —
    * the vocabulary/IDF statistic of a corpus. Distinct-per-doc explode →
    * one map-side-combinable count keyed by token → TakeOrdered top-k (no
    * full sort at scale). */
  def tokenDocFrequency(docs: DataFrame, k: Int,
      textCol: String = "text"): DataFrame =
    docs.select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(k)

  /** PII scrubbing for training corpora: URLs, emails, then phone-like digit
    * runs replaced with typed placeholder tokens. Deliberately RE2-compatible
    * patterns (no lookarounds/backrefs) so any engine — and the SQL oracle —
    * applies the identical pipeline. Order matters: URLs first (may contain
    * '@'), then emails, then phones. */
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** BM25 retrieval over the corpus for a fixed term set (Robertson/Sparck
    * Jones; the Lucene `(k1+1)`-free simplification is NOT used — we keep the
    * classic numerator so scores match the textbook formula). Top `k` docs by
    * (score DESC, id ASC).
    *
    * Scale shape: the per-doc length/term-frequency pass is one explode
    * filtered to the query terms BEFORE the shuffle (only matching tokens
    * move), aggregated map-side by (doc, term). Corpus stats (N, avgdl, per-
    * term df) are two tiny aggregates broadcast back in. Per-term partial
    * scores are pivoted into fixed columns and added in a FIXED order, so the
    * floating-point sum is order-deterministic and a SQL oracle can reproduce
    * it bit-for-bit (modulo last-ulp `ln` differences, absorbed by rounding).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "terms must be 1..8")
    require(terms.distinct.size == terms.size, "terms must be distinct")
    val toks = docs.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("token"),
      tokenCount(col(textCol)).cast(DoubleType).as("dl"))
    val matched = toks.filter(col("token").isin(terms: _*))
      .groupBy(col("id"), col("token"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"), first(col("dl")).as("dl"))
    // corpus stats: one row — broadcast into every partial score
    val stats = docs.agg(
      count(lit(1)).cast(DoubleType).as("n_docs"),
      avg(tokenCount(col(textCol)).cast(DoubleType)).as("avgdl"))
    val dfs = matched.groupBy(col("token"))
      .agg(countDistinct(col("id")).cast(DoubleType).as("dfreq"))
    val scored = matched
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("dfreq") + lit(0.5)) /
        (col("dfreq") + lit(0.5)) + lit(1.0)))
      .withColumn("s", col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    // pivot the ≤8 per-term scores into fixed columns; sum in declared term
    // order — deterministic float addition on both engines. Index-based
    // aliases: a raw term embedded in an alias would parse as a nested-field
    // reference if it contained '.' or '`'
    val termCols = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("token") === t, col("s"))).as(s"__s_$i") }
    val pivoted = scored.groupBy(col("id")).agg(termCols.head, termCols.tail: _*)
    val total = terms.indices.map(i => coalesce(col(s"__s_$i"), lit(0.0)))
      .reduceLeft(_ + _)
    pivoted.select(col("id").as(idCol), round(total, 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Classic TF-IDF retrieval over the corpus for a fixed term set — the
    * textbook vector-space baseline next to [[bm25TopK]]: score(d) =
    * Σ_t tf(t,d) · ln(N/df_t), top `k` docs by (score DESC, id ASC).
    * Saturation-free (tf enters linearly), so it ranks long keyword-stuffed
    * documents differently from BM25 — the usual reason pipelines compute
    * both.
    *
    * Scale + determinism: identical shape to [[bm25TopK]] — tokens filtered
    * to the query terms BEFORE the shuffle, map-side-combinable (doc, term)
    * counts, tiny df/N aggregates broadcast back, per-term idf rounded to
    * 9 dp (absorbing last-ulp ln differences), per-term partials pivoted
    * into fixed columns and added in declared term order. */
  def tfIdfTopK(docs: DataFrame, terms: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8, "terms must be 1..8")
    require(terms.distinct.size == terms.size, "terms must be distinct")
    val matched = docs.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("id"), col("token"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"))
    val nDocs = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
    val dfs = matched.groupBy(col("token"))
      .agg(countDistinct(col("id")).cast(DoubleType).as("dfreq"))
    val scored = matched
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("s", col("tf") * round(log(col("n_docs") / col("dfreq")), 9))
    val termCols = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("token") === t, col("s"))).as(s"__s_$i") }
    val pivoted = scored.groupBy(col("id")).agg(termCols.head, termCols.tail: _*)
    val total = terms.indices.map(i => coalesce(col(s"__s_$i"), lit(0.0)))
      .reduceLeft(_ + _)
    pivoted.select(col("id").as(idCol), round(total, 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Corpus-conditional unigram log-probability per document — the classic
    * cheap perplexity proxy for quality filtering (a document of globally
    * rare tokens scores low; boilerplate of corpus-dominant tokens scores
    * high). p(token) is the corpus unigram MLE; the score is the mean
    * ln p(token) over the document's tokens.
    *
    * Scale shape: one explode → map-side-combinable (token) count agg →
    * shuffle join of the exploded tokens against the vocab table (vocab ≪
    * corpus; Spark broadcasts it when small) → per-doc agg. Determinism:
    * each per-token ln is rounded to 9 dp (absorbing last-ulp ln differences
    * across engines), summed EXACTLY as DECIMAL, and the mean rounded to
    * 6 dp — bit-identical on any engine with the same tokens. */
  def unigramLogProb(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("tc"))
    val total = counts.agg(sum(col("tc")).as("n"))
    toks.join(counts, Seq("token"))
      .crossJoin(broadcast(total))
      .withColumn("logp",
        round(log(col("tc").cast(DoubleType) / col("n").cast(DoubleType)), 9))
      .groupBy(col(idCol))
      .agg(round(sum(col("logp").cast(DecimalType(28, 12))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("mean_logp"))
  }

  /** Bigram conditional-LM scoring — the next perplexity-proxy step up from
    * [[unigramLogProb]] (the public CCNet recipe filters on LM scores; a
    * bigram MLE already separates fluent word ORDER from bag-of-words
    * boilerplate that the unigram model scores identically). Score = mean
    * ln p(wᵢ | wᵢ₋₁) over the document's bigram positions, with p(b|a) =
    * corpus count(a,b) / corpus count(a·) — counts over bigram POSITIONS,
    * so every context distribution sums to 1 and every observed bigram has
    * positive probability (no smoothing needed for in-corpus scoring).
    * Documents with fewer than 2 tokens yield no row (no bigrams to score).
    *
    * Scale + determinism: same shape and recipe as [[unigramLogProb]] —
    * explode once, two map-side-combinable count aggs, join back (bigram
    * vocab ≪ corpus), per-token ln rounded to 9 dp, DECIMAL-exact sum, mean
    * rounded to 6 dp. */
  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    requireNotReserved("bigramLogProb", idCol)
    // token array materialized before the lambda (see stupidBackoffLogProb.grams)
    val wc = col("__w")
    val bi = docs.select(col(idCol), tokens(col(textCol)).as("__w"))
      .filter(size(wc) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(wc) - 2),
        i => struct(element_at(wc, i + 1).as("a"), element_at(wc, i + 2).as("b")))).as("bg"))
      .select(col(idCol), col("bg.a").as("a"), col("bg.b").as("b"))
    // Context counts DERIVE from the bigram table (Σ_b count(a,b) =
    // count(a·)) and logp is computed once per DISTINCT bigram, so the
    // occurrence-sized frame joins ONE scored table instead of two count
    // tables. (A per-(doc,bigram) pre-aggregation was measured SLOWER here:
    // bigrams rarely repeat within a document, so that grouping shuffles
    // the same rows plus the id column for no collapse.) The distinct-
    // bigram counts are PlanCache-persisted (vocabulary-sized) so the ac
    // rollup and the score join share one corpus scan instead of two.
    val bc = graft.core.PlanCache.cached(docs.sparkSession,
        graft.core.PlanCache.key("bigram-counts", docs, idCol, textCol)) {
      bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("bc"))
    }
    val ac = bc.groupBy(col("a")).agg(sum(col("bc")).as("ac"))
    val scoredBigrams = bc.join(ac, Seq("a"))
      .select(col("a"), col("b"),
        round(log(col("bc").cast(DoubleType) / col("ac").cast(DoubleType)), 9).as("logp"))
    bi.join(scoredBigrams, Seq("a", "b"))
      .groupBy(col(idCol))
      .agg(round(sum(col("logp").cast(DecimalType(28, 12))).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("mean_logp"))
  }

  /** Trigram STUPID BACKOFF scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — the web-scale LM that replaced
    * smoothed Kneser-Ney at Google): per position, S(c|a,b) = f(abc)/f(ab)
    * when the trigram was seen in the MODEL corpus, else 0.4·f(bc)/f(b),
    * else 0.4²·f(c)/N, with unseen words floored at count 1 (the OOV
    * penalty 0.4²/N). Model counts come from `modelDocs` (the reference
    * corpus — typically a quality subset), scored documents from `docs`,
    * so out-of-model text genuinely exercises the backoff chain — scoring
    * a corpus against itself never would (every in-corpus trigram has
    * f > 0). Documents with < 3 tokens yield no row. Returns (id,
    * mean_logs) — the mean ln S over the document's trigram positions.
    *
    * Scale + determinism: three model-count tables (tri/bi/uni — each
    * map-side-combinable, vocabulary-sized), each pre-scored as
    * a 9-dp-rounded ln ratio and LEFT-joined onto the position stream
    * (Spark broadcasts the small ones); the backoff CASE then adds
    * DECIMAL-exact 9-dp constants (ln 0.4 pinned once), so the per-position
    * value is an exact DECIMAL and the document mean is bit-identical on
    * any engine — the [[bigramLogProb]] recipe with a 3-level fallback.
    *
    * The model corpus is scanned ONCE: each token position emits its
    * (w1, w2?, w3?) window (w2/w3 null at document tails), one aggregate
    * produces per-distinct-window counts (PlanCache-persisted,
    * vocabulary-sized), and the tri/bi/uni tables are rollups of that
    * frame — f(abc) = the full-window count, f(ab) = Σ over w3,
    * f(a) = Σ over w2,w3 (every token is w1 of exactly one window). */
  def stupidBackoffLogProb(docs: DataFrame, modelDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    requireNotReserved("stupidBackoffLogProb", idCol)
    val L04 = BigDecimal(math.log(0.4)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    // the token ARRAY is materialized per row BEFORE the position lambda:
    // an expression captured inside a higher-order-function lambda is
    // re-evaluated per element (no subexpression elimination across the
    // lambda boundary), so the inline form re-split the document once per
    // position × window slot — O(len²) splits per document. Measured r17:
    // the sf0.1 position explode alone fell 9.2 s → 0.45 s (20×).
    def grams(src: DataFrame, n: Int, carryId: Boolean): DataFrame = {
      val carry = if (carryId) Seq(col(idCol)) else Seq.empty[Column]
      val wc = col("__w")
      src.select(carry :+ tokens(col(textCol)).as("__w"): _*)
        .filter(size(wc) >= n)
        .select(carry :+ explode(transform(sequence(lit(0), size(wc) - n),
          i => struct((1 to n).map(j => element_at(wc, i + j).as(s"w$j")): _*))).as("g"): _*)
        .select(carry ++ (1 to n).map(j => col(s"g.w$j").as(s"w$j")): _*)
    }
    // model counts from ONE scan: per-position (w1, w2?, w3?) windows →
    // one distinct-window count aggregate, persisted for the three rollups
    val winCounts = graft.core.PlanCache.cached(modelDocs.sparkSession,
        graft.core.PlanCache.key("sb-windows", modelDocs, textCol)) {
      val wc = col("__w")
      modelDocs.select(tokens(col(textCol)).as("__w"))
        .filter(size(wc) >= 1)
        .select(explode(transform(sequence(lit(0), size(wc) - 1), i =>
          struct(
            element_at(wc, i + 1).as("w1"),
            when(i + 2 <= size(wc), element_at(wc, i + 2)).as("w2"),
            when(i + 3 <= size(wc), element_at(wc, i + 3)).as("w3")))).as("g"))
        .select(col("g.w1"), col("g.w2"), col("g.w3"))
        .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("wc"))
    }
    val tri = winCounts.filter(col("w3").isNotNull)
      .select(col("w1"), col("w2"), col("w3"), col("wc").as("tc"))
    val bi = winCounts.filter(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(sum(col("wc")).as("bc"))
    val uni = winCounts.groupBy(col("w1")).agg(sum(col("wc")).as("uc"))
    val n = uni.agg(sum(col("uc")).as("n"))
    val dec = DecimalType(28, 12)
    // pre-scored ratio tables — one 9-dp ln per DISTINCT n-gram
    val triS = tri.join(bi.select(col("w1"), col("w2"), col("bc").as("ctx")),
        Seq("w1", "w2"))
      .select(col("w1").as("a"), col("w2").as("b"), col("w3").as("c"),
        round(log(col("tc").cast(DoubleType) / col("ctx").cast(DoubleType)), 9)
          .cast(dec).as("ts"))
    val biS = bi.join(uni.select(col("w1"), col("uc").as("ctx")), Seq("w1"))
      .select(col("w1").as("b"), col("w2").as("c"),
        round(log(col("bc").cast(DoubleType) / col("ctx").cast(DoubleType)), 9)
          .cast(dec).as("bs"))
    val uniS = uni.crossJoin(broadcast(n))
      .select(col("w1").as("c"),
        round(log(col("uc").cast(DoubleType) / col("n").cast(DoubleType)), 9)
          .cast(dec).as("us"))
    val floorS = n.select(
      round(log(lit(1.0) / col("n").cast(DoubleType)), 9).cast(dec).as("fs"))
    val pos = grams(docs, 3, carryId = true)
      .select(col(idCol), col("w1").as("a"), col("w2").as("b"), col("w3").as("c"))
    val logS = when(col("ts").isNotNull, col("ts"))
      .when(col("bs").isNotNull, lit(L04.bigDecimal).cast(dec) + col("bs"))
      .otherwise(lit((L04 * 2).bigDecimal).cast(dec) +
        coalesce(col("us"), col("fs")))
    pos
      .join(triS, Seq("a", "b", "c"), "left")
      .join(biS, Seq("b", "c"), "left")
      .join(uniS, Seq("c"), "left")
      .crossJoin(broadcast(floorS))
      .groupBy(col(idCol))
      .agg(round((sum(logS).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)), 6).as("mean_logs"))
  }

  /** DSIR-style importance weights (the public method of Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"): score
    * every document by how much more likely its hashed n-gram features are
    * under a TARGET distribution (the quality corpus you want more of) than
    * under the RAW corpus distribution — log w(doc) = Σ_f c_f(doc)·(ln
    * p̂_target(f) − ln p̂_raw(f)). High-weight documents are the ones
    * importance resampling would keep. Features are unigrams + bigrams
    * hashed into `buckets` buckets (the paper's hashed generative model —
    * hashing caps the model at O(buckets) whatever the vocabulary does);
    * both distributions use add-one smoothing over the bucket space, and
    * `targetPred` marks the target rows (target ⊆ raw, the usual setup
    * where raw is the whole crawl).
    *
    * Scale + determinism: one explode → a bucket-count aggregate
    * (map-side-combinable, ≤ `buckets` rows out) → the per-bucket λ table
    * (buckets rows, BROADCAST) joined back to the occurrence stream — the
    * corpus text is consumed at scan; nothing document-sized shuffles except
    * (id, bucket) pairs. Per-bucket lns are rounded to 9 dp then
    * differenced and summed in exact DECIMAL, final weight rounded to 6 dp
    * — the [[unigramLogProb]] recipe, so a SQL oracle matches hash-exact. */
  def importanceWeights(docs: DataFrame, targetPred: Column,
      buckets: Int = 1024, idCol: String = "doc_id", textCol: String = "text",
      salt: String = ""): DataFrame = {
    require(buckets > 0, "importanceWeights: buckets must be positive")
    // ONE corpus explode (the self-model batch form previously exploded the
    // corpus twice — once for the model counts, once for the score stream):
    // per-(doc, target-marker, bucket) occurrence counts, map-side
    // combinable and bounded by |docs|·min(buckets, doc length) rows,
    // PlanCache-persisted so the model aggregate and the scoring join share
    // the single scan. Scores are identical bit-for-bit: Σ_occurrences λ(b)
    // = Σ_b n(doc,b)·λ(b), both exact DECIMAL until the final 6-dp round.
    // importanceWeightsAgainst keeps its one-aggregation occurrence shape —
    // that variant's contract is complete-mode streaming legality.
    //
    // STORAGE COST: this entry is CORPUS-scale (up to |docs|·buckets rows at
    // MEMORY_AND_DISK) and PlanCache's LRU is count-bounded (16 entries),
    // not size-bounded — a few large-corpus calls can pin substantial
    // block-manager storage for the session even after the call returns.
    // The storage is spill-backed; the recompute it saves is a full corpus
    // scan.
    val perDoc = graft.core.PlanCache.cached(docs.sparkSession,
      graft.core.PlanCache.key("dsir-docbuckets", docs,
        idCol, textCol, buckets, salt, targetPred.toString)) {
      dsirFeatures(docs, Seq(col(idCol), targetPred.as("__t")), buckets, textCol, salt)
        .groupBy(col(idCol), col("__t"), col("b")).agg(count(lit(1)).as("__n"))
    }
    val rawc = perDoc.groupBy(col("b")).agg(sum(col("__n")).as("cr"),
      sum(when(col("__t"), col("__n")).otherwise(0L)).as("ct"))
    val tot = rawc.agg(sum(col("cr")).as("totr"), sum(col("ct")).as("tott"))
    val lam = rawc.crossJoin(broadcast(tot)).select(col("b"),
      (round(log((col("ct") + 1L).cast(DoubleType) /
          (col("tott") + buckets.toLong).cast(DoubleType)), 9).cast(DecimalType(28, 12)) -
        round(log((col("cr") + 1L).cast(DoubleType) /
          (col("totr") + buckets.toLong).cast(DoubleType)), 9).cast(DecimalType(28, 12)))
        .as("lam"))
    // __n cast to DECIMAL(9,0): a bare LongType operand promotes to
    // DECIMAL(20,0) and the product's precision (28+20+1) exceeds Spark's
    // 38 cap, which TRUNCATES the scale — the oracle catches the rounding
    // drift. 28+9+1 = 38 exactly, scale stays 12: the product is exact and
    // Σ λ·n ≡ Σ_occurrences λ bit-for-bit.
    perDoc.join(broadcast(lam), Seq("b"))
      .groupBy(col(idCol))
      .agg(round(sum(col("lam") * col("__n").cast(DecimalType(9, 0)))
        .cast(DoubleType), 6).as("log_weight"))
  }

  /** The hashed uni+bigram feature stream behind the DSIR family: one
    * (carried-columns, bucket) row per feature OCCURRENCE. */
  private def dsirFeatures(docs: DataFrame, carry: Seq[Column],
      buckets: Int, textCol: String, salt: String): DataFrame = {
    // token array materialized BEFORE the bigram lambda — see
    // stupidBackoffLogProb.grams: a lambda-captured expression re-evaluates
    // per element, re-splitting the document once per position. The carry
    // expressions evaluate once here too; downstream selects use their
    // output names (they may reference source columns this select drops).
    val base = docs.select(carry :+ tokens(col(textCol)).as("__w"): _*)
    // carried output names re-resolve by NAME below — duplicates (including
    // a caller column named __w) would silently mis-bind; fail fast instead
    require(base.columns.distinct.length == base.columns.length,
      s"TextAnalysis: carried column names must be unique and must not " +
        s"collide with the reserved __w token column " +
        s"(got: ${base.columns.mkString(", ")})")
    val carried = base.columns.dropRight(1).map(col).toSeq
    val wc = col("__w")
    val uni = base.select(carried :+ explode(wc).as("f"): _*)
    val big = base.filter(size(wc) >= 2)
      .select(carried :+ explode(transform(sequence(lit(0), size(wc) - 2),
        i => concat_ws(" ", element_at(wc, i + 1), element_at(wc, i + 2)))).as("f"): _*)
    uni.unionByName(big).withColumn("b",
      pmod(conv(substring(md5(concat_ws(":", lit(salt), col("f"))), 21, 12), 16, 10)
        .cast(LongType), lit(buckets.toLong))).drop("f")
  }

  /** The frozen DSIR model: per-bucket λ = round(ln p̂_target, 9) −
    * round(ln p̂_raw, 9) as exact DECIMAL — ≤ `buckets` rows, built once
    * from the raw corpus (+ its target marker) and reusable against any
    * batch or stream via [[importanceWeightsAgainst]]. */
  def dsirModel(docs: DataFrame, targetPred: Column, buckets: Int = 1024,
      idCol: String = "doc_id", textCol: String = "text",
      salt: String = ""): DataFrame = {
    require(buckets > 0, "dsirModel: buckets must be positive")
    // only the target marker rides the explode — the model never needs ids
    val feats = dsirFeatures(docs, Seq(targetPred.as("__t")),
      buckets, textCol, salt)
    val rawc = feats.groupBy(col("b")).agg(count(lit(1)).as("cr"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
    val tot = rawc.agg(sum(col("cr")).as("totr"), sum(col("ct")).as("tott"))
    rawc.crossJoin(broadcast(tot)).select(col("b"),
      (round(log((col("ct") + 1L).cast(DoubleType) /
          (col("tott") + buckets.toLong).cast(DoubleType)), 9).cast(DecimalType(28, 12)) -
        round(log((col("cr") + 1L).cast(DoubleType) /
          (col("totr") + buckets.toLong).cast(DoubleType)), 9).cast(DecimalType(28, 12)))
        .as("lam"))
  }

  /** Score any corpus — or a LIVE ingest stream — against a frozen
    * [[dsirModel]]: explode features, one broadcast join onto the λ table,
    * ONE aggregation (complete-mode-legal under Structured Streaming, like
    * [[oovRateAgainst]]); `buckets` and `salt` must match the model's.
    * Buckets the model never saw contribute nothing (inner join — their
    * smoothed target/raw masses nearly cancel in the λ difference anyway),
    * which keeps batch and stream scores identical on shared input. */
  def importanceWeightsAgainst(docs: DataFrame, model: DataFrame,
      buckets: Int = 1024, idCol: String = "doc_id", textCol: String = "text",
      salt: String = ""): DataFrame = {
    require(buckets > 0, "importanceWeightsAgainst: buckets must be positive")
    val feats = dsirFeatures(docs, Seq(col(idCol)), buckets, textCol, salt)
    feats.join(broadcast(model), Seq("b"))
      .groupBy(col(idCol))
      .agg(round(sum(col("lam")).cast(DoubleType), 6).as("log_weight"))
  }

  /** Contiguous token packing: per source, documents in id order fill
    * fixed-capacity training bins; a document's bin is the number of whole
    * capacities consumed BEFORE it (greedy contiguous fill — the standard
    * sequence-packing prepass before tokenization). Returns
    * (id, source, n_tokens, bin).
    *
    * Scale shape: one running-sum window partitioned by source (the packing
    * unit) over constant-width (id, source, n_tok) rows — text is consumed
    * at scan time. A single global ordering would serialize the corpus
    * through one partition; per-source packing is what a sharded training
    * pipeline does anyway. */
  def packSequences(docs: DataFrame, capacityTokens: Long,
      idCol: String = "doc_id", textCol: String = "text",
      groupCol: String = "source"): DataFrame = {
    require(capacityTokens > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(idCol))
    docs.select(col(idCol), col(groupCol),
        tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
      .withColumn("__prev", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", expr(s"__prev div $capacityTokens"))
      .drop("__prev")
  }

  /** End-to-end corpus prep: quality filter → exact-dedup survivors →
    * per-group doc/token totals — the stages a training-data pipeline chains
    * before tokenization.
    *
    * Scale shape: the text column is consumed at scan time (score, token
    * count, md5) and NEVER enters an Exchange — every shuffled row is the
    * constant-width (id, group…, n_tok, h) projection regardless of document
    * length. Survivors are a (hash → min id) aggregate semi-joined back on
    * the id (both map-side combinable), not a window over the text hash. */
  def corpusPrep(docs: DataFrame, minScore: Double = 0.7,
      idCol: String = "doc_id", textCol: String = "text",
      groupCols: Seq[String] = Seq("source", "lang")): DataFrame = {
    val slim = docs
      .filter(qualityScore(col(textCol)) >= minScore)
      .select(col(idCol) +: groupCols.map(col) :+
        tokenCount(col(textCol)).cast(LongType).as("__n_tok") :+
        md5(col(textCol)).as("__h"): _*)
    val keep = slim.groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    slim.join(keep, Seq(idCol), "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("__n_tok")).as("n_tokens"))
  }

  /** Exact interpolated token-length quantiles (p25/p50/p75) per group —
    * corpus length profiling. `percentile` is Spark's EXACT interpolated
    * quantile, the same definition as SQL `quantile_cont`; group cardinality
    * is small (sources/languages), so the exact sort-based agg is fine even
    * at 100 TB (state is per-group, values spill). */
  def lengthQuantiles(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        round(percentile(tokenCount(col(textCol)), lit(0.25)), 4).as("p25"),
        round(percentile(tokenCount(col(textCol)), lit(0.5)), 4).as("p50"),
        round(percentile(tokenCount(col(textCol)), lit(0.75)), 4).as("p75"))

  /** Winsorization — clamp a numeric column to its per-group
    * [pLow, pHigh] interpolated quantiles (the outlier-robust normalization
    * step before training on metric columns; clipping, unlike dropping,
    * keeps the row count stable for joins downstream). Values are pinned to
    * 6 dp and the bounds to 4 dp (the [[lengthQuantiles]] cross-engine
    * percentile recipe), so clamped output is hash-exact on any engine.
    *
    * Scale: one map-side-combinable percentile aggregate (|groups| rows,
    * BROADCAST back), then a pure per-row clamp — a single scan, no
    * data-sized shuffle. */
  def winsorize(df: DataFrame, valueCol: String = "value",
      pLow: Double = 0.05, pHigh: Double = 0.95,
      groupCol: String = "event_type", idCol: String = "event_id"): DataFrame = {
    require(pLow >= 0 && pHigh <= 1 && pLow <= pHigh, "winsorize: 0 <= pLow <= pHigh <= 1")
    val v = round(col(valueCol), 6)
    val b = df.groupBy(col(groupCol).as("__bg")).agg(
      round(percentile(v, lit(pLow)), 4).as("__lo"),
      round(percentile(v, lit(pHigh)), 4).as("__hi"))
    // NULL-SAFE group join: a NULL group clamps against its own bounds
    // instead of silently dropping (the row-count-stable contract)
    df.select(col(idCol), col(groupCol), v.as("__v"))
      .join(broadcast(b), col(groupCol) <=> col("__bg"))
      .select(col(idCol), col(groupCol),
        least(greatest(col("__v"), col("__lo")), col("__hi")).as("v_clipped"))
  }

  /** Per-domain quota: keep at most `n` documents per group, best-first by
    * `orderCol` (ties broken by id — fully deterministic). The Common-Crawl
    * move that stops one domain from dominating the corpus. Compiles to a
    * rank-limit window — Spark's WindowGroupLimit pushes the ≤n cut to the
    * map side, so only n rows per group ever cross the exchange; no group's
    * full membership is materialized anywhere. */
  def domainQuota(docs: DataFrame, n: Int, groupCol: String = "source",
      orderCol: Column = col("n_chars").desc, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0, "quota must be positive")
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCol, col(idCol).asc)
    docs.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= n).drop("__rank")
  }

  /** Deterministic global shuffle: the training-order permutation as a
    * sortable key, `md5(salt:id)`, instead of a stateful RNG. The same
    * (salt, corpus) always yields the same order on any cluster layout;
    * changing the salt is a fresh epoch permutation. Emitting the key and
    * sorting downstream keeps the operator itself shuffle-free (one map);
    * a global sort by the key is Spark's range-partitioned sort — the
    * standard, scalable way to write a shuffled corpus. */
  def shuffleKey(idCol: Column, salt: String = ""): Column =
    md5(concat_ws(":", lit(salt), idCol.cast(StringType)))

  def shuffled(docs: DataFrame, salt: String = "", idCol: String = "doc_id"): DataFrame =
    docs.withColumn("_shuffle_key", shuffleKey(col(idCol), salt))
      .orderBy(col("_shuffle_key"))

  /** COUNT-MIN SKETCH of the corpus token frequencies (Cormode &
    * Muthukrishnan 2005) — the fixed-memory frequency summary for the
    * 100 TB path, where an exact vocabulary count is terabytes but
    * `depth`×`width` counters fit in one broadcast: counter(j, h_j(t)) +=
    * count(t) with h_j the salted md5 bucket family. Returns the counter
    * table (rw, bucket, cnt) — ≤ depth·width rows whatever the corpus.
    *
    * Scale shape: the corpus collapses to its VOCABULARY first (one
    * map-side-combinable count agg — the explode-by-depth fan-out then
    * runs over vocab rows, never over token occurrences), and the counter
    * aggregate is again map-side-combinable on (rw, bucket). Determinism:
    * md5 buckets, integer sums — hash-exact on any engine. */
  def countMinSketch(docs: DataFrame, width: Int = 256, depth: Int = 4,
      salt: String = "cms", textCol: String = "text",
      collapseVocab: Boolean = true): DataFrame = {
    require(width > 0 && depth > 0, "countMinSketch: width and depth must be positive")
    val occ = docs.select(explode(tokens(col(textCol))).as("t"))
    // collapseVocab=false skips the vocabulary pre-aggregation so the whole
    // sketch is ONE aggregation — the shape Structured Streaming accepts in
    // complete mode (two chained stateful aggs are not); the counter table
    // then updates per micro-batch and the drained state is identical to
    // the batch sketch. Batch callers keep the collapse: the depth-way
    // fan-out runs over vocabulary rows instead of token occurrences.
    val base =
      if (collapseVocab)
        occ.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      else occ.select(col("t"), lit(1L).as("cnt"))
    base
      .select(posexplode(array((0 until depth).map(lit): _*)).as(Seq("rw", "_r")),
        col("t"), col("cnt"))
      .select(col("rw"), cmsBucket(col("rw"), col("t"), width, salt).as("bucket"),
        col("cnt"))
      .groupBy(col("rw"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
  }

  /** One row of the count-min hash family: bucket = md5(rw:salt:token)
    * folded to 48 bits, mod `width` — the same salted-md5 recipe as
    * [[shuffleKey]], so a SQL oracle mirrors it verbatim. */
  private def cmsBucket(rw: Column, token: Column, width: Int, salt: String): Column =
    pmod(conv(substring(md5(concat_ws(":", rw.cast(StringType), lit(salt), token)),
      21, 12), 16, 10).cast(LongType), lit(width.toLong))

  /** Count-min POINT QUERIES for a fixed term list, reported against the
    * exact counts: est(t) = min_j counter(j, h_j(t)) ≥ exact(t), with the
    * one-sided overcount made explicit — the sketch-accuracy sheet you
    * check before trusting the sketch at full scale. Terms absent from the
    * corpus report exact = 0 (and whatever collision mass their buckets
    * hold — the textbook behavior). */
  def cmsEstimates(docs: DataFrame, terms: Seq[String], width: Int = 256,
      depth: Int = 4, salt: String = "cms", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "cmsEstimates: need at least one term")
    require(terms.distinct.size == terms.size, "cmsEstimates: terms must be distinct")
    val spark = docs.sparkSession
    import spark.implicits._
    val sketch = countMinSketch(docs, width, depth, salt, textCol)
    val probes = terms.toDF("t")
      .select(posexplode(array((0 until depth).map(lit): _*)).as(Seq("rw", "_r")), col("t"))
      .select(col("t"), col("rw"), cmsBucket(col("rw"), col("t"), width, salt).as("bucket"))
    // LEFT join: a probe landing in an untouched bucket reads counter 0 —
    // an inner join would silently take the min over the touched rows only
    val est = probes.join(sketch, Seq("rw", "bucket"), "left")
      .groupBy(col("t")).agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
    val exact = docs.select(explode(tokens(col(textCol))).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("t")).agg(count(lit(1)).as("exact"))
    terms.toDF("t").join(est, Seq("t"), "left").join(exact, Seq("t"), "left")
      .select(col("t").as("token"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        coalesce(col("est"), lit(0L)).as("est"),
        (coalesce(col("est"), lit(0L)) - coalesce(col("exact"), lit(0L))).as("overcount"))
  }

  /** Top-k corpus bigrams (collocation mining — phrase vocabulary for
    * tokenizer training / boilerplate detection). Adjacent-token pairs via a
    * bounded per-row sequence (no self-join!), one map-side-combinable count,
    * TakeOrdered top-k with the bigram as tie-break — never a global sort. */
  def topBigrams(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    // token array materialized before the lambda (see stupidBackoffLogProb.grams)
    val t = col("__w")
    val bigrams = transform(sequence(lit(0), size(t) - 2),
      i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2)))
    docs.select(tokens(col(textCol)).as("__w"))
      .filter(size(t) >= 2)
      .select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc).limit(k)
  }

  /** Pointwise-mutual-information collocations (Church & Hanks 1990) — the
    * measure that separates true phrases from merely-frequent pairs: PMI =
    * ln(c(a,b)·P / (c(a·)·c(·b))) over bigram POSITIONS (P = corpus bigram
    * positions; marginals are first-token / second-token position counts, so
    * the distribution sums to 1 and in-corpus PMI is always finite). Rare
    * pairs dominate raw PMI, so `minCount` floors the bigram count (the
    * standard guard). Top `k` by (pmi DESC, bigram ASC).
    *
    * Scale + determinism: the bigram/context counting shape of
    * [[bigramLogProb]] — one bounded per-row explode, three map-side-
    * combinable count aggs (bigram table ≪ corpus), marginals derived FROM
    * the bigram table (no second corpus pass), the single ln rounded to
    * 9 dp, TakeOrdered top-k. */
  def pmiCollocations(docs: DataFrame, k: Int, minCount: Long = 5L,
      textCol: String = "text"): DataFrame = {
    // token array materialized before the lambda (see stupidBackoffLogProb.grams)
    val w = col("__w")
    val bi = docs.select(tokens(col(textCol)).as("__w"))
      .filter(size(w) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(w) - 2),
        i => struct(element_at(w, i + 1).as("a"), element_at(w, i + 2).as("b")))).as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
    val bc = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("bc"))
    val ac = bc.groupBy(col("a")).agg(sum(col("bc")).as("ac"))
    val cc = bc.groupBy(col("b")).agg(sum(col("bc")).as("cc"))
    val n = bc.agg(sum(col("bc")).as("n"))
    bc.filter(col("bc") >= minCount)
      .join(ac, Seq("a")).join(cc, Seq("b"))
      .crossJoin(broadcast(n))
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"), col("bc").as("cnt"),
        round(log((col("bc").cast(DoubleType) * col("n").cast(DoubleType)) /
          (col("ac").cast(DoubleType) * col("cc").cast(DoubleType))), 9).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(k)
  }

  /** Per-source vocabulary statistics: total tokens, distinct tokens, and
    * type-token ratio (vocabulary richness — a dataset-mix diagnostic).
    * Distinct counting is exact (the group count is small; per-group state
    * spills); the ratio is a quotient of two exact longs. */
  def vocabStats(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("token")).as("n_distinct"))
      .withColumn("ttr",
        round(col("n_distinct").cast(DoubleType) / col("n_tokens"), 6))

  /** Tokenizer fertility per group — subword units per whitespace word, the
    * standard tokenizer-quality metric (a multilingual corpus where one
    * language's fertility is 2× the others gets systematically fewer words
    * per context window — the known under-served-language failure mode).
    * Exact integer sums + floor-scaled ratio; one scan, one group-sized
    * aggregate. */
  def fertility(docs: DataFrame, groupCol: String = "lang",
      textCol: String = "text"): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(sum(tokenCount(col(textCol)).cast("long")).as("n_words"),
        sum(subwordCount(col(textCol)).cast("long")).as("n_subwords"))
      // the ×10⁶ scaling runs in DECIMAL: corpus-sized counts × 10⁶
      // overflow Long around 9·10¹² subwords — inside the design scale
      .withColumn("fertility_x1e6",
        expr("CAST(CAST(n_subwords AS DECIMAL(38,0)) * 1000000 DIV n_words AS BIGINT)"))

  /** Join-key health audit — the referential-integrity report run before
    * any production join: for `left` keyed by `lk` and `right` keyed by
    * `rk`, one row of exact counts — rows per side, DISTINCT keys per side,
    * orphans (rows whose key has no match on the other side, the silent
    * row-loss of an inner join), and duplicated keys per side (the silent
    * row-EXPLOSION of a many-to-many join). All map-side-combinable counts
    * over two scans plus two key-set semi-joins of distinct keys. */
  def joinKeyAudit(left: DataFrame, lk: String,
      right: DataFrame, rk: String): DataFrame = {
    val l = left.select(col(lk).as("k"))
    val r = right.select(col(rk).as("k"))
    val lkeys = l.groupBy(col("k")).agg(count(lit(1)).as("c"))
    val rkeys = r.groupBy(col("k")).agg(count(lit(1)).as("c"))
    val lStats = lkeys.agg(sum(col("c")).as("n_left"),
      count(lit(1)).as("left_keys"),
      sum(when(col("c") > 1, 1L).otherwise(0L)).as("left_dup_keys"))
    val rStats = rkeys.agg(sum(col("c")).as("n_right"),
      count(lit(1)).as("right_keys"),
      sum(when(col("c") > 1, 1L).otherwise(0L)).as("right_dup_keys"))
    val lOrphans = lkeys.join(rkeys.select(col("k")), Seq("k"), "left_anti")
      .agg(coalesce(sum(col("c")), lit(0L)).as("left_orphans"))
    val rOrphans = rkeys.join(lkeys.select(col("k")), Seq("k"), "left_anti")
      .agg(coalesce(sum(col("c")), lit(0L)).as("right_orphans"))
    lStats.crossJoin(rStats).crossJoin(lOrphans).crossJoin(rOrphans)
  }

  /** Pairwise source vocabulary overlap — exact token-set Jaccard between
    * every pair of sources (which feeds dataset-mixing decisions: two
    * sources with near-total vocabulary overlap add less diversity than
    * their row counts suggest; near-zero overlap flags a language or
    * domain outlier). Exact integers + floor-scaled similarity, the
    * [[graft.olap.Analytics.neighborJaccard]] statistic over (source,
    * token) incidence.
    *
    * Scale: the incidence collapses to DISTINCT (source, token) first —
    * map-side combinable, vocabulary-sized; the pair join is keyed by
    * token, fanning out at most |sources|²/2 per corpus-wide token, bounded
    * by source cardinality (metadata-sized), never corpus size. */
  def sourceVocabOverlap(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val st = docs.select(col(groupCol).as("g"),
      explode(tokens(col(textCol))).as("w")).distinct()
    val sz = st.groupBy(col("g")).agg(count(lit(1)).as("nv"))
    st.join(st.select(col("g").as("g2"), col("w")), Seq("w"))
      .filter(col("g") < col("g2"))
      .groupBy(col("g"), col("g2")).agg(count(lit(1)).as("shared"))
      .join(sz.select(col("g"), col("nv").as("na")), Seq("g"))
      .join(sz.select(col("g").as("g2"), col("nv").as("nb")), Seq("g2"))
      .select(col("g").as("source_a"), col("g2").as("source_b"),
        col("shared"), (col("na") + col("nb") - col("shared")).as("uni"),
        expr("shared * 1000000L DIV (na + nb - shared)").as("jaccard_x1e6"))
  }

  /** Token frequency-of-frequencies spectrum — the Zipf health report: one
    * row per occurrence count `freq` with `n_types` = how many DISTINCT
    * tokens occur exactly that often corpus-wide. A natural corpus follows
    * Zipf (n_types ≈ C/freq², the hapax mass dominating); a spectrum with a
    * truncated head or missing hapax tail flags template spam or aggressive
    * prior filtering — the cheap pre-training diagnostic next to
    * [[vocabStats]].
    *
    * Scale: two map-side-combinable count aggregates (occurrences → per-type
    * counts → spectrum); output is ≤ max-frequency rows, microscopic at any
    * corpus size. */
  def frequencySpectrum(docs: DataFrame,
      textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_types"))

  /** Language-metadata consistency report — per source: how many documents'
    * [[langId]] prediction disagrees with the DECLARED lang column
    * (mislabeled metadata, wrong-language contamination inside a "clean"
    * source, or a drifting upstream detector). Exact integers +
    * floor-scaled rate; one scan, one source-keyed count aggregate. */
  def langConsistency(docs: DataFrame, langCol: String = "lang",
      sourceCol: String = "source", textCol: String = "text"): DataFrame =
    docs.select(col(sourceCol).as("source"),
        (langId(col(textCol)) =!= col(langCol)).cast("long").as("__m"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("__m")).as("n_mismatch"))
      .withColumn("mismatch_x1e6",
        expr("CAST(CAST(n_mismatch AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)"))

  /** Mutual information between two categorical columns — the dataset-audit
    * statistic for unwanted association (is `lang` confounded with `source`?
    * does the split leak the label?): MI = Σ_{x,y} p(x,y)·ln[p(x,y)/(p(x)p(y))]
    * in nats, one row (n, mi). MI = 0 iff independent; rows where either
    * column is NULL are excluded (pairwise-complete, documented).
    *
    * Scale + determinism: ONE joint count aggregate (alphabet-sized output);
    * marginals derive from the joint table, the total rides a 1-row
    * broadcast, and each distinct cell contributes cab·round(ln r, 9) summed
    * in DECIMAL — the [[bigramLogProb]] cross-engine recipe, so the result
    * is bit-identical on any engine and partition layout. */
  def mutualInformation(df: DataFrame, colA: String, colB: String): DataFrame = {
    val joint = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("cab"))
    val ca = joint.groupBy(col("__a")).agg(sum(col("cab")).as("ca"))
    val cb = joint.groupBy(col("__b")).agg(sum(col("cab")).as("cb"))
    val n = joint.agg(sum(col("cab")).as("n"))
    // term widths matter: cab as (19,0) × 9-dp ln as (11,9) → (31,9), inside
    // the 38-digit cap so the product and its sum stay EXACT (a (28,12)
    // multiplicand would overflow precision and silently round to 6 dp)
    joint.join(ca, Seq("__a")).join(cb, Seq("__b")).crossJoin(broadcast(n))
      .select(col("n"),
        (col("cab").cast(DecimalType(19, 0)) * round(log(
          col("n").cast(DoubleType) * col("cab").cast(DoubleType) /
            (col("ca").cast(DoubleType) * col("cb").cast(DoubleType))), 9)
          .cast(DecimalType(11, 9))).as("__term"))
      .groupBy(col("n"))
      .agg(round(sum(col("__term")).cast(DoubleType) /
        col("n").cast(DoubleType), 6).as("mi"))
  }

  /** Linear quality-classifier scoring (the fastText-shaped filter every
    * corpus pipeline runs): score = bias + Σ weight(token) / n_tokens over an
    * explicit vocabulary. The vocab rides a broadcast join (it is model-sized,
    * not corpus-sized), the sum is map-side-combinable, and the weight
    * accumulation is DECIMAL so the score is bit-identical on any partition
    * layout; the final divide happens once per document in DOUBLE. */
  def scoreLinear(docs: DataFrame, weights: Map[String, Double],
      bias: Double = 0.0, threshold: Double = 0.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = broadcast(
      weights.toSeq.toDF("token", "__w")
        .select(col("token"), col("__w").cast(DecimalType(18, 6)).as("__w")))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .join(vocab, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("__w")), lit(0).cast(DecimalType(18, 6))).as("__sum"))
      .withColumn("score", round(
        lit(bias) + col("__sum").cast(DoubleType) / col("n_tokens"), 6))
      .withColumn("keep", col("score") >= threshold)
      .drop("__sum")
  }

  /** One BPE merge-round statistic: adjacent character-pair frequencies
    * weighted by word frequency — the inner loop of byte-pair-encoding
    * tokenizer training. The corpus collapses to its vocabulary FIRST (one
    * hash agg), then pairs explode over the vocab only — at 100 TB the pair
    * stage touches |vocab| rows, not the corpus. Top-k with pair tie-break. */
  def bpePairCounts(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    val wf = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    wf.filter(length(col("w")) >= 2)
      .select(col("f"), explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc).limit(k)
  }

  /** BPE TRAINING — learn the merge table itself (the loop
    * [[bpePairCounts]] is one round of and [[bpeEncode]] applies): repeat
    * `numMerges` times — count adjacent unit pairs weighted by word
    * frequency, adopt the most frequent pair (count desc, then (a, b)
    * lexicographic — a total order, so every engine learns the identical
    * table), and rewrite it into one unit corpus-wide. Returns the learned
    * table as (rank, a, b, cnt), ready to feed [[bpeEncode]].
    *
    * Scale: the corpus collapses ONCE to its word-frequency vocabulary (one
    * hash agg — the only corpus-sized stage); every training round then
    * touches |vocab| rows: pair explode → map-side-combinable weighted
    * count → a LIMIT-1 argmax (driver reads one row — a bounded control
    * read, like the centroid reads) → one single-pass replace over the
    * vocab strings. Same spaced-unit representation and left-to-right
    * non-overlapping replace as [[bpeEncode]], so train and encode compose
    * exactly and a SQL oracle mirrors the loop round for round. Training
    * stops early if pairs run out (single-char vocabulary exhausted). */
  def bpeTrain(docs: DataFrame, numMerges: Int,
      textCol: String = "text"): DataFrame = {
    require(numMerges >= 1, "bpeTrain: numMerges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val ascii = regexp_replace(col(textCol), "[^\\x20-\\x7E]", "")
    val wf0 = docs.select(explode(split(ascii, "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    var wf = wf0
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("f"))
      .localCheckpoint(false)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      // unit array materialized before the pair lambda (see
      // stupidBackoffLogProb.grams — the inline form re-split per pair)
      val us = col("__u")
      val top = wf.select(col("f"),
          filter(split(col("s"), " "), u => u =!= "").as("__u"))
        .filter(size(us) >= 2)
        .select(col("f"), explode(transform(sequence(lit(0), size(us) - 2),
          i => struct(element_at(us, i + 1).as("a"), element_at(us, i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b")).agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        learned += ((r.toLong, a, b, cnt))
        wf = wf.select(replace(col("s"), lit(s" $a $b "), lit(s" $a$b ")).as("s"), col("f"))
          .localCheckpoint(false)
        r += 1
      }
    }
    learned.toSeq.toDF("rank", "a", "b", "cnt")
  }

  /** BPE ENCODE — apply a fixed, ordered merge table to text (the tokenizer
    * APPLICATION that pairs with [[bpePairCounts]]' training statistic).
    * Each merge (a, b) in rank order rewrites the adjacent unit pair into
    * its concatenation; multi-char units compose naturally across ranks
    * (('t','h') then ('th','e') yields 'the').
    *
    * Representation: whitespace runs collapse to a \\u0001 sentinel (merges
    * can never cross word boundaries), every character is space-delimited
    * into single-char units, and each merge is ONE left-to-right
    * non-overlapping single-pass string replace of " a b " → " ab " — the
    * fast single-pass BPE application. Both Spark's `replace` and standard
    * SQL REPLACE scan left-to-right non-overlapping, so the result is
    * bit-identical cross-engine (a faithful per-word iterate-to-fixpoint
    * re-scans after every merge; the chained single passes are its
    * deterministic approximation, the trade production fast-BPE encoders
    * also make). Text is pre-normalized to printable ASCII so the
    * char-splitting regex is engine-agnostic (at scale, byte-level BPE over
    * binary would replace this normalization).
    *
    * Pure Column expressions end to end — zero shuffles, codegen'd; at
    * 100 TB this is a map-only pass like the quality scores. Returns
    * (idCol, n_bpe, preview = first `previewN` units '|'-joined). */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      previewN: Int = 8): DataFrame = {
    require(merges.nonEmpty, "bpeEncode needs at least one merge")
    require(merges.forall { case (a, b) =>
      a.nonEmpty && b.nonEmpty && !(a + b).contains(" ") && !(a + b).contains("\u0001") },
      "merge units must be non-empty and free of spaces/sentinels")
    val ascii = regexp_replace(col(textCol), "[^\\x20-\\x7E]", "")
    val sentinel = regexp_replace(ascii, "\\s+", "\u0001")
    val spaced = concat(lit(" "), regexp_replace(sentinel, "(.)", "$1 "))
    val merged = merges.foldLeft(spaced) { case (acc, (a, b)) =>
      replace(acc, lit(s" $a $b "), lit(s" $a$b ")) }
    val units = filter(split(merged, " "),
      u => u =!= "" && u =!= "\u0001")
    docs.select(col(idCol), size(units).as("n_bpe"),
      array_join(slice(units, 1, previewN), "|").as("preview"))
  }

  /** Column profiling — the data-quality sweep run before training on a new
    * corpus drop: per requested column, row count, null count, EXACT
    * distinct count, and min/max (stringified so heterogeneous columns share
    * one output schema; string min/max compare binary in both engines).
    * ONE pass: a single aggregate computes every column's stats (multiple
    * exact distincts plan as one Expand — the scan is read once, rows are
    * duplicated #cols× inside the aggregate), then a `stack` unpivot emits
    * one row per column. At 100 TB the Expand multiplier is the cost of
    * exactness — [[profileColumnsApprox]] is the same sweep with HLL++
    * sketches (no Expand, order-insensitive merge) for the scale path. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    require(cols.forall(df.columns.contains), s"unknown columns: " +
      cols.filterNot(df.columns.contains).mkString(", "))
    profileWith(df, cols, c => count_distinct(col(c)))
  }

  /** [[profileColumns]] with approximate distinct counts
    * (HyperLogLog++, `rsd` relative error) — single pass, no Expand; the
    * 100 TB default. Estimates are deterministic for a given dataset (sketch
    * merge is order-insensitive) but NOT comparable across engines. */
  def profileColumnsApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    profileWith(df, cols, c => approx_count_distinct(col(c), rsd))

  private def profileWith(df: DataFrame, cols: Seq[String],
      ndv: String => Column): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"__cnt_$c"), ndv(c).as(s"__ndv_$c"),
      min(col(c)).cast(StringType).as(s"__min_$c"),
      max(col(c)).cast(StringType).as(s"__max_$c")) }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    // unpivot as explode-of-structs (uniform field names; `stack` rejects
    // branches whose struct field names differ)
    val rows = cols.map { c => struct(lit(c).as("column"),
      col(s"__cnt_$c").as("cnt"), col(s"__ndv_$c").as("ndv"),
      col(s"__min_$c").as("min_str"), col(s"__max_$c").as("max_str")) }
    one.select(col("__n"), explode(array(rows: _*)).as("r"))
      .select(col("r.column").as("column"), col("__n").as("n"),
        (col("__n") - col("r.cnt")).as("nulls"), col("r.ndv").as("ndv"),
        col("r.min_str").as("min_str"), col("r.max_str").as("max_str"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own top-k
    * vocabulary — the tokenizer-coverage report run before fixing a vocab
    * size (high OOV mass ⇒ the vocab is too small or the corpus too noisy).
    * The vocabulary is the `vocabSize` most frequent whitespace tokens with
    * a deterministic (freq DESC, token ASC) boundary tie-break, so the same
    * corpus always yields the same vocab on any engine. Emits exact
    * integers: (idCol, n_tokens, n_oov, oov_x1e6 = ⌊10⁶·n_oov/n_tokens⌋).
    *
    * Scale: the vocab is one corpus-wide token aggregate collapsed to
    * `vocabSize` rows via TakeOrdered (no global sort), then BROADCAST into
    * the membership join — the exploded token stream never shuffles; the
    * per-document count is map-side combinable keyed by doc id. */
  def oovRate(docs: DataFrame, vocabSize: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    oovRateAgainst(docs, topVocabulary(docs, vocabSize, textCol), idCol, textCol)

  /** The corpus's own top-k vocabulary (freq DESC, token ASC boundary
    * tie-break — deterministic on any engine): one token aggregate collapsed
    * via TakeOrdered. Returns a one-column (`w`) frame. */
  def topVocabulary(docs: DataFrame, vocabSize: Int,
      textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "topVocabulary needs a positive vocabSize")
    docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("w").asc).limit(vocabSize)
      .select(col("w"))
  }

  /** [[oovRate]] against a PREBUILT vocabulary frame (one column `w`) — the
    * monitoring form: freeze the vocab once, score any corpus (or a LIVE
    * ingest stream — one broadcast join + ONE aggregation, so it runs
    * unchanged under Structured Streaming's complete mode; the streaming
    * probe q_stream_oov is exactly this op over readStream). */
  def oovRateAgainst(docs: DataFrame, vocab: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // distinct: a duplicate vocab token would fan out the membership join
    // and silently inflate n_tokens/n_oov (easy to hit via unioned vocabs)
    val v = vocab.select(col("w")).distinct().select(col("w"), lit(1).as("__in"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(v), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_x1e6", expr("n_oov * 1000000L DIV n_tokens"))
  }

  /** Deterministic hash split — train/val/test assignment by md5-bucket of
    * the row id. Pure map (zero shuffle at any scale), and STABLE: a row's
    * split never changes when other rows are added or removed, which is the
    * property decontamination pipelines depend on (eval rows must not drift
    * into train across corpus refreshes). `weights` are (name, weight) in
    * assignment order; buckets are integer thresholds over one million so
    * both engines compare the identical integers. */
  def hashSplit(docs: DataFrame, weights: Seq[(String, Double)],
      idCol: String = "doc_id", salt: String = ""): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val bucket = pmod(
      conv(substring(md5(concat_ws(":", lit(salt), col(idCol).cast(StringType))), 21, 12),
        16, 10).cast(LongType), lit(1000000L))
    // cumulative integer thresholds; the final split takes the remainder so
    // rounding never leaves a bucket unassigned
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => math.round(f * 1000000.0)).dropRight(1)
    val assign = weights.map(_._1).zip(cuts :+ 1000000L)
      .foldRight(lit(weights.last._1)) { case ((name, cut), acc) =>
        when(bucket < cut, lit(name)).otherwise(acc)
      }
    docs.withColumn("split", assign)
  }

  /** Stratified split with EXACT per-stratum proportions: rank rows inside
    * each stratum by the deterministic shuffle key, then cut the ranked list
    * at ceil(fraction·stratum_count) boundaries. One shuffle (window by
    * stratum); strata are dataset sources — few and fat — so per-partition
    * state is a counter, not a buffer (row_number needs no frame). Use
    * hashSplit when assignment stability across corpus refreshes matters
    * more than exact counts. */
  def stratifiedSplit(docs: DataFrame, weights: Seq[(String, Double)],
      strataCol: String = "source", idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    import org.apache.spark.sql.expressions.Window
    val total = weights.map(_._2).sum
    val w = Window.partitionBy(col(strataCol))
      .orderBy(shuffleKey(col(idCol), salt), col(idCol).asc)
    val n = Window.partitionBy(col(strataCol))
    val ranked = docs
      .withColumn("__rk", row_number().over(w).cast(LongType))
      .withColumn("__n", count(lit(1)).over(n))
    val cuts = weights.scanLeft(0.0) { case (acc, (_, wt)) => acc + wt / total }.tail
    val assign = weights.map(_._1).zip(cuts)
      .foldRight(lit(weights.last._1)) { case ((name, cut), acc) =>
        when(col("__rk") <= ceil(lit(cut) * col("__n")).cast(LongType), lit(name)).otherwise(acc)
      }
    ranked.withColumn("split", assign).drop("__rk", "__n")
  }

  /** C4-style page cleaning (the published c4.en heuristics — Raffel et al.
    * 2020 §2.2 — the documented subset below, applied line-by-line then
    * page-level):
    *   - a LINE survives iff it ends in terminal punctuation (. ! ? ") and
    *     has at least `minWords` whitespace words and does not contain the
    *     word "javascript" (case-insensitive);
    *   - a PAGE drops entirely when its text contains "lorem ipsum"
    *     (case-insensitive) or a '{' (code), or fewer than `minLines` lines
    *     survive.
    * Returns (idCol, textCol, kept): surviving pages re-join their kept
    * lines with '\n'; dropped pages carry NULL text and kept=false; NULL
    * input stays NULL (the house null contract). Pure codegen expressions —
    * split/filter/array_join per row, no shuffle, no UDF — so the filter
    * runs at scan speed on 100 TB and a SQL oracle mirrors every rule. */
  def c4Clean(docs: DataFrame, minWords: Int = 3, minLines: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val keptLines = filter(lines, l =>
      regexp_like(rtrim(l), lit("[.!?\"]$")) &&
        size(split(trim(l), "\\s+")) >= minWords &&
        !lower(l).contains("javascript"))
    val pageDrop = coalesce(
      lower(col(textCol)).contains("lorem ipsum") ||
        col(textCol).contains("{") ||
        size(keptLines) < minLines,
      lit(true)) // null text -> dropped page (text stays null below)
    docs.select(col(idCol),
      when(pageDrop, lit(null).cast(StringType))
        .otherwise(array_join(keptLines, "\n")).as(textCol),
      (!pageDrop).as("kept"))
  }
}
