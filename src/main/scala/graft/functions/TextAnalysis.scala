package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumns

/**
 * Text-analysis primitives for large-scale training-data pipelines:
 * token counting, quality scoring, language ID, document
 * fingerprinting. All pure Column expressions, no UDFs: built-in
 * functions plus graft's native codegen'd kernels (whitespace
 * [[expressions.Tokens]], word and character n-grams in
 * [[expressions.TextKernels]], [[expressions.UnicodeNormalize]]), so
 * they stay inside whole-stage codegen and scale linearly with no
 * shuffle.
 *
 * Engine-portability: every hash is md5 (identical across engines);
 * no engine-specific RNG.
 */
object TextAnalysis {

  /** Whitespace tokenization (runs of Java `\s`, blanks dropped);
   * empty/blank text ⇒ empty array. Native [[expressions.Tokens]]. */
  def tokens(text: Column): Column =
    GraftColumns.column(expressions.Tokens(GraftColumns.expression(text)))

  /** Character n-grams of a string in order (`substring(text, i, n)`
   * for every start i); fewer than `n` characters ⇒ empty array.
   * Native [[expressions.CharNgrams]]. */
  def charNgrams(text: Column, n: Int): Column =
    GraftColumns.column(expressions.CharNgrams(GraftColumns.expression(text), n, distinct = false))

  def tokenCount(text: Column): Column = size(tokens(text))

  def charCount(text: Column): Column = length(text)

  /** BPE-ish token estimate: runs of letters, runs of digits, or single
   * other non-space characters (portable regex subset). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Mean token length (0 for empty docs). */
  def meanTokenLength(text: Column): Column = meanTokenLengthOf(tokens(text))

  /** Mean token length from an already-materialized token array —
   * callers staging tokens once (cleanCorpus) avoid re-tokenizing. */
  def meanTokenLengthOf(t: Column): Column =
    when(size(t) === 0, lit(0.0))
      .otherwise(aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        (length(text) - length(regexp_replace(text, "[\\.,;:!\\?'\"]", ""))).cast("double")
          / length(text))

  /** English stopwords used by the quality score and language ID. */
  val stopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Repetition ratio: 1 − distinct/total tokens — the boilerplate /
   * repeated-line quality signal (0 = no repetition). */
  def repetitionRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(t)).cast("double") / size(t))
  }

  /** Ratio of tokens that are stopwords — a standard quality signal. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = stopwordsEn): Column =
    stopwordRatioOf(tokens(text), stopwords)

  /** Seeded integer weights of the hashed linear classifier: bucket b
   * weighs (first md5 hex nibble of "qw:b") − 8 ∈ [−8, 7]. A
   * deterministic, engine-reproducible stand-in for trained weights —
   * swap in a real model's vector without touching the plumbing. */
  def linearWeights(buckets: Int): Seq[Int] = (0 until buckets).map { b =>
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"qw:$b".getBytes("UTF-8")).map("%02x".format(_)).mkString
    "0123456789abcdef".indexOf(digest.charAt(0)) - 8
  }

  /**
   * Hashed linear text classifier — the fastText-style quality-filter
   * shape (hashed bag-of-words → mean-pooled linear logit →
   * threshold) as ONE narrow codegen'd pass: no explode, no shuffle,
   * no UDF. Each token hashes to a bucket (md5 mod `buckets`) whose
   * integer weight joins an exact integer sum (order-independent, so
   * engine parity is exact); the only float op is the final
   * mean-scaling division, rounded to 6 decimals. keep = raw > 0 is
   * decided in integer space — never on the rounded float.
   * Output: (doc_id, n_tokens, logit, keep).
   */
  /** The classifier's exact-integer weight sum over a text column —
   * the quantity both the logit and the keep verdict derive from. */
  def qualityRawSum(text: Column, buckets: Int = 64): Column = {
    val w = linearWeights(buckets)
    aggregate(tokens(text), lit(0L), (acc, tok) => acc +
      element_at(typedLit(w), (Dedup.md5Hash32(tok) % buckets).cast("int") + 1))
  }

  /** Mean-pooled linear logit of [[linearQualityScore]] as a scalar
   * Column (the SQL-surface form, `graft_quality_logit`). UNROUNDED:
   * integer/integer double division is correctly-rounded IEEE in any
   * engine, so the raw double is exactly reproducible — a round(,6)
   * here would BREAK parity on decimal half-cases (raw/(16n) hits
   * them: Spark rounds the shortest decimal repr HALF_UP, DuckDB
   * rounds the binary value — they disagree at e.g. −82/1280). */
  def qualityLogit(text: Column, buckets: Int = 64): Column = {
    val n = size(tokens(text))
    when(n === 0, lit(0.0))
      .otherwise(qualityRawSum(text, buckets) / (lit(16.0) * n))
  }

  def linearQualityScore(df: org.apache.spark.sql.DataFrame, keyCol: String,
      textCol: String, buckets: Int = 64): org.apache.spark.sql.DataFrame = {
    val t = tokens(col(textCol))
    df.select(col(keyCol).as("doc_id"), t.as("_t"),
        qualityRawSum(col(textCol), buckets).as("_raw"))
      .select(col("doc_id"),
        size(col("_t")).cast("integer").as("n_tokens"),
        // unrounded on purpose — see qualityLogit's half-case note
        when(size(col("_t")) === 0, lit(0.0))
          .otherwise(col("_raw") / (lit(16.0) * size(col("_t")))).as("logit"),
        (col("_raw") > 0).as("keep"))
  }

  /** Stopword ratio from an already-materialized token array. */
  def stopwordRatioOf(t: Column, stopwords: Seq[String] = stopwordsEn): Column =
    when(size(t) === 0, lit(0.0))
      .otherwise(size(filter(t, x => x.isin(stopwords.map(lit(_)): _*))).cast("double") / size(t))

  /** Composite quality score in [0,1]: length in a sane band, some
   * stopwords present, tokens not degenerate. Deterministic arithmetic
   * only (each term portable to the SQL oracle). */
  def qualityScore(text: Column): Column =
    qualityScoreOf(charCount(text), tokens(text))

  /** Quality score from already-materialized (char count, token array)
   * columns — the form stages use when the text itself is expensive to
   * recompute (cleanCorpus gates on this without re-evaluating the
   * whole normalize→dedup→scrub chain per quality term). */
  def qualityScoreOf(len: Column, t: Column): Column = {
    val lenScore = least(len.cast("double") / 200.0, lit(1.0))
    val stopScore = least(stopwordRatioOf(t) * 5.0, lit(1.0))
    val meanLen = meanTokenLengthOf(t)
    val shapeScore = when(meanLen >= 2.0 && meanLen <= 12.0, 1.0).otherwise(0.0)
    round((lenScore + stopScore + shapeScore) / 3.0, 6)
  }

  /** Per-language stopword profiles for the stopword-argmax language
   * heuristic. Top high-frequency function words per language (public
   * frequency lists), lowercase, apostrophe-free so each word embeds
   * as a plain SQL string literal — the t2 oracle is GENERATED from
   * this table (PipelineQueries), so profile edits stay in lockstep
   * by construction. Profile ORDER is part of the semantics: the
   * argmax is strictly-greater in sequence order, so ties resolve to
   * the earlier language. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "that", "it",
      "was", "for", "on", "are", "with", "as", "be", "this", "have"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est",
      "dans", "que", "qui", "pour", "pas", "sur", "avec", "au", "ce"),
    "es" -> Seq("el", "la", "de", "y", "los", "las", "que", "en", "un",
      "una", "es", "por", "con", "para", "del", "se", "no", "como"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu", "den",
      "mit", "nicht", "ein", "eine", "auf", "sich", "dem", "auch", "es", "im"),
    "it" -> Seq("il", "di", "che", "e", "la", "per", "un", "una", "in",
      "non", "sono", "con", "del", "si", "da", "come", "le", "gli"),
    "pt" -> Seq("o", "a", "de", "que", "e", "do", "da", "em", "um",
      "uma", "para", "com", "os", "as", "por", "mais", "dos", "se"),
    "nl" -> Seq("de", "het", "een", "van", "en", "in", "is", "dat",
      "op", "te", "zijn", "met", "voor", "niet", "aan", "er", "ook", "maar"),
    "sv" -> Seq("och", "att", "det", "som", "en", "av", "den",
      "till", "är", "inte", "om", "ett", "han", "med", "var", "sig", "från"),
    "pl" -> Seq("w", "i", "z", "na", "do", "to", "jest", "nie", "jak",
      "ale", "po", "co", "tak", "dla", "od", "przez", "przy"),
    "tr" -> Seq("bir", "bu", "ve", "için", "ile", "olarak", "da", "de",
      "çok", "daha", "gibi", "ama", "en", "sonra", "kadar", "olan", "her"))

  /**
   * Language ID by stopword-profile score: argmax over languages of
   * matching token count; ties and zero-score docs fall back to
   * "und" (undetermined). Deterministic: strictly-greater argmax in
   * fixed profile order.
   */
  def languageId(text: Column): Column = {
    val t = tokens(text)
    def score(words: Seq[String]): Column =
      size(filter(t, x => x.isin(words.map(lit(_)): _*)))
    val scored = langProfiles.map { case (lang, words) => (lang, score(words)) }
    val best = scored.foldLeft((lit("und"), lit(0))) { case ((bl, bs), (lang, s)) =>
      (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    best._1
  }

  /** Unicode NFC normalization — canonical composition, the first
   * pass of a multilingual pipeline (decomposed "e"+U+0301 and
   * precomposed "é" must digest/shingle identically). Custom
   * codegen'd Expression: Spark has no built-in normalizer and a UDF
   * would break whole-stage codegen on the full-corpus scan. */
  def nfc(text: Column): Column =
    GraftColumns.column(expressions.UnicodeNormalize(GraftColumns.expression(text), "NFC"))

  /** NFKC: compatibility composition (also folds ligatures/width
   * variants, e.g. "ﬁ" → "fi") — the aggressive form for dedup keys. */
  def nfkc(text: Column): Column =
    GraftColumns.column(expressions.UnicodeNormalize(GraftColumns.expression(text), "NFKC"))

  /** PII patterns as (name, regex, replacement), in redaction order.
   * The regex subset is portable (no backreferences or lookarounds —
   * legal in both java.util.regex and RE2-style engines, so the SQL
   * oracle can run the identical patterns). Email is redacted first:
   * its local part can contain digit runs that the later numeric
   * patterns would otherwise clip mid-address. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b", "<PHONE>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"))

  /** Occurrences of one PII pattern (count BEFORE redaction — the
   * audit metric: how much PII did this doc carry). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Scrub all PII patterns in order. Pure regexp_replace chain —
   * codegen'd, no shuffle, linear scan of the corpus. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, p, r)) => regexp_replace(c, p, r) }

  /** Within-document line dedup — the boilerplate-removal pass
   * (repeated nav/footer/disclaimer lines): split on `sep`, keep each
   * line's FIRST occurrence (order preserved), rejoin. Pure
   * higher-order expressions over the line array — codegen'd, no
   * shuffle, no UDF: a line survives iff its index equals the index
   * of its first occurrence. */
  def dedupLines(text: Column, sep: String = "\n"): Column = {
    val lines = split(text, java.util.regex.Pattern.quote(sep))
    array_join(
      filter(lines, (l, i) => array_position(lines, l) === (i + 1).cast("long")),
      sep)
  }

  /** Lines removed by [[dedupLines]] (the repetition signal itself). */
  def dupLineCount(text: Column, sep: String = "\n"): Column = {
    val lines = split(text, java.util.regex.Pattern.quote(sep))
    size(lines) - size(array_distinct(lines))
  }

  /** Whole-document fingerprint: md5 of the whitespace-normalized text. */
  def fingerprint(text: Column): Column =
    md5(array_join(tokens(text), " "))

  /** Rolling/shingle fingerprint: the minimum md5 over word n-gram
   * shingles (a 1-permutation MinHash — stable under small edits). */
  def minShingleFingerprint(sh: Column): Column =
    when(size(sh) === 0, md5(lit("")))
      .otherwise(array_min(transform(sh, s => md5(s))))

  /** DataFrame-level fingerprints: (key, fp, min_shingle_fp), both
   * derived from one staged token array. */
  def fingerprints(df: org.apache.spark.sql.DataFrame, keyCol: String, textCol: String,
      n: Int = 5): org.apache.spark.sql.DataFrame =
    df.select(col(keyCol), tokens(col(textCol)).as("_t"))
      .select(col(keyCol), md5(array_join(col("_t"), " ")).as("fp"),
        minShingleFingerprint(Dedup.shinglesFromTokens(col("_t"), n)).as("min_shingle_fp"))

  /**
   * One-call corpus cleaning — the standard pre-training sequence,
   * composed from the individual passes: NFC normalize → within-doc
   * line dedup → PII scrub → quality gate → exact dedup (min-id
   * representative per distinct cleaned text, with the clone count).
   * Everything up to the final digest groupBy is a zero-shuffle map
   * over the corpus scan; the dedup is the one content-keyed shuffle.
   * Output: (digest, keep_id, dup_count).
   */
  def cleanCorpus(df: org.apache.spark.sql.DataFrame, keyCol: String, textCol: String,
      minQuality: Double = 0.3, lineSep: String = "\n"): org.apache.spark.sql.DataFrame = {
    // Stage 1: the expensive chain, ONCE per row. Stage 2 derives
    // digest + quality inputs from the staged string (CollapseProject
    // keeps multi-referenced non-trivial aliases staged rather than
    // inlining). The quality GATE runs post-aggregation on the carried
    // score — a pre-agg Filter would be pushed through the projects
    // and re-expand the whole chain per quality term (measured 22
    // chain sites in the plan); clones share identical cleaned text,
    // so gating the group equals gating each row.
    val cleaned = df.select(col(keyCol),
      redactPii(dedupLines(nfc(col(textCol)), lineSep)).as("_clean"))
    val derived = cleaned.select(col(keyCol),
      md5(col("_clean")).as("digest"),
      length(col("_clean")).as("_len"),
      tokens(col("_clean")).as("_t"))
    derived
      .select(col(keyCol), col("digest"),
        qualityScoreOf(col("_len"), col("_t")).as("_q"))
      .groupBy(col("digest"))
      .agg(min(col(keyCol)).as("keep_id"), count(lit(1)).as("dup_count"),
        min(col("_q")).as("_q"))
      .filter(col("_q") >= minQuality)
      .select(col("digest"), col("keep_id"), col("dup_count"))
  }

  /**
   * Per-document repetition signals — the Gopher-style quality rules
   * (Rae et al. 2021, §A1.1: fraction of duplicated n-grams and the
   * share claimed by the single most frequent n-gram) that catch
   * machine-generated / boilerplate-stuffed pages plain quality
   * scores miss.
   *
   * Output per doc: (key, n_tokens, dup_token_frac, dup_5gram_frac,
   * top_bigram_frac), all fractions rounded to 6 dp:
   *  - dup_token_frac: 1 − distinct/total tokens (map-only);
   *  - dup_5gram_frac: 1 − distinct/total word 5-grams (map-only);
   *  - top_bigram_frac: occurrences of the most frequent bigram over
   *    total bigrams — needs a per-(doc, bigram) count, done as
   *    explode → two-level hash agg (partial combines map-side, so
   *    shuffle volume is distinct bigrams, not corpus tokens).
   * Docs with no bigrams (< 2 tokens) score 0 everywhere.
   */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, keyCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(keyCol), tokens(col(textCol)).as("_t"))
    val n = size(col("_t"))
    val mapSide = toks.select(
        col(keyCol),
        n.as("n_tokens"),
        when(n === 0, 0.0).otherwise(round(
          lit(1.0) - size(array_distinct(col("_t"))).cast("double") / n,
          6)).as("dup_token_frac"),
        when(n < 5, 0.0).otherwise(round(
          lit(1.0) - size(Dedup.shinglesFromTokens(col("_t"), 5)).cast("double") / (n - 4), 6))
          .as("dup_5gram_frac"))
    val bigramTop = toks
      .select(col(keyCol), explode(Dedup.ngramsFromTokens(col("_t"), 2)).as("_bg"))
      .groupBy(col(keyCol), col("_bg")).agg(count(lit(1)).as("_c"))
      .groupBy(col(keyCol)).agg(max(col("_c")).as("_top"), sum(col("_c")).as("_tot"))
    mapSide.join(bigramTop, Seq(keyCol), "left")
      .select(col(keyCol), col("n_tokens"), col("dup_token_frac"), col("dup_5gram_frac"),
        coalesce(round(col("_top").cast("double") / col("_tot"), 6), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** Integer gate for md5-derived deterministic sampling: keep a key
   * iff md5_32(key) < floor(rate·2³²). The comparison stays in exact
   * integer space — no float rounding, identical in any engine with
   * md5, stable under reruns/backfills (the property training-data
   * sampling needs: membership is a pure function of the key). */
  def sampleThreshold(rate: Double): Long =
    math.floor(rate * 4294967296.0).toLong

  /** Uniform deterministic sample at `rate` keyed on `key`. */
  def deterministicSample(df: org.apache.spark.sql.DataFrame, key: Column,
      rate: Double): org.apache.spark.sql.DataFrame =
    df.filter(Dedup.md5Hash32(key) < lit(sampleThreshold(rate)))

  /**
   * Stratified deterministic sample: per-stratum rates (training-
   * mixture reweighting — e.g. downsample boilerplate-heavy strata,
   * keep rare languages). Map-side filter only: no shuffle, no RNG
   * state, membership reproducible from (key, stratum rates) alone.
   */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): org.apache.spark.sql.DataFrame = {
    val threshold = rates.foldLeft(lit(sampleThreshold(defaultRate))) {
      case (acc, (s, r)) => when(stratum === s, lit(sampleThreshold(r))).otherwise(acc)
    }
    df.filter(Dedup.md5Hash32(key) < threshold)
  }

  /**
   * Temperature resampling (τ = 0.5) — the data-mixing step that
   * flattens domain proportions toward uniform before training:
   * target mix ∝ n_s^τ, realized by PURE SUBSAMPLING with
   * rate_s = √(min_n / n_s) (exactly 1 for the smallest domain, so no
   * domain is upsampled). τ is pinned at 0.5 because IEEE-754 sqrt is
   * correctly rounded — bit-identical across engines — where pow(x, τ)
   * is not, and the acceptance test must compare integers exactly.
   * Domain counts are dimension-sized, so the rate table broadcasts
   * and acceptance is the same map-side integer-md5 threshold as
   * [[deterministicSample]]: no per-row state, reproducible under
   * task retry, one aggregation + one broadcast join at any corpus
   * size.
   */
  def temperatureSample(df: org.apache.spark.sql.DataFrame, key: Column,
      domainCol: String): org.apache.spark.sql.DataFrame = {
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("_n"))
    val minDf = counts.agg(min(col("_n")).as("_minn"))
    val rates = counts.crossJoin(minDf)
      .select(col(domainCol),
        floor(sqrt(col("_minn").cast("double") / col("_n")) * lit(4294967296.0))
          .cast("long").as("_thr"))
    df.join(broadcast(rates), domainCol)
      .filter(Dedup.md5Hash32(key) < col("_thr"))
      .drop("_thr")
  }

  /**
   * Sequence packing with a BOUNDED window key — concatenate documents
   * in `idCol` order per `sourceCol` stream and assign each the
   * position where it lands in the packed token stream
   * (`seq_pos`; bin = seq_pos div budget, offset = seq_pos mod
   * budget). A single per-source prefix-sum window is the obvious
   * plan, but with few sources its partition width is the whole
   * corpus. Instead the prefix sum runs per (source, `batchCol`) —
   * any coarse split key, e.g. the ingestion day — and per-batch
   * token totals (a #batches-row aggregate) are turned into batch
   * BASE offsets by a second, tiny window over batches. seq_pos =
   * batch base + local prefix — arithmetically IDENTICAL to the
   * global prefix sum whenever `batchCol` is non-decreasing in
   * `idCol` within each source (an ingestion-day key is), so bin
   * numbering stays globally consistent per source while no window
   * partition exceeds one batch.
   * Output: input columns + seq_pos.
   */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
      sourceCol: String, nTokensCol: String,
      batchCol: Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLocal = Window.partitionBy(col(sourceCol), col("_batch"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = df.withColumn("_batch", batchCol)
      .withColumn("_local", coalesce(sum(col(nTokensCol)).over(wLocal), lit(0L)))
    val wBase = Window.partitionBy(col(sourceCol)).orderBy(col("_batch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = df.withColumn("_batch", batchCol)
      .groupBy(col(sourceCol), col("_batch"))
      .agg(sum(col(nTokensCol)).as("_btot"))
      .withColumn("_base", coalesce(sum(col("_btot")).over(wBase), lit(0L)))
      .select(col(sourceCol), col("_batch"), col("_base"))
    staged.join(broadcast(bases), Seq(sourceCol, "_batch"))
      .withColumn("seq_pos", col("_base") + col("_local"))
      .drop("_batch", "_local", "_base")
  }

  /**
   * Corpus-trained character-bigram language-model score — the
   * perplexity-proxy quality signal (CCNet/Gopher-style filtering uses
   * a KenLM n-gram model the same way; a char bigram LM is its
   * smallest engine-expressible form). The LM is add-one-smoothed:
   * P(b|a) = (C(ab)+1) / (C(a·)+V), with C trained on the whole
   * corpus and V = the number of distinct contexts (the charset-size
   * stand-in add-one smoothing needs; any fixed V > 0 yields the same
   * ordering, which is what a filter thresholds on).
   *
   * Per document: NLL = −Σ m_ab·ln P(b|a) over its bigram
   * multiplicities m_ab, reported both as an EXACT integer nano-unit
   * sum (each term rounded to 1e-9 BEFORE the sum, so partition order
   * cannot flip a ulp — the same trick as the exact micro-unit sums
   * elsewhere) and as the derived per-bigram average.
   *
   * Scale shape: bigram stats are one tiny aggregation (≤ charset²
   * rows) that BROADCASTS to the per-doc join; the per-doc side is one
   * explode + one (doc, bigram) pre-aggregation — cost linear in
   * corpus characters, no doc-×-doc interaction anywhere. Not oracle-
   * checked (ln is engine-specific at the last ulp); pinned by
   * [[graft.functions.TextAnalysisSpec]] against an independent
   * in-memory model instead.
   *
   * Output: (idCol, n_bigrams, nll_nanos, avg_nll) — higher avg_nll =
   * less corpus-typical text (the filter threshold side).
   */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val bigrams = charNgrams(col(textCol), 2)
    // (doc, bigram) multiplicities — the only per-doc shuffle
    val docBg = df.select(col(idCol), explode(bigrams).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("m"))
    // corpus LM: context counts C(a·) and bigram counts C(ab); both
    // charset-bounded ⇒ broadcast
    val bgCounts = docBg.groupBy(col("bg")).agg(sum(col("m")).as("cab"))
      .withColumn("ctx", substring(col("bg"), 1, 1))
    val ctxCounts = bgCounts.groupBy(col("ctx")).agg(sum(col("cab")).as("ca"))
    val vocab = bgCounts.select(countDistinct(col("ctx")).as("v"))
    val lm = broadcast(
      bgCounts.join(ctxCounts, "ctx").crossJoin(vocab)
        .select(col("bg"), col("cab"), col("ca"), col("v")))
    // per-term nano-rounded NLL, then exact integer sums
    val termNll = -log((col("cab") + 1).cast("double") / (col("ca") + col("v")))
    val scored = docBg.join(lm, "bg")
      .withColumn("_nll_nano", floor(termNll * 1e9 + 0.5).cast("long") * col("m"))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("n_bigrams"), sum(col("_nll_nano")).as("nll_nanos"))
    // restore bigram-less docs (len < 2) with NULL score
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_nanos"), lit(0L)).as("nll_nanos"),
        when(col("n_bigrams") > 0,
          col("nll_nanos").cast("double") / 1e9 / col("n_bigrams")).as("avg_nll"))
  }

  /**
   * Gopher-style rule filter (Rae et al. 2021 §A1.1, the FineWeb/
   * RefinedWeb heuristic family): one boolean per rule plus the
   * conjunction verdict, so a pipeline can both filter and report WHY
   * documents were dropped. All signals are zero-shuffle Column
   * arithmetic (int/int divisions, literal replace counts — every
   * term engine-portable for the DuckDB oracle):
   *
   *  - word count in [50, 100000]
   *  - mean word length in [3, 10]
   *  - ≥ 80% of words contain a letter
   *  - ≥ 2 stopword hits
   *  - symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1
   *  - ≤ 90% of lines start with a bullet ("- " / "* ")
   *  - ≤ 30% of lines end with an ellipsis
   */
  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val t = tokens(text)
    val lines = split(text, "\n")
    def litCount(what: String, width: Int) =
      (length(text) - length(replace(text, lit(what), lit("")))) / width
    val nWords = size(t)
    val nLines = size(lines)
    val out = df.select(
      col(idCol),
      nWords.cast("integer").as("n_words"),
      (nWords >= 50 && nWords <= 100000).as("r_word_count"),
      (meanTokenLength(text) >= 3.0 && meanTokenLength(text) <= 10.0).as("r_mean_word_len"),
      (size(filter(t, w => w.rlike("[a-z]"))).cast("double") >= nWords * 0.8)
        .as("r_alpha_frac"),
      (size(filter(t, w => w.isin(stopwordsEn.map(lit(_)): _*))) >= 2).as("r_stopwords"),
      ((litCount("#", 1) + litCount("...", 3)).cast("double") <= nWords * 0.1)
        .as("r_symbol_ratio"),
      (size(filter(lines, l => l.startsWith("- ") || l.startsWith("* "))).cast("double")
        <= nLines * 0.9).as("r_bullet_lines"),
      (size(filter(lines, l => l.endsWith("..."))).cast("double") <= nLines * 0.3)
        .as("r_ellipsis_lines"))
    out.withColumn("keep",
      col("r_word_count") && col("r_mean_word_len") && col("r_alpha_frac") &&
        col("r_stopwords") && col("r_symbol_ratio") && col("r_bullet_lines") &&
        col("r_ellipsis_lines"))
  }
}
