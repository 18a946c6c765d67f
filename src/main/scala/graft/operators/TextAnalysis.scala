package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * counting, quality scoring, language id, fingerprinting, shingling.
 *
 * Everything here is a pure `Column` expression tree over built-in
 * functions — no UDFs, so the whole document scan stays inside one
 * WholeStageCodegen span and scales linearly with input splits (narrow,
 * shuffle-free until an aggregation is applied on top).
 */
object TextAnalysis {

  /** Whitespace tokens (empty tokens from leading/trailing space removed). */
  def tokens(text: Column): Column =
    // ≡ array_remove(split(text, "\\s+"), "") ≡ filter(split(...),
    // len > 0) — spec-pinned. The r20 form removed the interpreted
    // per-element lambda (0.60 → 0.42 s, r20); the r21 kernel
    // removes the built-in chain's per-row costs outright: the
    // UTF-16 round trip inside UTF8String.split, String.split's
    // Pattern.compile of "\s+" EVERY ROW (no single-char fast path),
    // and array_remove's second array walk — one byte scan, zero-copy
    // token slices (0.43 → 0.35 s steady for the tf stage, r21;
    // parity exact on corpus + whitespace/unicode edges, WsTokensSpec).
    graft.functions.TextExpressions.wsTokens(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: letter runs, single digits, and isolated
    * punctuation as separate tokens — a cheap proxy for subword tokenizer
    * cost, computable at scan speed. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Fraction of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column = {
    val stripped = regexp_replace(text, "[A-Za-z0-9\\s]", "")
    when(length(text) > 0,
      round(length(stripped).cast("double") / length(text), 4))
      .otherwise(lit(0.0))
  }

  /** Small English stopword set (public, shared with the quality score). */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that", "be")

  /** Fraction of tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val stops = filter(toks, t => t.isInCollection(EnglishStopwords))
    when(size(toks) > 0,
      round(size(stops).cast("double") / size(toks), 4)).otherwise(lit(0.0))
  }

  /** Mean token length — long-token text is usually code/garbage. */
  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      round(aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .cast("double") / size(toks), 4))
      .otherwise(lit(0.0))
  }

  /**
   * Composite quality score in [0,1]: rewards stopword presence and
   * moderate length, penalizes punctuation soup — the classic cheap
   * pre-filter for web-scraped training text (C4/Gopher-style rules).
   */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthScore =
      least(nTok / lit(20.0), lit(1.0)) * when(nTok > 0, 1.0).otherwise(0.0)
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4)
    val stopScore = least(stopwordRatio(text) * 5, lit(1.0))
    round((lengthScore + punctScore + stopScore) / 3, 4)
  }

  /**
   * Gopher/C4-style heuristic quality RULES (Rae et al. 2021 appendix A,
   * Raffel et al. 2020 — public knowledge): per-document boolean rule
   * flags plus their conjunction, the interpretable form production
   * pipelines ship — a document is dropped WITH a reason, not behind a
   * scalar score ([[qualityScore]] is the scalar sibling). The rules
   * meaningful for whitespace-token corpora: word-count band,
   * mean-word-length band, minimum stopword ratio, minimum type-token
   * ratio (the repetition complement). Thresholds are parameters; place
   * them inside the corpus's observed distribution so every rule
   * discriminates (the battery uses the test corpus's p15-p85 band).
   *
   * Determinism: every statistic is an integer-over-integer ratio —
   * token counts, char totals via `length(concat_ws)` (no HOF fold),
   * stopword occurrences via chained native `array_remove` — divided
   * once and rounded 4dp; rules compare the ROUNDED values, so the
   * flags replay engine-independently. One projection over the corpus:
   * no shuffle, no codegen-fallback HOF in the scan.
   *
   * @return `(idCol, n_words, mean_word_len, stop_ratio, ttr,
   *         r_words, r_word_len, r_stop, r_ttr, pass)` — flags as
   *         0/1 ints; zero-token docs get null stats and pass = 0
   */
  def qualityRuleFlags(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column,
      minWords: Int = 20, maxWords: Int = 90,
      minMeanWordLen: Double = 4.25, maxMeanWordLen: Double = 4.75,
      minStopRatio: Double = 0.03, minTypeTokenRatio: Double = 0.35,
      stopwords: Seq[String] = EnglishStopwords): org.apache.spark.sql.DataFrame = {
    require(minWords <= maxWords && minMeanWordLen <= maxMeanWordLen,
      "rule bands must be non-empty")
    val toks = tokens(lower(text))
    val n = size(toks)
    val nostop = stopwords.foldLeft(toks)((c, w) => array_remove(c, w))
    val d = n.cast("double")
    val withStats = docs.select(col(idCol), n.as("__n"),
        length(concat_ws("", toks)).as("__chars"),
        (n - size(nostop)).as("__stops"),
        size(array_distinct(toks)).as("__types"))
      .select(col(idCol), col("__n").cast("long").as("n_words"),
        when(col("__n") > 0, round(col("__chars") / col("__n"), 4))
          .as("mean_word_len"),
        when(col("__n") > 0, round(col("__stops") / col("__n").cast("double"), 4))
          .as("stop_ratio"),
        when(col("__n") > 0, round(col("__types") / col("__n").cast("double"), 4))
          .as("ttr"))
    val rWords = col("n_words").between(minWords, maxWords)
    val rLen = col("mean_word_len").between(minMeanWordLen, maxMeanWordLen)
    val rStop = col("stop_ratio") >= minStopRatio
    val rTtr = col("ttr") >= minTypeTokenRatio
    def flag(c: Column): Column = coalesce(c.cast("int"), lit(0))
    withStats
      .withColumn("r_words", flag(rWords))
      .withColumn("r_word_len", flag(rLen))
      .withColumn("r_stop", flag(rStop))
      .withColumn("r_ttr", flag(rTtr))
      .withColumn("pass",
        col("r_words") * col("r_word_len") * col("r_stop") * col("r_ttr"))
  }

  /** Tiny per-language stopword profiles for the n-gram/stopword language
    * heuristic. Public knowledge (most frequent function words). */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "ein", "zu"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai", "you", "ren", "ta"))

  /**
   * Language id by stopword-hit scoring: argmax over [[LangProfiles]], with
   * deterministic tie-break on language code, "und" when nothing matches.
   * Expression-only (greatest over per-language hit counts).
   */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isInCollection(words))).as("hits"),
        lit(lang).as("lang"))
    }
    // array_max on struct(hits, lang) orders lexicographically: by hits,
    // then by lang DESC would need inversion — sort_array gives asc order,
    // last element = max hits with greatest lang; to tie-break on the
    // SMALLEST lang, compare on (hits, negated-rank) — simpler: reverse
    // profile order so earlier languages win ties via strict greater-than.
    val best = scored.reduceLeft { (a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a)
    }
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /**
   * Hot-path form of [[langId]]: ONE native-expression pass per document
   * ([[graft.functions.TextExpressions.WordListArgmax]] — tokenize, one
   * hash lookup per token, argmax with first-wins asc-language
   * tie-break, all inside whole-stage codegen). No explode (the previous
   * form generated one row per token) and no per-document aggregation
   * shuffle — language id is a scalar map over the corpus scan, which is
   * the right shape at any scale. Zero-token documents score "und".
   */
  def langGuess(text: Column): Column =
    graft.functions.TextExpressions.wordListArgmax(
      tokens(lower(text)), LangProfiles.toSeq.sortBy(_._1), "und")

  /** DataFrame form of [[langGuess]]: `(idCol, lang_guess)`, one row per
    * input row. */
  def langIdAgg(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), langGuess(text).as("lang_guess"))

  /**
   * Dictionary-based topic tagging — the keyword-prefilter stage of
   * domain curation (FineWeb-Edu-style subject gates, source routing,
   * compliance screens): each document is tagged with every topic
   * whose keyword list it hits at least `minHits` times (token
   * OCCURRENCES, multiplicity counted).
   *
   * All topic lists are matched in ONE native-expression corpus pass
   * ([[graft.functions.TextExpressions.WordListHitCounts]] — tokenize
   * once, one hash-set lookup per token, counts for every list at
   * once, entirely inside whole-stage codegen — the [[langGuess]]
   * machinery pointed at user dictionaries). The explode that follows
   * is |topics|-wide per doc, filtered immediately; no join, no
   * shuffle — tagging is a scalar map over the corpus scan at any
   * scale.
   *
   * @return `(idCol, topic, n_hits)` — one row per qualifying
   *         (document, topic)
   */
  def keywordTag(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, topics: Seq[(String, Seq[String])],
      minHits: Int = 1): org.apache.spark.sql.DataFrame = {
    require(topics.nonEmpty && topics.map(_._1).distinct.size == topics.size,
      "topics must be non-empty with distinct names")
    require(minHits >= 1, s"minHits >= 1, got $minHits")
    val counts = graft.functions.TextExpressions.wordListHitCounts(
      tokens(lower(text)), topics.map(_._2))
    val names = array(topics.map(t => lit(t._1)): _*)
    docs.select(col(idCol), posexplode(counts).as(Seq("__i", "__n")))
      .filter(col("__n") >= minHits)
      .select(col(idCol), element_at(names, col("__i") + 1).as("topic"),
        col("__n").cast("long").as("n_hits"))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * engine-portable (identical in DuckDB), used for exact dedup. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** ORDER-INSENSITIVE content fingerprint: md5 over the SORTED lowercase
    * token multiset (duplicates kept — equal counts required, so docs
    * merely sharing a vocabulary don't collapse). Catches the
    * shuffled/reflowed verbatim-duplicate class [[fingerprint]] misses —
    * token-order permutations from re-scraping, table/list reflow, or
    * markup-order jitter. Feed it to [[Dedup.exactDedup]]; one narrow
    * codegen projection, same one-shuffle dedup shape. Engine-portable
    * (`array_sort` ≡ DuckDB `list_sort` on the token strings). */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(tokens(lower(text)))))

  /** FOLD-NORMALIZED content fingerprint: md5 over text that has been
    * accent-folded (NFD, combining marks dropped —
    * [[graft.functions.TextExpressions.FoldAccents]]), lowercased, and
    * had every non-alphanumeric run collapsed to one space. Catches the
    * Unicode-variant duplicate class [[fingerprint]] misses: the same
    * prose re-encoded with diacritics, case jitter, or
    * punctuation/markup noise (smart quotes, list bullets, separator
    * runs) across crawl renderings. Engine-portable — DuckDB:
    * `md5(trim(regexp_replace(lower(strip_accents(text)),
    * '[^a-z0-9]+', ' ', 'g')))`. One narrow codegen projection; feed to
    * [[Dedup.exactDedup]] for the same one-shuffle dedup shape. */
  def foldedFingerprint(text: Column): Column =
    md5(trim(regexp_replace(
      lower(graft.functions.TextExpressions.foldAccents(text)),
      "[^a-z0-9]+", " ")))

  /**
   * Winnowing document fingerprints (the rolling-hash sketch of
   * Schleimer/Wilkerson/Aiken's MOSS): hash every k-gram, slide a window
   * of `w` consecutive hashes, keep each window's minimum. Guarantees any
   * shared substring of length ≥ w+k-1 yields a shared fingerprint.
   *
   * Plan shape: explode k-gram offsets (codegen) → per-position hash →
   * window-function min over (doc, position) → distinct. One shuffle on
   * doc id for the window; no interpreted array ops.
   *
   * @return `(idCol, fp: bigint)` — one row per distinct fingerprint.
   */
  /** @param portableHash hash k-grams with a 60-bit md5 prefix instead of
    *        xxhash64 — slower, but bit-identical in other engines (DuckDB:
    *        `('0x' || substr(md5(g),1,15))::BIGINT`), which makes the
    *        fingerprints externally verifiable (battery q33). */
  def winnowingFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, k: Int = 5, w: Int = 4,
      portableHash: Boolean = false): org.apache.spark.sql.DataFrame = {
    val norm = regexp_replace(trim(lower(text)), "\\s+", " ")
    def hash(g: Column): Column =
      if (portableHash) graft.functions.SigExpressions.md5Prefix60(g)
      else xxhash64(g)
    val grams = df
      .select(col(idCol), norm.as("__t"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1), greatest(length(col("__t")) - (k - 1), lit(1))))
          .as("__i"))
      .select(col(idCol), col("__i"),
        hash(col("__t").substr(col("__i"), lit(k))).as("__h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("__i")
      .rowsBetween(0, w - 1)
    grams
      .select(col(idCol), min(col("__h")).over(win).as("fp"))
      .distinct()
  }

  /** Character n-gram shingles (distinct), the MinHash input. */
  def charShingles(text: Column, n: Int): Column = {
    val t = regexp_replace(trim(lower(text)), "\\s+", " ")
    array_distinct(
      when(length(t) >= n,
        transform(sequence(lit(1), length(t) - (n - 1)),
          i => t.substr(i, lit(n))))
        .otherwise(array(t)))
  }

  /** Word n-gram shingles (distinct). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(lower(text))
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array(array_join(toks, " "))))
  }

  /**
   * Per-(source, language) corpus "data card": the one-pass dataset
   * profile that documents a training mixture (Gebru et al.'s
   * datasheets, Dolma/RedPajama-style corpus reports) —
   *
   *  - `n_docs`, `total_tokens`: the mixture's raw weights;
   *  - `mean_tokens`, `p50_tokens`: length profile (mean 2 dp; exact
   *    interpolated median, the q36/q78 `percentile ≡ quantile_cont`
   *    parity device);
   *  - `dup_rate`: `1 − distinct content fingerprints / n_docs` —
   *    within-slice exact-duplicate share;
   *  - `trigram_diversity`: distinct word 3-grams / total 3-gram
   *    occurrences — the distinct-n diversity signal that drops on
   *    templated or model-generated slices (null when no doc in the
   *    slice reaches 3 tokens).
   *
   * Scale shape: two aggregations over the corpus — one doc-level
   * rollup (tokenize once, narrow projections) and one trigram
   * explode+count keyed by the SAME (source, lang) — joined on the
   * group keys; the join frames are |slices|-sized, never the corpus.
   * Exact distincts are deliberate (the card is an audit artifact; swap
   * `approx_count_distinct` in only if slices reach billions of
   * fingerprints).
   */
  def dataCard(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, sourceCol: String = "source",
      langCol: String = "lang"): org.apache.spark.sql.DataFrame = {
    val keys = Seq(sourceCol, langCol)
    val base = docs.select(col(sourceCol), col(langCol),
        tokens(lower(text)).as("__t"), fingerprint(text).as("__fp"))
      .withColumn("__n", size(col("__t")))
    val docStats = base.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("__n").cast("long").as("total_tokens"),
        round(avg("__n"), 2).as("mean_tokens"),
        round(expr("percentile(__n, 0.5)"), 1).as("p50_tokens"),
        round(lit(1.0) -
          count_distinct(col("__fp")).cast("double") / count(lit(1)), 4)
          .as("dup_rate"))
    val m = size(col("__t"))
    val tri = base
      .filter(m >= 3)
      .select(col(sourceCol), col(langCol), col("__t"),
        explode(sequence(lit(1), m - 2)).as("__i"))
      .select(col(sourceCol), col(langCol), concat_ws(" ",
        element_at(col("__t"), col("__i")),
        element_at(col("__t"), col("__i") + 1),
        element_at(col("__t"), col("__i") + 2)).as("__g"))
      .groupBy(keys.map(col): _*)
      .agg(round(
        count_distinct(col("__g")).cast("double") / count(lit(1)), 4)
        .as("trigram_diversity"))
    docStats.join(tri, keys, "left")
  }

  /**
   * Per-document repetition metrics in the style of the Gopher/C4 data
   * quality rules (occurrence fractions over word n-grams):
   *
   *  - `top_bigram_frac`: occurrences of the single most frequent word
   *    2-gram / total 2-gram occurrences — high when one phrase loops;
   *  - `dup_trigram_frac`: fraction of 3-gram occurrences whose 3-gram
   *    appears more than once — high for templated/boilerplate text.
   *
   * Both n-grams ride ONE explode and one (id, n, gram) hash
   * aggregation; the per-document rollup computes both fractions with
   * conditional aggregates, so the whole operator is two shuffles
   * regardless of how many n-gram orders are measured. Documents too
   * short for an n-gram get fraction 0.0 (kept via left join — a
   * 2-token document is trivially unrepetitive, not unmeasurable).
   * Fractions round to 4 places for cross-engine verification.
   */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), tokens(lower(text)).as("__t"))
    val m = size(col("__t"))
    def gram(n: Int): Column = concat_ws(" ",
      (0 until n).map(j => element_at(col("__t"), col("__i") + j)): _*)
    def gramRows(n: Int) = toks
      .filter(m >= n)
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1), m - (n - 1))).as("__i"))
      .select(col(idCol), lit(n).as("__n"), gram(n).as("__g"))
    val counts = gramRows(2).unionByName(gramRows(3))
      .groupBy(col(idCol), col("__n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val stats = counts.groupBy(col(idCol)).agg(
      round(max(when(col("__n") === 2, col("__c"))).cast("double") /
        sum(when(col("__n") === 2, col("__c"))), 4).as("__top2"),
      round(coalesce(sum(when(col("__n") === 3 && col("__c") > 1,
          col("__c"))), lit(0L)).cast("double") /
        sum(when(col("__n") === 3, col("__c"))), 4).as("__dup3"))
    df.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__top2"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("__dup3"), lit(0.0)).as("dup_trigram_frac"))
  }

  /** Conservative email pattern: local part, @, dotted domain with a
    * 2+-letter TLD. POSIX-class-free so every regex engine (Spark's
    * java.util.regex, DuckDB's RE2) parses it identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*\\.[A-Za-z]{2,}"

  /** NANP-ish phone numbers: optional +1/1 country code, 3-3-4 digit
    * groups with ., -, space or () separators. Deliberately requires
    * separators or parens so it does not eat arbitrary 10-digit ids. */
  val PhoneRe =
    "(\\+?1[ .-])?(\\([0-9]{3}\\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}"

  /**
   * PII redaction pass: replace emails and phone numbers with fixed
   * placeholder tokens. A training corpus must not memorize contact
   * details; replacing (rather than deleting) keeps sentence structure
   * for the model.
   *
   * Pure codegen'd `regexp_replace` chain — narrow, no shuffle, scales
   * linearly, and the patterns are portable (the oracle replays them
   * verbatim). Order matters: emails first, so `bob@example.com` is not
   * half-eaten by a number pattern.
   */
  /**
   * Compression-ratio quality signal: `deflate_len / byte_len`, the
   * classic two-tailed gate — boilerplate/template spam compresses far
   * below natural prose, random noise barely compresses at all
   * ([[graft.functions.TextExpressions.DeflateLen]]; spec-verified
   * monotonicity, no SQL oracle by construction). Null or empty text
   * scores 0.0 (nothing to gate). Narrow codegen pass, no shuffle.
   */
  def compressionRatio(text: Column, level: Int = 6): Column =
    when(length(text) > 0,
      round(graft.functions.TextExpressions.deflateLen(text, level)
        .cast("double") / octet_length(text), 4))
      .otherwise(lit(0.0))

  /**
   * Regex HTML-to-text: drop script/style blocks and comments, strip
   * tags, decode the six entities that dominate web text, collapse
   * whitespace. Deliberately NOT a DOM parser — this is the
   * scale-appropriate first-pass extractor a crawl pipeline runs at
   * scan speed (a real boilerplate remover sits behind it for the docs
   * that survive); pure codegen `regexp_replace` chain, RE2-compatible
   * patterns (no backreferences), oracle-replayable verbatim.
   * `&amp;` decodes LAST so `&amp;lt;` cannot double-decode to `<`.
   */
  def stripHtml(html: Column): Column = {
    val blocks = Seq(
      "(?is)<script[^>]*>.*?</script>",
      "(?is)<style[^>]*>.*?</style>",
      "(?s)<!--.*?-->",
      "<[^>]+>")
    val noMarkup = blocks.foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noMarkup) { case (c, (k, v)) => regexp_replace(c, k, v) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** How many redactions [[redactPii]] would make — the audit metric a
    * pipeline reports per source before/after a policy change. */
  def piiCounts(text: Column): (Column, Column) = (
    size(regexp_extract_all(text, lit(EmailRe), lit(0))),
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))))

  /**
   * Fixed-window document chunking with overlap — the context-window
   * prep step between corpus cleaning and sequence packing: chunk i
   * covers tokens `[i·stride + 1, i·stride + maxTokens]` (1-based,
   * stride = maxTokens − overlap), the final chunk is allowed to run
   * short, and a document shorter than one window yields exactly one
   * chunk. Chunk count = ⌈(m − overlap) / stride⌉ (min 1), so every
   * token belongs to ≥1 chunk and consecutive chunks share `overlap`
   * tokens.
   *
   * One explode over a computed `sequence` — no shuffle, no UDF; at
   * 100 TB this is a narrow map stage whose output feeds the packer.
   */
  /**
   * Concat-and-cut sequence packing — the GPT-style packed-dataset
   * layout: within each `keyCol` shard, documents are laid end-to-end
   * in (key, id) order and the token stream is cut into fixed
   * `capacity`-token training sequences; a document can span a cut.
   * Returns one row per (key, seq_id) with `n_docs` contributing and
   * `n_tokens` (= capacity except for the shard's last sequence).
   *
   * Pure window arithmetic: an exclusive running token sum per shard
   * places every document at [start, start+n); the sequences it touches
   * are `floor(start/C) .. floor((start+n-1)/C)`, and its contribution
   * to each is the interval overlap — so packing needs ONE
   * per-shard window plus an explode, no iterative state. Shards pack
   * in parallel; within a shard the window sort is the price of a
   * deterministic layout (at 100 TB, key by source×day so no single
   * shard's stream is unbounded).
   */
  def packSequences(df: org.apache.spark.sql.DataFrame, keyCol: String,
      idCol: String, text: Column,
      capacity: Int): org.apache.spark.sql.DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val c = lit(capacity.toLong)
    df.select(col(keyCol), col(idCol), tokenCount(text).cast("long").as("__n"))
      .filter(col("__n") > 0)
      .withColumn("__start", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("seq_id",
        explode(sequence(floor(col("__start") / c),
          floor((col("__start") + col("__n") - 1) / c))))
      .withColumn("__ov",
        least(col("__start") + col("__n"), (col("seq_id") + 1) * c) -
          greatest(col("__start"), col("seq_id") * c))
      .groupBy(col(keyCol), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ov")).as("n_tokens"))
  }

  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, maxTokens: Int,
      overlap: Int): org.apache.spark.sql.DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got ($overlap, $maxTokens)")
    val stride = maxTokens - overlap
    val m = size(col("__t"))
    val nChunks = greatest(
      floor((m - lit(overlap) + lit(stride) - 1) / lit(stride)).cast("int"),
      lit(1))
    df.select(col(idCol), tokens(text).as("__t"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__t"), col("chunk_idx") * stride + 1, lit(maxTokens))
          .as("__c"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__c")).as("n_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /**
   * TF-IDF keyword extraction: the `k` highest-scoring terms per document,
   * smooth idf `ln((N+1)/(df+1))` (sklearn's formulation, public knowledge).
   *
   * Plan shape: one explode over the corpus scan → tf groupBy on
   * (doc, term) → df groupBy on term → one hash join back on term →
   * per-doc top-k window. All shuffles key on term or doc id (uniform at
   * corpus scale; no skew beyond natural Zipf on the term join, which AQE
   * splits). The corpus size N rides as a broadcast 1-row frame, not a
   * driver-side `count()` — the whole operator is one lazy lineage.
   *
   * Ranking compares the 4dp-ROUNDED score (ties → term asc) so the
   * ordering is reproducible across engines: sub-rounding ulp differences
   * in `ln` can never flip a rank.
   *
   * @return `(idCol, rank, term, tf, tfidf)` — k rows per document that
   *         has at least one token.
   */
  def tfIdfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, k: Int = 3): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    val terms = df.select(col(idCol), explode(tokens(lower(text))).as("term"))
    // persisted: tf feeds both the scored join and the df-count — without
    // the cache the corpus explode + (doc, term) aggregation executes
    // twice (verified in the q58 plan: two identical scan+agg subtrees)
    val tf = PersistTracker.trackPersist(
      terms.groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term")
      .agg(count(lit(1)).as("__df"))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, "term")
      .join(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") *
          log((col("__n") + lit(1.0)) / (col("__df") + lit(1.0))), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("tfidf"))
  }

  /**
   * Self-trained bigram language-model scoring with add-one (Laplace)
   * smoothing — the cheap LM-perplexity quality gate of a data pipeline,
   * trained on the corpus itself so no external model rides along:
   *
   *   score(d) = avg over d's bigrams of ln((c(w1,w2)+1) / (c1(w1)+V))
   *
   * where `c(w1,w2)` is the corpus bigram count, `c1(w1)` the count of
   * bigrams starting with w1, and `V` the corpus vocabulary size.
   * Repetitive/templated text scores high (its bigrams are frequent);
   * token soup scores low.
   *
   * Plan shape: bigram explode → corpus counts (one groupBy, map-side
   * combined) → join doc bigrams back on (w1,w2) — the one big shuffle,
   * keyed on the gram pair, Zipf-skew handled by AQE — → per-doc avg.
   * V and the unigram table ride the same lineage; nothing touches the
   * driver.
   *
   * @return `(idCol, n_bigrams, avg_logp)` for every document with ≥2
   *         tokens.
   */
  def bigramLmScores(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame =
    // self-scored: every scored bigram exists in the counts, so the
    // held-out form's unseen-bigram floor never fires and the numbers
    // are identical to the historical inner-join formulation (q59)
    bigramLmScoresAgainst(df, df, idCol, text)

  /**
   * The held-out form of [[bigramLmScores]]: train the add-one-smoothed
   * bigram LM on `train`, score `scoreDf` — the shape a quality gate
   * actually runs (scoring docs with a model fit on themselves
   * systematically flatters them; train on the train split, gate the
   * incoming batch). Bigrams and head words UNSEEN in training take the
   * smoothing floor (`1/(0+V)` resp. `(c2+1)/(c1+V)` with zero counts)
   * instead of silently dropping out of the average.
   *
   * Scale shape: counts and vocab derive from the train side only (the
   * persisted bigram count table is the model — reuse it across score
   * batches); scoring is two left joins keyed on words plus one
   * broadcast vocab scalar.
   */
  def bigramLmScoresAgainst(train: org.apache.spark.sql.DataFrame,
      scoreDf: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    def toksOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col(idCol), tokens(lower(text)).as("__t"))
    def bigramsOf(toks: org.apache.spark.sql.DataFrame) = {
      val m = size(col("__t"))
      toks.filter(m >= 2)
        .select(col(idCol), col("__t"),
          explode(sequence(lit(1), m - 1)).as("__i"))
        .select(col(idCol),
          element_at(col("__t"), col("__i")).as("w1"),
          element_at(col("__t"), col("__i") + 1).as("w2"))
    }
    val trainToks = toksOf(train)
    // persisted: c2 feeds the per-bigram join AND derives c1 — caching
    // the (small) count table avoids a second corpus-scale explode+agg;
    // the bigram frames stay uncached (narrow recompute, corpus-sized)
    val c2 = PersistTracker.trackPersist(bigramsOf(trainToks)
      .groupBy("w1", "w2").agg(count(lit(1)).as("__c2")))
    val c1 = c2.groupBy("w1").agg(sum(col("__c2")).as("__c1"))
    val vocab = trainToks.select(explode(col("__t")).as("__w"))
      .agg(count_distinct(col("__w")).as("__v"))
    val scored = bigramsOf(toksOf(scoreDf))
      .join(c2, Seq("w1", "w2"), "left_outer")
      .join(c1, Seq("w1"), "left_outer")
      .join(broadcast(vocab))
      .withColumn("__lp",
        log((coalesce(col("__c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("__c1"), lit(0L)) + col("__v"))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__lp")), 4).as("avg_logp"))
  }

  /**
   * Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the
   * smoothing KenLM ships and CCNet-style perplexity filters actually
   * run — public knowledge), self-trained on the corpus like
   * [[bigramLmScores]]:
   *
   *   P(w2|w1) = (c(w1,w2) − D)/c1(w1)
   *            + (D·N1+(w1,·)/c1(w1)) · (N1+(·,w2)/T)
   *
   * with discount D, N1+(w1,·)/N1+(·,w2) the distinct continuation/
   * history counts and T the number of distinct bigram types. The
   * continuation probability is KN's whole point: a word that appears
   * often but only ever after ONE history ("francisco") gets a LOW
   * unseen-context probability where add-one smoothing would flatter
   * it. In-corpus scoring keeps every term strictly positive (c ≥ 1 >
   * D), so no floor cases arise; Σ_w2 P(w2|w1) = 1 exactly — the spec
   * pins that.
   *
   * Plan shape: identical to [[bigramLmScores]] — one bigram-count
   * groupBy (persisted; c1 and N1+(w1,·) fall out of ONE re-aggregation
   * of it, N1+(·,w2) of another), T broadcast, one join of doc bigrams
   * back on the pair key, per-doc avg. Nothing touches the driver.
   *
   * @return `(idCol, n_bigrams, avg_logp)` for docs with ≥2 tokens
   */
  def knBigramLmScores(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, discount: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    val toks = df.select(col(idCol), tokens(lower(text)).as("__t"))
    val m = size(col("__t"))
    val bg = toks.filter(m >= 2)
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1), m - 1)).as("__i"))
      .select(col(idCol),
        element_at(col("__t"), col("__i")).as("w1"),
        element_at(col("__t"), col("__i") + 1).as("w2"))
    val c2 = PersistTracker.trackPersist(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("__c2")))
    val hd = c2.groupBy("w1")
      .agg(sum(col("__c2")).as("__c1"), count(lit(1)).as("__nf"))
    val bwd = c2.groupBy("w2").agg(count(lit(1)).as("__nb"))
    val tt = c2.agg(count(lit(1)).as("__tt"))
    val d = lit(discount)
    val scored = bg
      .join(c2, Seq("w1", "w2"))
      .join(hd, Seq("w1"))
      .join(bwd, Seq("w2"))
      .join(broadcast(tt))
      .withColumn("__lp",
        log((col("__c2") - d) / col("__c1")
          + d * col("__nf") / col("__c1")
            * (col("__nb") / col("__tt"))))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__lp")), 4).as("avg_logp"))
  }

  /**
   * Inverse-Cloze-Task pair generation (Lee et al. 2019, ICT — public
   * knowledge): for every document long enough, split the token stream
   * into a pseudo-QUERY (the middle third) and its CONTEXT (the
   * remainder) — the self-supervised positive pairs that bootstrap
   * dense-retriever training before any labeled data exists. Pairs with
   * [[graft.operators.Similarity.hardNegatives]] for the negative side
   * of the objective.
   *
   * Deterministic span arithmetic (no RNG, unlike the paper's random
   * sentence draw — reproducibility over variety, the engine's
   * standing trade): query = tokens `⌊n/3⌋+1 .. ⌊2n/3⌋`, context =
   * head ++ tail. One narrow codegen projection; docs under
   * `minTokens` drop.
   *
   * @return `(idCol, n_tokens, query_text, context_text)`
   */
  def ictPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, minTokens: Int = 9): org.apache.spark.sql.DataFrame = {
    require(minTokens >= 3, s"minTokens >= 3, got $minTokens")
    val t = tokens(lower(text))
    val n = size(t)
    val qstart = floor(n / 3).cast("int") + 1
    val qend = floor(n * 2 / 3).cast("int")
    docs.select(col(idCol), t.as("__t"), n.as("n_tokens"),
        qstart.as("__a"), qend.as("__b"))
      .filter(col("n_tokens") >= minTokens)
      .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("__t"), col("__a"),
          col("__b") - col("__a") + 1)).as("query_text"),
        concat_ws(" ", concat(
          slice(col("__t"), lit(1), col("__a") - 1),
          slice(col("__t"), col("__b") + 1, col("n_tokens") - col("__b"))))
          .as("context_text"))
  }

  /**
   * CCNet-style language-model bucketing (Wenzek et al. 2020 — public
   * knowledge): score every document with the corpus bigram LM
   * ([[bigramLmScoresAgainst]]), compute PER-LANGUAGE score cutoffs at
   * `loPct`/`hiPct` (CCNet's perplexity terciles), and label each doc
   * `head` (most LM-probable third), `middle`, or `tail`. Downstream
   * keeps head+middle (or mixes them at different rates) — the classic
   * crawl-filtering move that a single global threshold gets wrong
   * because perplexity distributions differ per language.
   *
   * Determinism devices: LM scores rounded 4dp ([[bigramLmScores]]'s
   * contract), cutoffs are EXACT interpolated percentiles rounded 4dp
   * (the q78 `percentile` ≡ `quantile_cont` parity), bucket edges are
   * `>=` on the rounded values — every boundary is oracle-replayable.
   * Documents with fewer than 2 tokens have no bigrams and take no part
   * (CCNet likewise drops them before perplexity filtering).
   *
   * Scale shape: scoring is [[bigramLmScoresAgainst]]'s (the count
   * table is the reusable model); the cutoff aggregate is |languages|
   * rows broadcast back; the labeling pass is narrow.
   *
   * @return `(idCol, lang, n_bigrams, avg_logp, bucket)`
   */
  def perplexityBuckets(train: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame, idCol: String, text: Column,
      langCol: Column, loPct: Double = 1.0 / 3,
      hiPct: Double = 2.0 / 3): org.apache.spark.sql.DataFrame = {
    require(loPct > 0 && hiPct < 1 && loPct <= hiPct,
      s"need 0 < loPct <= hiPct < 1; got ($loPct, $hiPct)")
    val scored = docs.select(col(idCol), langCol.as("lang"))
      .join(bigramLmScoresAgainst(train, docs, idCol, text), Seq(idCol))
    val cuts = scored.groupBy(col("lang").as("__lk"))
      .agg(round(percentile(col("avg_logp"), lit(loPct)), 4).as("__lo"),
        round(percentile(col("avg_logp"), lit(hiPct)), 4).as("__hi"))
    scored.join(broadcast(cuts), col("lang") === col("__lk"))
      .select(col(idCol), col("lang"), col("n_bigrams"), col("avg_logp"),
        when(col("avg_logp") >= col("__hi"), lit("head"))
          .when(col("avg_logp") >= col("__lo"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /**
   * EXACT frequent word n-grams (count ≥ `minCount`) with a Count-Min
   * prefilter — heavy-hitter vocabulary extraction, the phrase-mining /
   * boilerplate-detection primitive of a corpus pipeline.
   *
   * Two passes, both narrow until the final aggregation:
   *  1. build a CM sketch over all n-gram occurrences
   *     (`stat.countMinSketch` — a shuffle-free treeAggregate; counter
   *     merges are commutative sums, so the sketch is deterministic
   *     under any partitioning);
   *  2. re-scan, keep occurrences whose sketch estimate reaches
   *     `minCount` ([[graft.functions.CmsExpressions.CmsAtLeast]], a
   *     codegen predicate), and count exactly only those.
   *
   * A CM sketch never under-estimates, so pass 2's prefilter keeps every
   * truly-frequent gram — the result is provably the exact answer, the
   * sketch only decides how much of the long tail pays for the exchange.
   * At corpus scale that is the difference between shuffling every
   * distinct n-gram (billions — mostly singletons at Zipf) and shuffling
   * only candidate heavy hitters. The final HAVING re-check discards the
   * sketch's false positives.
   *
   * @return `(gram, n_occurrences)` for every word n-gram occurring at
   *         least `minCount` times.
   */
  def frequentNgrams(df: org.apache.spark.sql.DataFrame, text: Column,
      n: Int, minCount: Long, eps: Double = 1e-3,
      confidence: Double = 0.99): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && minCount >= 1, s"need n>=1, minCount>=1; got ($n, $minCount)")
    val toks = df.select(tokens(lower(text)).as("__t"))
    val m = size(col("__t"))
    val gram = concat_ws(" ",
      (0 until n).map(j => element_at(col("__t"), col("__i") + j)): _*)
    // persisted: the exploded grams feed the CMS build (an action) AND
    // the exact rescan — uncached, the corpus tokenizes twice
    val grams = graft.operators.PersistTracker.trackPersist(toks.filter(m >= n)
      .select(col("__t"), explode(sequence(lit(1), m - (n - 1))).as("__i"))
      .select(gram.as("gram")))
    val cms = grams.stat.countMinSketch("gram", eps, confidence, 42)
    grams
      .filter(graft.functions.CmsExpressions.atLeast(col("gram"),
        graft.functions.CmsExpressions.serialize(cms), minCount))
      .groupBy("gram").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
  }

  /**
   * Greedy next-fit-decreasing sequence packing: within each shard
   * (`keyCol`), documents are laid out LONGEST-FIRST (ties → id asc) and
   * each either joins the currently-open bin or — when it would overflow
   * `capacity` — opens a new one. Unlike [[packSequences]]' concat-and-cut,
   * no document is ever split across bins; a document longer than
   * `capacity` gets an overflowing bin of its own.
   *
   * The walk is inherently sequential PER SHARD, so this is the one
   * honest `mapPartitions` in the text stack: one shuffle puts a shard's
   * docs in one partition, an in-partition sort fixes the walk order, and
   * the per-row state machine is O(1) memory. Bin ids restart at 0 per
   * shard and depend only on (key, nt, id) — fully deterministic under
   * any partitioning (spec-asserted), and shards pack in parallel, so the
   * operator scales with the number of shards, not corpus size.
   *
   * @return `(keyCol, idCol, n_tokens, bin)` — one row per document with
   *         ≥1 token.
   */
  def packGreedy(df: org.apache.spark.sql.DataFrame, keyCol: String,
      idCol: String, text: Column,
      capacity: Long): org.apache.spark.sql.DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df
      .select(col(keyCol).cast("string").as("__k"),
        col(idCol).cast("long").as("__id"),
        tokenCount(text).cast("long").as("__nt"))
      .filter(col("__nt") > 0)
      .repartition(col("__k"))
      .sortWithinPartitions(col("__k"), col("__nt").desc, col("__id"))
      .as[(String, Long, Long)]
    rows.mapPartitions { it =>
      var curKey: String = null
      var bin = 0L
      var fill = 0L
      it.map { case (k, id, nt) =>
        if (k != curKey) { curKey = k; bin = 0L; fill = nt }
        else if (fill + nt <= capacity) fill += nt
        else { bin += 1; fill = nt }
        (k, id, nt, bin)
      }
    }.toDF(keyCol, idCol, "n_tokens", "bin")
  }

  /**
   * Per-document duplicated-span exposure: how much of each document is
   * covered by word `n`-grams that ALSO occur in at least `minDocs − 1`
   * other documents. The substring-level dedup signal (the "train on a
   * span the model will memorize" risk — document-level dedup misses
   * boilerplate, licenses, templates shared across otherwise-distinct
   * docs); gate or strip docs whose `dup_ratio` is high.
   *
   * Gram identity is the battery's portable md5 device over lowercase
   * whitespace tokens. One explode + one hash agg for per-gram distinct
   * doc counts + one join back — the gram frame is persisted (it feeds
   * both) and only gram hashes shuffle, never text.
   *
   * @return `(idCol, n_grams, n_dup_grams, dup_ratio)` — one row per doc
   *         with ≥1 gram; ratio rounded 4dp
   */
  def duplicatedSpanStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, n: Int = 8, minDocs: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && minDocs >= 2, s"need n>=1, minDocs>=2; got ($n, $minDocs)")
    val toks = tokens(lower(text))
    val grams = PersistTracker.trackPersist(df
      .select(col(idCol).as("__id"), toks.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("__id"), col("__t"),
        explode(sequence(lit(1), size(col("__t")) - (n - 1))).as("__i"))
      .select(col("__id"), md5(concat_ws(" ",
        (0 until n).map(j => element_at(col("__t"), col("__i") + j)): _*))
        .as("__g")))
    val shared = grams.select("__id", "__g").distinct()
      .groupBy("__g").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("__g")
    grams.join(shared, Seq("__g"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("__dup"))
      .join(grams.groupBy("__id").agg(count(lit(1)).as("n_grams")),
        Seq("__id"), "right_outer")
      .select(col("__id").as(idCol), col("n_grams"),
        coalesce(col("__dup"), lit(0L)).as("n_dup_grams"),
        round(coalesce(col("__dup"), lit(0L)) / col("n_grams"), 4)
          .as("dup_ratio"))
  }

  /**
   * The remediation counterpart of [[duplicatedSpanStats]]: REWRITE each
   * document, dropping every token covered by a word `n`-gram that also
   * occurs in ≥ `minDocs − 1` other documents. This is substring-level
   * dedup as an action — boilerplate, licenses, and templated spans are
   * removed in place while each document's unique prose survives, the
   * fix for corpora where whole-document dedup would either keep the
   * duplication or throw away unique content around it.
   *
   * Gram identity is case-insensitive (matching [[duplicatedSpanStats]]);
   * the rewritten text keeps the original token case and joins survivors
   * with single spaces (whitespace is normalized — the same
   * canonicalization every fingerprint in this engine applies). A doc
   * whose tokens are all covered comes back with `clean_text = ""`
   * rather than disappearing.
   *
   * Same plan skeleton as the stats pass — persisted gram frame feeding
   * the shared-gram aggregate and the coverage explode — plus one
   * per-doc sorted reassembly (`array_sort` over (position, token)
   * structs inside a hash agg, no window): gram hashes and token
   * positions shuffle, never full text until the final per-doc row.
   *
   * @return `(idCol, n_tokens, n_kept, clean_text)`
   */
  def stripDuplicatedSpans(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, n: Int = 8, minDocs: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && minDocs >= 2, s"need n>=1, minDocs>=2; got ($n, $minDocs)")
    // persisted: the tokenized corpus feeds the gram pass, the token
    // explode, AND the final per-doc count — uncached it tokenizes 3×
    val base = PersistTracker.trackPersist(
      df.select(col(idCol).as("__id"), tokens(text).as("__t")))
    val grams = PersistTracker.trackPersist(base
      .filter(size(col("__t")) >= n)
      .select(col("__id"), col("__t"),
        explode(sequence(lit(1), size(col("__t")) - (n - 1))).as("__i"))
      .select(col("__id"), col("__i"), md5(lower(concat_ws(" ",
        (0 until n).map(j => element_at(col("__t"), col("__i") + j)): _*)))
        .as("__g")))
    val shared = grams.select("__id", "__g").distinct()
      .groupBy("__g").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("__g")
    val covered = grams.join(shared, Seq("__g"), "left_semi")
      .select(col("__id"),
        explode(sequence(col("__i"), col("__i") + (n - 1))).as("__j"))
      .distinct()
    rewriteWithoutCovered(base, covered, idCol)
  }

  /** Shared rewrite tail of [[stripDuplicatedSpans]] and
    * [[stripContaminatedSpans]]: drop the `(__id, __j)` covered token
    * positions from the tokenized `base` and reassemble each doc
    * (array_sort over (position, token) structs inside a hash agg — no
    * window). Fully-covered docs come back with `clean_text = ""`. */
  private def rewriteWithoutCovered(base: org.apache.spark.sql.DataFrame,
      covered: org.apache.spark.sql.DataFrame,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val toks = base.select(col("__id"), size(col("__t")).as("__nt"),
      posexplode(col("__t")).as(Seq("__p", "__tok")))
      .select(col("__id"), col("__nt"), (col("__p") + 1).as("__j"), col("__tok"))
    val kept = toks.join(covered, Seq("__id", "__j"), "left_anti")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_kept"),
        // native ascending-position join (r21): ≡ the
        // concat_ws/transform/array_sort chain (positions unique per
        // doc), minus the interpreted per-element lambda
        graft.functions.GramExpressions.sortedKeyJoin(
          collect_list(struct(col("__j").cast("long"), col("__tok"))))
          .as("__clean"))
    base.select(col("__id"), size(col("__t")).cast("long").as("n_tokens"))
      .join(kept, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /**
   * Span-level benchmark decontamination — the remediation counterpart
   * of [[graft.operators.Dedup.contaminationFlags]], the way
   * [[stripDuplicatedSpans]] remediates [[duplicatedSpanStats]]:
   * instead of DROPPING every flagged document (which throws away the
   * unique prose around a quoted eval item), rewrite it, removing only
   * the tokens covered by a word `n`-gram that also appears in the
   * benchmark. Gram identity is case-insensitive; the rewrite keeps
   * original token case; a fully-covered doc comes back with
   * `clean_text = ""` rather than disappearing.
   *
   * Scale shape: the benchmark's distinct gram hashes BROADCAST (small
   * by definition — the same contract as contaminationFlags); the
   * corpus pays one gram explode + one token explode; gram hashes and
   * token positions shuffle, never text until the final per-doc row.
   *
   * @return `(idCol, n_tokens, n_kept, clean_text)`
   */
  def stripContaminatedSpans(corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, n: Int = 8): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"need n>=1; got $n")
    def gramsOf(df: org.apache.spark.sql.DataFrame) = df
      .filter(size(col("__t")) >= n)
      .select(col("__id"), col("__t"),
        explode(sequence(lit(1), size(col("__t")) - (n - 1))).as("__i"))
      .select(col("__id"), col("__i"), md5(lower(concat_ws(" ",
        (0 until n).map(j => element_at(col("__t"), col("__i") + j)): _*)))
        .as("__g"))
    // persisted: feeds the gram pass, the token explode, and the final
    // per-doc count
    val base = PersistTracker.trackPersist(
      corpus.select(col(idCol).as("__id"), tokens(text).as("__t")))
    val benchGrams = gramsOf(
      benchmark.select(col(idCol).as("__id"), tokens(text).as("__t")))
      .select("__g").distinct()
    val covered = gramsOf(base)
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .select(col("__id"),
        explode(sequence(col("__i"), col("__i") + (n - 1))).as("__j"))
      .distinct()
    rewriteWithoutCovered(base, covered, idCol)
  }

  /**
   * Content-defined chunking (the rolling-hash boundary scheme of the
   * CDC dedup literature — Muthitacharoen et al. LBFS, public
   * knowledge), on word tokens: a chunk boundary falls AFTER token `j`
   * whenever the hash of the trailing `w`-token window at `j` lands in
   * bucket 0 of `avgTokens` — so chunk sizes average `avgTokens` and,
   * unlike fixed-width chunking ([[chunkTokens]]), boundaries re-align
   * after insertions/edits: two near-identical documents share all
   * chunks outside the edited region, which is what makes chunk-level
   * dedup (fingerprint → [[graft.operators.Dedup.exactDedup]]) land.
   *
   * The hash is the battery's portable md5-bucket device; chunk
   * fingerprints are md5 of the space-joined original-case tokens.
   *
   * One explode + per-doc window sums (documents partition the window —
   * no global sort) + one hash aggregation; text leaves the executor
   * only as per-chunk fingerprints.
   *
   * @return `(idCol, chunk_idx, n_tokens, chunk_fp)` — chunk_idx 0-based
   *         in token order
   */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
      text: Column, w: Int = 4, avgTokens: Int = 16): org.apache.spark.sql.DataFrame = {
    require(w >= 1 && avgTokens >= 2,
      s"need w>=1, avgTokens>=2; got ($w, $avgTokens)")
    val base = df.select(col(idCol).as("__id"), tokens(text).as("__t"))
      .filter(size(col("__t")) >= 1)
    val gram = concat_ws(" ",
      (w - 1 to 0 by -1).map(j => element_at(col("__t"), col("__j") - j)): _*)
    val bucket = pmod(
      graft.functions.SigExpressions.md5Prefix60(gram), lit(avgTokens))
    // bucket only evaluates under the j >= w guard (CASE branches are
    // lazy): at j < w the gram would index element_at at <= 0, an ANSI
    // error at 0 and silent from-the-end semantics below it
    val guarded = when(col("__j") >= w, bucket)
    val toks = base
      .select(col("__id"), col("__t"),
        explode(sequence(lit(1), size(col("__t")))).as("__j"))
      .select(col("__id"), col("__j"),
        element_at(col("__t"), col("__j")).as("__tok"),
        when(guarded === 0, 1).otherwise(0).as("__b"))
    val win = Window.partitionBy("__id").orderBy("__j")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("__chunk", coalesce(sum(col("__b")).over(win), lit(0L)))
      .groupBy(col("__id"), col("__chunk"))
      .agg(count(lit(1)).as("n_tokens"),
        // native ascending-position join (r21) — the rewriteWithoutCovered
        // rationale; md5 stays the native built-in on top
        md5(graft.functions.GramExpressions.sortedKeyJoin(
          collect_list(struct(col("__j").cast("long"), col("__tok")))))
          .as("chunk_fp"))
      .select(col("__id").as(idCol), col("__chunk").as("chunk_idx"),
        col("n_tokens"), col("chunk_fp"))
  }

  /**
   * Cross-snapshot chunk reuse — [[cdcChunks]] as a DIFF: for each doc
   * of `newDocs`, how many of its CDC chunks already exist (by chunk
   * fingerprint) anywhere in `oldDocs`. The crawl-drift /
   * dedup-bandwidth metric: because CDC boundaries resync after edits,
   * a re-crawled page whose changes are local shares every chunk
   * outside the edited region, so `reuse_ratio` measures how much of a
   * new snapshot is redundant at chunk granularity (what incremental
   * storage would actually save — doc-level dedup reports 0% for any
   * edited page).
   *
   * Only chunk FINGERPRINTS join, never text; the old side folds to
   * distinct fingerprints — for a standing snapshot index, write that
   * frame bucketed on `chunk_fp` ([[graft.sources.BucketedTables]]) so
   * each new crawl shuffles only its own chunks.
   *
   * @return `(idCol, n_chunks, n_reused, reuse_ratio)` — one row per
   *         `newDocs` doc with ≥1 token; ratio rounded 4dp
   */
  def cdcChunkReuse(newDocs: org.apache.spark.sql.DataFrame,
      oldDocs: org.apache.spark.sql.DataFrame, idCol: String, text: Column,
      w: Int = 4, avgTokens: Int = 16): org.apache.spark.sql.DataFrame = {
    // persisted: feeds the reuse semi-join AND the per-doc totals
    val newChunks = PersistTracker.trackPersist(
      cdcChunks(newDocs, idCol, text, w, avgTokens))
    val oldFps = cdcChunks(oldDocs, idCol, text, w, avgTokens)
      .select("chunk_fp").distinct()
    val reused = newChunks.join(oldFps, Seq("chunk_fp"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_reused"))
    newChunks.groupBy(idCol).agg(count(lit(1)).as("n_chunks"))
      .join(reused, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_reused"), lit(0L)).as("n_reused"),
        round(coalesce(col("n_reused"), lit(0L)) / col("n_chunks"), 4)
          .as("reuse_ratio"))
  }
}
