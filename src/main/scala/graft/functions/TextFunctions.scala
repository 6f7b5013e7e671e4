package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for training-data pipelines: token counting,
  * quality scoring, language ID, shingling, and document fingerprinting.
  * All are composed from codegen'd built-ins (regexp, higher-order array
  * functions, xxhash64) — no UDFs, fully distributed, deterministic.
  */
object TextFunctions {

  /** Deterministic train/val/test assignment by content hash — the
    * reproducible-split primitive a training-data pipeline needs: the same
    * (key) lands in the same split on any engine, any partitioning, any
    * run. Buckets compare the first two lowercase-hex chars of md5(key)
    * (256 buckets): [0, trainHi) -> train, [trainHi, valHi) -> val, rest
    * test. Engine-portable (DuckDB md5 produces the identical string), so
    * the op is value-oracled end-to-end. */
  def deterministicSplit(key: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct >= 0 && valPct >= 0, "split percentages must be non-negative")
    require(trainPct + valPct < 100, "need a non-empty test split")
    def hex2(n: Int): String = f"${n * 256 / 100}%02x"
    val bucket = substring(md5(key.cast("string")), 1, 2)
    when(bucket < lit(hex2(trainPct)), lit("train"))
      .when(bucket < lit(hex2(trainPct + valPct)), lit("val"))
      .otherwise(lit("test"))
  }

  /** Every match-count in this object routes through the compact
    * counting-loop expression ([[RegexpCountLoop]]) rather than the
    * builtin `regexp_count`: identical counts (both are Matcher.find()
    * successions), but ~60 instead of ~350 generated bytecodes per call
    * site and zero per-match allocation — the builtin materializes every
    * match into an ArrayList just to size it, and the inlined bodies
    * pushed x63's fused scan projection into the JIT-cliff warn band. */
  private def reCount(text: Column, pattern: Column): Column =
    RegexpCountLoop(text, pattern)

  /** Token count: number of \S+ runs (whitespace pre-tokenization). */
  def tokenCount(text: Column): Column = reCount(text, lit("\\S+"))

  /** BPE-ish token count: GPT-2-style pre-tokenizer pattern — contractions,
    * letter runs, digit runs, punctuation runs (each optionally preceded by
    * a space). A cheap, deterministic proxy for LLM token budgets; the
    * REAL trained-vocab path is [[Bpe.bpeTokenCountTrained]] (same
    * pre-tokenizer, then trained merge rules — x65 oracles the full token
    * stream). */
  def bpeTokenCount(text: Column): Column =
    reCount(text,
      lit("'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"))

  /** Engine-pinned CJK code-point class: Hiragana + Katakana
    * U+3040–30FF, CJK Extension A U+3400–4DBF, CJK Unified U+4E00–9FFF,
    * Hangul syllables U+AC00–D7AF, CJK Compatibility Ideographs
    * U+F900–FAFF. EXPLICIT BMP ranges rather than \p{script=...} so the
    * set cannot drift between engines or Unicode versions (Java spells
    * scripts \p{IsHan}, RE2 \p{Han}, and both track their own Unicode
    * tables — the x68 engine-pinning discipline). Supplementary-plane
    * ideographs (Extension B+) are out of scope: surrogate-pair classes
    * are not portable, and those code points then count inside regular
    * non-space runs. */
  private val cjkRanges =
    "\\u3040-\\u30FF\\u3400-\\u4DBF\\u4E00-\\u9FFF\\uAC00-\\uD7AF\\uF900-\\uFAFF"

  /** Script-aware token count for multilingual budget accounting: each
    * CJK code point ([[cjkRanges]]) counts as ONE token, and every
    * maximal run of remaining non-space characters counts as one token —
    * [[tokenCount]]'s semantics on space-delimited text. Unsegmented
    * Chinese/Japanese has no spaces, so [[tokenCount]] sees a whole
    * document as ~1 token and token budgets ([[graft.sampling.Sampling
    * .budgetSample]]), packing bins, and word-count windows all
    * degenerate; this counter approximates the linguistic convention
    * (one CJK character ≈ one token) with two codegen'd regexp_counts.
    * A mixed run "abc漢def" counts abc + 漢 + def = 3. On CJK-free text
    * equals [[tokenCount]] exactly. U+3000 IDEOGRAPHIC SPACE — the
    * standard CJK delimiter, which neither Java's nor RE2's ASCII-only
    * `\s` covers — is treated as whitespace, not as a token (a
    * "私　は　学生"-style document must count its words, not its
    * separators). DuckDB replays the same explicit ranges spelled
    * \x{hhhh} (x78 oracles the fixture end-to-end). */
  def tokenCountCjk(text: Column): Column =
    reCount(text, lit(s"[^\\s\\u3000$cjkRanges]+")) +
      reCount(text, lit(s"[$cjkRanges]"))

  /** Whitespace tokens as an array (empty tokens removed) — one
    * codegen'd byte scan, no regex engine and no interpreted lambda on
    * the per-document path. Identical arrays to the retired
    * `filter(split(text, "\\s+"), length > 0)` form (and to
    * `regexp_extract_all(text, "\\S+")`, the oracle side's spelling) —
    * see [[WhitespaceTokens]] for the byte-exactness argument and the
    * measured regex-engine comparison; equality is spec-pinned in
    * DedupAnnSpec including empty/whitespace-only/leading-space/unicode
    * inputs. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      WhitespaceTokens(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Sliding-window token chunking — the context-window preparation
    * step in front of sequence packing ([[graft.sampling.Sampling
    * .packSequences]]): each document becomes ceil((n − C)/S) + 1
    * overlapping chunks (1 when n ≤ C) of up to `chunkSize` tokens,
    * chunk i starting at token i·stride — the standard overflow-with-
    * stride convention, so every token is covered and consecutive
    * chunks share (C − S) tokens of context. Zero-token documents emit
    * no chunks. `stride` = `chunkSize` degenerates to disjoint
    * splitting (the token-run line chunker's device,
    * [[graft.dedup.Dedup.Chunker.Tokens]]).
    *
    * Scale shape: per-row codegen'd array arithmetic (tokens → one
    * `transform` over a chunk-count `sequence` → posexplode) — no
    * shuffle, no window, no UDF; chunk counts are exact integer
    * arithmetic so the layout replays bit-identically in SQL.
    *
    * @return (input id column, chunk_no 0.., chunk text, n_tokens) */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkSize: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive: $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in 1..chunkSize: $stride")
    val tk = tokens(col(textCol))
    val n = size(col("__tk"))
    // ceil((n - C)/S) + 1 in exact integer arithmetic: the `/` is a
    // double divide but the numerator is nonnegative and far below 2^52,
    // so the long cast is exact floor division
    val nChunks = when(n <= chunkSize, lit(1L)).otherwise(
      ((n - chunkSize + stride - 1) / lit(stride)).cast("long") + 1L)
    val chunks = transform(
      sequence(lit(0L), col("__nc") - 1L),
      i => slice(col("__tk"), (i * stride + 1L).cast("int"), lit(chunkSize)))
    df.select(col(idCol), tk.as("__tk"))
      .filter(size(col("__tk")) > 0)
      .withColumn("__nc", nChunks)
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_no", "__c")))
      .select(col(idCol), col("chunk_no"),
        array_join(col("__c"), " ").as("chunk"),
        size(col("__c")).as("n_tokens"))
  }

  /** Line-level quality TRIMMING — the C4/RefinedWeb salvage stage:
    * instead of dropping a document whose quality signals fail, drop its
    * failing LINES and keep the rest (C4 keeps only lines ending in
    * terminal punctuation with a minimum word count; RefinedWeb trims
    * line-wise before document-wise filters). A doc whose boilerplate
    * navigation lines are removed often passes the document gates it
    * would otherwise fail — trimming recovers training tokens that
    * doc-level filtering throws away.
    *
    * Per line, keep iff: word count ≥ `minWords`, AND (when
    * `requireTerminal`) the line ends in terminal punctuation
    * (.!?"'), AND the digit fraction of its non-space characters is
    * ≤ `maxDigitFrac` (empty lines never pass). The digit test is a
    * multiply-compare, not a division — exact in both engines.
    *
    * Fully row-local (split → HOF filter → array_join): no explode, no
    * shuffle, no state — legal on a streaming frame as-is, the quality-
    * signal discipline (DocStreamSpec round-9 pattern).
    *
    * @return (id, n_lines, n_kept, text_kept) — text_kept is the
    *         surviving lines rejoined with newlines, '' when none */
  def lineQualityTrim(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 3, maxDigitFrac: Double = 0.5,
      requireTerminal: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(minWords >= 1, s"minWords must be positive: $minWords")
    require(maxDigitFrac >= 0.0 && maxDigitFrac <= 1.0,
      s"maxDigitFrac must be in [0,1]: $maxDigitFrac")
    def keepPred(l: Column): Column = {
      val words = reCount(l, lit("\\S+")) >= minWords
      val term = if (requireTerminal) l.rlike("[.!?\"']\\s*$") else lit(true)
      val digits = length(regexp_replace(l, "[^0-9]", ""))
      val nonspace = length(regexp_replace(l, "\\s+", ""))
      words && term && nonspace > 0 &&
        digits.cast("double") <= lit(maxDigitFrac) * nonspace
    }
    // null text follows the empty-string contract (1 line, 0 kept, ''):
    // split(null) would otherwise emit null counts that downstream
    // n_kept > 0 filters drop WITHOUT the documented accounting —
    // null and empty docs must take one path (r12 ADVICE)
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    val kept = filter(lines, keepPred _)
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("text_kept"))
  }

  /** How many whitespace tokens of `text` equal a word in `words`, WITH
    * multiplicity — `size(filter(tokens(text), isin(words)))` semantics,
    * but as one codegen'd regexp_count instead of an interpreted
    * higher-order filter (HOF lambdas evaluate expression trees per
    * element; at 5 languages × 8 markers × ~100 tokens that measured
    * ~200 µs/doc — the whole-corpus langId bottleneck). Whitespace runs
    * are doubled before matching so ADJACENT marker tokens each keep a
    * delimiter of their own (a single shared space would be consumed by
    * the first match and hide the second); the word alternation is
    * Pattern.quote'd, so matching is exact codepoint equality — identical
    * results to the HOF form on any input (TextFunctionsSpec pins the
    * equivalence). */
  private[graft] def tokenSetCount(text: Column, words: Seq[String]): Column =
    countOnPadded(paddedTokens(text), words)

  /** `text` with every whitespace run doubled and padding added — the
    * match surface for [[countOnPadded]]. Factored out so multi-set
    * callers ([[langId]]) build it ONCE per row. */
  private def paddedTokens(text: Column): Column =
    concat(lit("  "), regexp_replace(text, "\\s+", "  "), lit("  "))

  private def countOnPadded(padded: Column, words: Seq[String]): Column =
    if (words.isEmpty) lit(0) // "(?:)" would match every separator run
    else {
      val pat = words.map(java.util.regex.Pattern.quote)
        .mkString(" (?:", "|", ") ")
      reCount(padded, lit(pat))
    }

  /** Punctuation character count (explicit class — portable regex). One
    * counting loop per row: every match is a single character, so the
    * count equals the length-minus-stripped form the oracle SQL replays,
    * without allocating the stripped copy per row. */
  def punctCount(text: Column): Column =
    reCount(text, lit("[.,!?;:'\"()\\-]"))

  /** Ratio of tokens that are in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    when(tokenCount(text) > 0,
      tokenSetCount(text, stopwords).cast("double")
        / tokenCount(text).cast("double"))

  /** Composite quality score in [0,1]: length sweet-spot, low punctuation
    * density, healthy stopword ratio — the standard cheap pre-filter for
    * web-scale corpora. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val punctDensity = punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")
    val punctScore = greatest(lit(1.0) - punctDensity * lit(5.0), lit(0.0))
    val swr = coalesce(stopwordRatio(text, stopwords), lit(0.0))
    val swScore = least(swr * lit(4.0), lit(1.0))
    round((lenScore + punctScore + swScore) / lit(3.0), 6)
  }

  /** Mean word length: non-whitespace chars / whitespace tokens — the
    * Gopher-rule form (Rae et al. 2021 §A1.1.1; outside [3, 10] flags
    * machine-generated or non-linguistic text). Null on token-less text.
    * One regexp_replace + one regexp_count, both codegen'd; the division
    * is a single int→double IEEE op, so DuckDB replays it bit-exactly
    * (no rounding grid needed). */
  def meanWordLength(text: Column): Column =
    when(tokenCount(text) > 0,
      length(regexp_replace(text, "\\s", "")).cast("double")
        / tokenCount(text).cast("double"))

  /** Fraction of tokens containing at least one ASCII letter (Gopher's
    * ≥80% alpha-word rule — low values mean tables, code dumps, or
    * garbled bytes). Counted on the doubled-separator padded form with
    * one codegen'd regexp_count: each token is matched once at its first
    * letter (` [^A-Za-z\s]*[A-Za-z]`), adjacent tokens keep their own
    * delimiter, and the pattern is lookaround-free so RE2 (DuckDB)
    * replays it verbatim. */
  def alphaWordFrac(text: Column): Column =
    when(tokenCount(text) > 0,
      reCount(paddedTokens(text), lit(" [^A-Za-z\\s]*[A-Za-z]"))
        .cast("double") / tokenCount(text).cast("double"))

  /** Symbol-to-word ratio: (`#` + `...` + `…` occurrences) / tokens
    * (Gopher flags docs above 0.1 — hashtag spam and truncation
    * scaffolding). */
  def symbolWordRatio(text: Column): Column =
    when(tokenCount(text) > 0,
      (reCount(text, lit("#")) + reCount(text, lit("\\.\\.\\."))
        + reCount(text, lit("…"))).cast("double")
        / tokenCount(text).cast("double"))

  /** Newline-delimited line count (empty text is one empty line — the
    * split contract both engines share). */
  def lineCount(text: Column): Column = reCount(text, lit("\n")) + 1

  /** Fraction of lines starting with a bullet marker (`-`, `*`, `•`
    * after optional indent). Deliberately NOT `(?m)^`: Java's MULTILINE
    * `^` fires after \r and the Unicode line separators while RE2's
    * fires only after \n —
    * the explicit `(?:^|\n)` alternation pins the SAME \n-only
    * terminator set in both engines (matching [[lineCount]]'s
    * denominator, so the fraction is bounded by 1 even on bare-CR
    * docs). A bullet line's leading \n is not consumed by the previous
    * line's match (that match ends at its marker), so adjacent bullet
    * lines each count. */
  def bulletLineFrac(text: Column): Column =
    reCount(text, lit("(?:^|\\n)[ \\t]*[-*•]")).cast("double") /
      lineCount(text).cast("double")

  /** Fraction of lines ending with an ellipsis (`...` or `…`, optional
    * trailing spaces) — Gopher's truncated-content signal. Same
    * engine-pinned terminator discipline as [[bulletLineFrac]]:
    * `(?:\n|\z)` instead of `(?m)$` (Java's `$` also fires before \r\n
    * and, without MULTILINE, before a FINAL \n; `\z` is end-of-text in
    * both engines). */
  def ellipsisLineFrac(text: Column): Column =
    reCount(text, lit("(?:\\.\\.\\.|…)[ \\t]*(?:\\n|\\z)")).cast("double") /
      lineCount(text).cast("double")

  /** How many DISTINCT words of `words` appear in the (lowercased) text —
    * Gopher's ≥2-stopword presence rule. Presence probes the padded form
    * with one `contains` per word (no regex, no HOF); DuckDB replays as
    * LIKE on the same padded expression. Caller words are lowercased to
    * match the lowercased text — a mixed-case stop list ("The") would
    * otherwise silently never hit (oracles replaying this must lowercase
    * their word literals the same way). */
  def stopwordHitCount(text: Column, words: Seq[String]): Column = {
    val padded = paddedTokens(lower(text))
    // Locale.ROOT: default-locale toLowerCase would turn "I" into
    // dotless ı on a Turkish-locale JVM while Spark's lower() yields
    // "i" — reintroducing the silent-never-hit bug for that word
    words.foldLeft(lit(0): Column)((acc, w) =>
      acc + when(
        padded.contains(s" ${w.toLowerCase(java.util.Locale.ROOT)} "), 1)
        .otherwise(0))
  }

  /** Gopher words for [[stopwordHitCount]]'s default rule. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The composed Gopher repetition-free quality gate: word-count window,
    * mean-word-length window, symbol ratio, bullet/ellipsis line caps,
    * alpha-word floor, stopword presence. All components are row-local
    * codegen'd expressions over unrounded IEEE arithmetic, so the
    * boolean replays bit-exactly in DuckDB. `minWords` is a parameter
    * (Gopher's 50) so small-doc corpora can gate meaningfully. */
  def gopherPass(text: Column, minWords: Int = 50,
      stopwords: Seq[String] = gopherStopwords): Column = {
    val nw = tokenCount(text)
    nw >= minWords && nw <= 100000 &&
      meanWordLength(text).between(3.0, 10.0) &&
      symbolWordRatio(text) < 0.1 &&
      bulletLineFrac(text) <= 0.9 &&
      ellipsisLineFrac(text) <= 0.3 &&
      alphaWordFrac(text) >= 0.8 &&
      stopwordHitCount(text, stopwords) >= 2
  }

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. Deterministic argmax with lexicographic tie-break. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "est"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "这"))

  /** Language ID: most marker hits wins; ties resolve to the
    * lexicographically-earliest tied language (deterministic); zero hits
    * for every language → "und". */
  def langId(text: Column): Column = {
    val ordered = langMarkers.toSeq.sortBy(_._1)
    // one padded form per row, one regexp_count per language; argmax as
    // array_max over (score, -idx) structs. Struct comparison is
    // field-by-field, so ties on score resolve to the LARGEST -idx = the
    // lexicographically-earliest language — identical to the previous
    // strictly-greater fold of whens, which duplicated every score
    // subtree ~2^langs times (whens nest and each level references the
    // accumulated pair twice) and measured ~3 ms/doc interpreted; this
    // form evaluates each score once (~10 µs/doc).
    val padded = paddedTokens(lower(text))
    val entries = ordered.zipWithIndex.map { case ((_, markers), i) =>
      struct(countOnPadded(padded, markers).as("s"), lit(-i).as("ni"))
    }
    val best = array_max(array(entries: _*))
    when(best.getField("s") > 0,
      element_at(array(ordered.map(o => lit(o._1)): _*),
        lit(1) - best.getField("ni")))
      .otherwise(lit("und"))
  }

  /** Word n-gram shingles from the token array. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Rolling-hash document fingerprint (winnowing-lite): min/max/count of
    * shingle hashes — a compact, deterministic signature for fast
    * candidate filtering. */
  def fingerprint(text: Column, n: Int): Column = {
    val hs = transform(shingles(text, n), s => xxhash64(s))
    struct(
      array_min(hs).as("min_hash"),
      array_max(hs).as("max_hash"),
      size(hs).as("n_shingles"))
  }

  /** PII patterns for corpus scrubbing. ASCII-only, RE2-compatible (no
    * lookaround, ASCII \d and \b), so the SAME pattern strings run under
    * both Java regex (Spark codegen) and RE2-family engines — the x48
    * oracle replays them literally in DuckDB. Order of application
    * matters: emails before phones/IPs (an email can contain digit runs
    * and dotted hosts; a redacted email can't). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, then phone numbers, then IPv4 literals to typed
    * placeholder tags — the corpus-scrubbing step every published
    * training-data pipeline runs before release. Pure codegen'd
    * regexp_replace chain, no UDFs. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** Per-category PII match counts (emails / phones / IPv4s), counted on
    * the SAME cascade as [[redactPii]]: phones and IPs are counted after
    * email redaction so characters consumed by an email are never
    * double-counted, and IPs after phone redaction likewise. */
  def piiCounts(text: Column): Column = {
    val afterEmail = regexp_replace(text, emailPattern, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, phonePattern, "<PHONE>")
    struct(
      reCount(text, lit(emailPattern)).as("n_emails"),
      reCount(afterEmail, lit(phonePattern)).as("n_phones"),
      reCount(afterPhone, lit(ipv4Pattern)).as("n_ips"))
  }

  /** Per-document TF-IDF top terms: the k most characteristic terms of
    * each doc (tf × ln(N/df), N = docs with ≥1 token, df = docs
    * containing the term) — the classic keyword/topic signal a corpus
    * catalog or domain-mixing step wants per document.
    *
    * Determinism: ranking on the RAW double score is an engine trap —
    * distinct (tf, df) pairs can tie in exact arithmetic (3·ln4 = 2·ln8)
    * while landing on different last-bit doubles under libm vs Math.log,
    * flipping the order per engine with the term tiebreak never engaging.
    * Ranking on the 6dp-ROUNDED score collapses those to true ties that
    * (term ASC) breaks identically everywhere.
    *
    * Scale shape: one (doc, term) hash aggregate over the exploded tokens
    * (map-side combinable); df and N derive from THAT relation (bounded
    * by it, far below the token stream); N rides a 1-row broadcast; the
    * top-k is a per-doc window → WindowGroupLimit pushes the limit below
    * the shuffle (the x31 discipline).
    *
    * @return (doc_id, term, rnk, tf, score) — k rows per doc (fewer when
    *         the doc has fewer distinct terms), score 6dp
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = tf.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") *
        log(col("n").cast("double") / col("df")), 6))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("rnk"), col("tf"), col("score"))
  }

  /** Per-document Shannon character entropy in bits — the gibberish /
    * base64-blob / repeated-filler detector (very low = repetition, very
    * high vs the language norm = random bytes): −Σ p(c)·log₂ p(c) over
    * the doc's characters, 6dp (log rounding-grid discipline, x51).
    * Token-less docs are absent from the output.
    *
    * Scale shape: the char explode is pipeline-local — the partial hash
    * aggregate combines map-side, so NO exchange ever carries the raw
    * character volume: the (doc, char) aggregate shuffles
    * (doc, char, count) rows bounded by docs × alphabet, and the window
    * re-exchanges that same narrow relation by doc (hash(doc, char)
    * does not cluster docs); the final per-doc aggregate reuses the
    * window's doc partitioning. Characters are UTF-16 code units
    * (split("")), exact for BMP text; surrogate halves of astral chars
    * count separately — fine for an anomaly score.
    *
    * @return (doc_id, n_chars, entropy)
    */
  def charEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.select(col(idCol).as("doc_id"),
        explode(filter(split(col(textCol), ""), c => length(c) > 0)).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val p = col("c").cast("double") / col("n").cast("double")
    hist.withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"))
      // + 0.0 normalizes the single-distinct-char case (−0.0) before the
      // rounding both engines share
      .agg(first(col("n")).as("n_chars"),
        round(-sum(p * log(2.0, p)) + lit(0.0), 6).as("entropy"))
      .select(col("doc_id"), col("n_chars"), col("entropy"))
  }

  /** Gopher repetition metrics (Rae et al. 2021 Table A1, within-doc):
    * for each `topNs` n, the fraction of characters contained in the
    * MOST FREQUENT word n-gram (count × gram chars / doc chars); for
    * each `dupNs` n, the fraction of characters covered by ANY
    * occurrence of a DUPLICATED n-gram (covered token positions counted
    * once — overlaps don't double-count, the span-dedup discipline).
    * High values flag templated/looped generation that token-type ratios
    * (x33) miss. Chars are token chars (separators excluded), text
    * lowercased; docs with zero tokens are absent.
    *
    * Determinism: a count tie between grams of different char lengths
    * resolves to the larger length — and a (count, length) tie leaves
    * the fraction identical either way, so no further tie-break exists
    * to diverge on. Every ratio is one long→double division — the
    * oracle replays all columns bit-exactly, no rounding grid.
    *
    * Scale shape: ONE window pass (partition doc_id) computes per-token
    * hash/length leads up to max(n); every per-n aggregate then groups
    * by (doc_id, …) — hash(doc_id) already clusters those keys, so
    * nothing re-exchanges; the duplicate-coverage explode is bounded by
    * duplicated mass per doc. */
  def gopherRepetition(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 10)): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topNs.nonEmpty && dupNs.nonEmpty && (topNs ++ dupNs).min >= 2,
      "n-gram sizes must be at least 2")
    val maxN = (topNs ++ dupNs).max
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0") + 1).as("p"),
        xxhash64(col("t")).as("th"), length(col("t")).as("len"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val thLeads = (1 until maxN).map(i => lead(col("th"), i).over(w))
    val lenLeads = (1 until maxN).map(i => lead(col("len"), i).over(w))
    val gramCols = (topNs ++ dupNs).distinct.sorted.flatMap { n =>
      Seq(xxhash64((col("th") +: thLeads.take(n - 1)): _*).as(s"h$n"),
        (col("len") +: lenLeads.take(n - 1)).reduce(_ + _).as(s"gl$n"),
        thLeads(n - 2).isNotNull.as(s"v$n"))
    }
    val grams = toks
      .select(Seq(col("doc_id"), col("p"), col("len")) ++ gramCols: _*)
    val totals = grams.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"), sum(col("len")).as("n_chars"))
    val topParts = topNs.map { n =>
      grams.filter(col(s"v$n"))
        .groupBy(col("doc_id"), col(s"h$n"), col(s"gl$n"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("cnt"), col(s"gl$n").as("gl"))).as("top"))
        .select(col("doc_id"),
          (col("top.cnt") * col("top.gl")).as(s"topchars$n"))
    }
    val dupParts = dupNs.map { n =>
      val occ = grams.filter(col(s"v$n"))
        .select(col("doc_id"), col("p"), col(s"h$n").as("h"))
      val dup = occ.groupBy(col("doc_id"), col("h"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
        .select(col("doc_id"), col("h"))
      occ.join(dup, Seq("doc_id", "h"))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + lit(n - 1))).as("q"))
        .distinct()
        .join(toks.select(col("doc_id"), col("p").as("q"), col("len")),
          Seq("doc_id", "q"))
        .groupBy(col("doc_id")).agg(sum(col("len")).as(s"dupchars$n"))
    }
    val joined = (topParts ++ dupParts)
      .foldLeft(totals)((a, b) => a.join(b, Seq("doc_id"), "left"))
    val fracs =
      topNs.map(n => (coalesce(col(s"topchars$n"), lit(0L)).cast("double") /
        col("n_chars").cast("double")).as(s"top${n}gram_char_frac")) ++
      dupNs.map(n => (coalesce(col(s"dupchars$n"), lit(0L)).cast("double") /
        col("n_chars").cast("double")).as(s"dup${n}gram_char_frac"))
    joined.select(
      Seq(col("doc_id"), col("n_tokens"), col("n_chars")) ++ fracs: _*)
  }

  /** Deflate compression ratio: compressed / raw UTF-8 bytes at zlib
    * level 6 — the cheap whole-doc redundancy signal the published
    * corpus-quality stacks carry alongside the Gopher rules (very low =
    * templated/repeated filler; near or above 1 = already-compressed or
    * random bytes posing as text). Row-local scalar UDF by necessity
    * (the Bloom-probe rule: Catalyst has no deflate); deterministic per
    * JDK zlib like the x41 JPEG lumas — the x71 literal oracle pins the
    * exact values and restages on a JDK major change. Null/empty → null. */
  def compressionRatio(text: Column): Column = deflateRatioUdf(text)

  private val deflateRatioUdf = udf { (s: String) =>
    if (s == null || s.isEmpty) null
    else {
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(6, false)
      try {
        d.setInput(bytes)
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        java.lang.Double.valueOf(total.toDouble / bytes.length)
      } finally d.end() // free the native zlib handle even on task kill
    }
  }

  /** Unicode NFC via the JDK — the one text-cleaning step with no
    * Catalyst builtin; a row-local scalar UDF (the Bloom-probe rule:
    * no relational alternative exists). Null passes through. */
  // NFC composition is the codegen'd [[NfcNormalize]] expression — the
  // scalar UDF it replaces paid closure dispatch + boxing once per
  // corpus document in every content-keying query

  /** Canonical text cleanup — the normalization pass published pipelines
    * run before hashing/dedup so byte-different spellings of the same
    * text collide: NFC composition (combining sequences → precomposed;
    * deliberately NOT NFKC — ligatures/width forms are content), control
    * characters stripped (C0 minus \t \n \r, plus DEL), whitespace runs
    * collapsed to one space, ends trimmed. Strip pattern stays in the
    * RE2∩Java-regex common subset and removes \x0B/\x0C first, so the
    * engines' differing \s definitions see identical inputs — the x48
    * portability discipline. Row-local and codegen'd except the NFC
    * kernel. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(NfcNormalize(text),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""), "\\s+", " "))

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval scorer corpus-curation stacks run to pull
    * topic-targeted training subsets ("find me the math-adjacent docs")
    * at corpus scale. Lucene-form positive IDF:
    * ln(1 + (N − df + 0.5)/(df + 0.5)); per-term contribution
    * idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Scale shape: the query terms broadcast as an isin filter INSIDE the
    * explode projection, so the (doc, term) aggregate only ever sees
    * matching tokens — the corpus-sized stream never shuffles. Doc
    * lengths are one hash aggregate over the same pruned scan; N and
    * avgdl ride a 1-row broadcast (avgdl = exact integer token sum over
    * exact doc count, divided once — no float reduction). df derives
    * from the (doc, term) relation, bounded by docs×|terms|. Every join
    * after the two aggregates is vocab- or doc-sized.
    *
    * @return (doc_id, dl, score) for docs matching ≥1 term, score 6dp —
    *         the per-doc sum over ≤|terms| idf·tf terms (6dp absorbs
    *         double-sum order, the x49 discipline)
    */
  def bm25Scores(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("t"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = toks.filter(col("t").isin(terms.map(lit): _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val stats = df.agg(count(lit(1)).as("n"))
      .crossJoin(dl.agg((sum(col("dl")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl")))
    tf.join(dfreq, Seq("t"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib", col("idf") *
        (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"), round(sum(col("contrib")), 6).as("score"))
  }

  /** Corpus-statistical quality score: mean log10 unigram probability of
    * the document's tokens under the corpus's own empirical unigram
    * distribution — the cheap "LM-ish" fluency signal (boilerplate and
    * rare-token noise score low; typical prose scores high) published
    * quality-filtering stacks use alongside the rule-based metrics above.
    *
    * Scale shape: TWO streaming passes over the corpus, nothing
    * materialized — the exploded token relation is ~3× corpus size, so
    * caching it (the obvious move) is the scale-killer; recomputing the
    * explode is pure codegen over a pruned scan. Pass 1 hash-aggregates
    * the vocabulary-sized frequency relation, whose own sum supplies the
    * corpus total (1-row broadcast, the a4 pattern — no third pass).
    * Pass 2 joins tokens to frequencies — AQE broadcasts the vocabulary
    * side when it fits, else the shuffle carries (token, count) pairs,
    * orders of magnitude below the corpus. Token OCCURRENCES weight the
    * mean (a doc repeating a rare token keeps scoring low).
    *
    * @return (doc_id, n_tokens, lm_score) — lm_score 6dp, docs with no
    *         tokens are absent (no distribution to score under)
    */
  def unigramLogScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("t"))
    val freq = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("n"))
    toks.join(freq, Seq("t"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log10(col("c").cast("double") / col("n"))), 6)
          .as("lm_score"))
  }

  /** Interpolated-bigram LM quality score: mean log10 of
    * P(tᵢ | tᵢ₋₁) = λ·c(tᵢ₋₁tᵢ)/c(tᵢ₋₁·) + (1−λ)·c(tᵢ)/N over each
    * document's bigram positions, with all counts taken from the corpus
    * itself — the KenLM-style fluency upgrade over [[unigramLogScore]]
    * (word-ORDER violations now score low, not just rare words). λ and
    * 1−λ are exact binary fractions by default so the interpolation
    * arithmetic is bit-identical across engines; both sides evaluate the
    * same expression shape and only the final mean rounds (6dp).
    *
    * Scale shape: the corpus's bigram stream is recomputed in each pass,
    * never cached (the x49 rule — it is ~3× corpus bytes), and it carries
    * ONLY fixed-width xxhash64 keys — the shingle-hash discipline the
    * dedup family uses. Raw string bigrams never shuffle: Zipf-heavy keys
    * like "of the" ride as 8-byte longs, the count relations are
    * (long, long) rows that stay broadcastable orders of magnitude longer
    * than string vocabularies, and AQE's skew-split sees uniform row
    * widths when they don't. Pass 1 hash-aggregates the bigram-vocabulary
    * relation; context totals c(w·) derive from THAT relation (bounded by
    * it), unigrams from the token stream, N from the unigram relation's
    * own sum (1-row broadcast). Both interpolation terms are precomputed
    * into vocab-sized models (`pb = λ·cb/cw` keyed by bigram hash,
    * `pu = (1−λ)·cu/N` keyed by token hash) so pass 2 is exactly two
    * long-key joins against the re-exploded stream — not three — and the
    * per-key division happens once per vocabulary entry, not once per
    * corpus position. The expression shapes match the three-join form
    * term for term, so scores are bit-identical.
    *
    * `minCount` is KenLM-style model pruning: bigrams seen fewer times
    * are dropped from the model AFTER context totals are taken, bounding
    * the model relation at corpus scale; pruned positions back off to the
    * unigram term alone (p = (1−λ)·cu/N). The default 1 prunes nothing —
    * the oracle-exact configuration. 64-bit key collisions merge distinct
    * bigrams with probability ~V²/2⁶⁵ (negligible below ~10⁹ vocabulary;
    * the same bound the minhash family documents).
    *
    * @return (doc_id, n_bigrams, bi_score) — docs with < 2 tokens are
    *         absent (no bigram to score)
    */
  def bigramLogScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, lambda: Double = 0.75,
      minCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    // one codegen'd pass per doc: token hashes + chained bigram hashes
    // (2n-1 string hashes instead of 4(n-1)), fixed-width longs past the
    // tokenizer — see BigramKeys's scaladoc for the exact-parity
    // argument vs the retired transform/element_at/xxhash64 derivation
    val bigramArr = BigramKeys.bigramKeys(tokens(col(textCol)))
    // bg feeds the bigram-count aggregate AND the final scoring join —
    // two evaluations of the tokenize → bigram-keys → explode front
    // (now one codegen'd pass each), CONVICTED as the x56 cpu driver
    // (round-15 profile: a localCheckpoint here measured 12.9-16.2 →
    // 7.7-9.2 cpu-s at sf0.1, closing the r14 drift question — it was
    // the multiply-evaluated-input class, not environmental) and then
    // deliberately REVERTED: the stream is ~6× corpus bytes of
    // (doc_id, 3×long) rows, and materializing it violates the x49
    // scale rule this scaladoc pins — at 100 TB the checkpoint write
    // is a corpus-scale disk bill per scoring run, and its
    // lineage-truncated blocks turn one lost executor into a failed
    // query. The double evaluation is the documented price of the
    // streaming-shaped plan; both passes are parallel map work.
    val bg = df.select(col(idCol).as("doc_id"), explode(bigramArr).as("b"))
      .select(col("doc_id"),
        col("b.bk").as("bk"), col("b.k1").as("k1"), col("b.k2").as("k2"))
    // k1 is functionally determined by bk (same w1); min() just picks the
    // constant without a second shuffle key
    val cb = bg.groupBy(col("bk"))
      .agg(count(lit(1)).as("cb"), min(col("k1")).as("k1"))
    val cw = cb.groupBy(col("k1")).agg(sum(col("cb")).as("cw"))
    val cu = df.select(explode(tokens(col(textCol))).as("t"))
      .select(xxhash64(col("t")).as("k2"))
      .groupBy(col("k2")).agg(count(lit(1)).as("cu"))
    val n = cu.agg(sum(col("cu")).as("n"))
    val biModel = cb.filter(col("cb") >= minCount)
      .join(cw, Seq("k1"))
      .select(col("bk"), (lit(lambda) * col("cb").cast("double") /
        col("cw").cast("double")).as("pb"))
    val uniModel = cu.crossJoin(broadcast(n))
      .select(col("k2"), (lit(1 - lambda) * col("cu").cast("double") /
        col("n").cast("double")).as("pu"))
    // left join: with minCount=1 every position has its model row (the
    // model came from this stream) so coalesce never fires; pruned
    // positions land on the unigram backoff
    bg.join(biModel, Seq("bk"), "left")
      .join(uniModel, Seq("k2"))
      .withColumn("p", coalesce(col("pb"), lit(0d)) + col("pu"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log10(col("p"))), 6).as("bi_score"))
  }

  /** Multinomial Naive Bayes text classifier, trained AND applied as one
    * relational flow — the fasttext-class supervised filter (CCNet-style
    * language/domain classification) expressed so that "training" is a
    * single aggregation query, not an iterative driver loop.
    *
    * Model: per-(label, token) occurrence counts with add-one smoothing
    * over the corpus vocabulary; priors are each label's document share.
    * score(d, l) = ln P(l) + Σ_occurrences ln((c_lt + 1) / (N_l + V)).
    * Prediction is the argmax on the 6dp-ROUNDED score with label-ASC
    * tie-break (the x51 discipline: raw-double ranking can flip rows per
    * engine on last-bit libm differences while the tiebreak never
    * engages).
    *
    * Scale shape: the model is vocabulary×labels-sized, built by ONE hash
    * aggregate over the exploded token stream; a dense vocab×label grid
    * (left join, smoothing floor for absent pairs) keeps unseen
    * (label, token) cells exact without per-row conditionals. Scoring
    * re-explodes the corpus (nothing cached — the x49 rule) and joins the
    * model on token; AQE broadcasts the model when it fits. The
    * per-(doc, label) partial sums are map-side combinable, and every
    * post-aggregate relation is docs×L — orders of magnitude below the
    * token stream. No iteration, no driver state.
    *
    * @return (doc_id, actual, pred, score, correct), one row per doc
    *         that has ≥1 token (token-less docs have nothing to score)
    */
  def nbClassify(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The token stream and the vocab×label model carry xxhash64 token
    // keys, not strings (the x56 discipline): the scoring join — the one
    // corpus-sized shuffle when the model outgrows broadcast — moves
    // 8-byte longs instead of Zipf-skewed raw tokens. The model's own
    // joins are vocab-sized either way.
    val occ = df.select(col(idCol).as("doc_id"),
        col(labelCol).as("actual"), explode(tokens(col(textCol))).as("t"))
      .select(col("doc_id"), col("actual"), xxhash64(col("t")).as("k"))
    val counts = occ.groupBy(col("actual").as("label"), col("k"))
      .agg(count(lit(1)).as("c"))
    val labelTotals = counts.groupBy(col("label")).agg(sum(col("c")).as("nl"))
    val vocab = counts.select(col("k")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val priors = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
    val ntot = df.agg(count(lit(1)).as("n_docs"))
    val model = vocab.crossJoin(priors.select(col("label")))
      .join(counts, Seq("label", "k"), "left")
      .join(labelTotals, Seq("label"))
      .crossJoin(broadcast(vsize))
      .select(col("label"), col("k"),
        log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
            (col("nl") + col("v")).cast("double")).as("logp"))
    val scored = occ
      .join(model, Seq("k"))
      .groupBy(col("doc_id"), col("actual"), col("label"))
      .agg(sum(col("logp")).as("ll"))
      .join(broadcast(priors), Seq("label"))
      .crossJoin(broadcast(ntot))
      .withColumn("score", round(col("ll") +
        log(col("nd").cast("double") / col("n_docs").cast("double")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("actual"), col("label").as("pred"),
        col("score"), (col("label") === col("actual")).as("correct"))
  }
}
