package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis expressions for the training-data pipeline operators:
  * tokenization, shingling, MinHash, SimHash, language-ID scoring, quality
  * scoring, fingerprinting.
  *
  * Everything here is a pure `Column` expression built from Spark
  * built-ins (higher-order array functions + md5), so the hot path stays
  * inside whole-stage codegen: per-row, shuffle-free, no UDFs, no
  * serialization boundary. MinHash/SimHash use md5 as the hash family —
  * engine-portable (identical hex in any engine), deterministic across
  * runs and partitionings, which lets the DuckDB oracle reproduce the
  * exact signatures.
  */
object TextFns {

  /** Canonical text normalization — the preprocessing every dedup
    * and scoring stage assumes upstream ran: lowercase, control chars
    * to spaces, whitespace runs collapsed to one space, ends trimmed.
    * Pure scan-resident column functions (codegen'd, RE2-portable
    * patterns) so normalization rides the projection for free; apply
    * BEFORE hashing/shingling so byte-level noise (CRLF vs LF, tabs,
    * doubled spaces) stops defeating exact dedup.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1f\\x7f]", " "),
      "\\s+", " "))

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** n-word shingles (space-joined) of a token array; empty if fewer
    * than n tokens.
    */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Character k-grams of a (lowercased) string; empty if shorter than k. */
  def charShingles(text: Column, k: Int): Column =
    when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => lower(text).substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))

  /** One MinHash value: lexicographic min of salted md5 over a shingle
    * set. A distinct salt per signature position simulates an independent
    * hash function. Null on empty shingle sets.
    */
  def minhash(shingles: Column, salt: Int): Column =
    array_min(transform(shingles, s => md5(concat(lit(s"$salt|"), s))))

  /** 16-bit SimHash over a token bag, computed per-row with higher-order
    * aggregates (no explode, no shuffle).
    *
    * Plane j (1..16) is the high bit of hex digit j of md5(token): each
    * token votes +1/-1 per plane; bit j of the result is set when the
    * vote sum is >= 0. Returned as BIGINT in [0, 65535].
    */
  def simhash16(toks: Column): Column = {
    // One md5 per token (transform), then a single aggregate pass with a
    // 16-slot vote accumulator — not 16 aggregates each recomputing md5.
    // Hex digit "high bit set" <=> digit >= '8' lexicographically
    // (hex alphabet 0-9a-f is ascii-ordered).
    val votes = aggregate(
      transform(toks, t => md5(t)),
      array_repeat(lit(0), lit(16)),
      (acc, h) => zip_with(acc, sequence(lit(1), lit(16)),
        (a, j) => a + when(h.substr(j, lit(1)) >= "8", 1).otherwise(-1)))
    val sig = aggregate(
      zip_with(votes, sequence(lit(1), lit(16)),
        (v, j) => when(v >= 0, pow(lit(2.0), lit(16) - j).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)
    // empty token bag -> null, not 65535 (all-zero votes would set every
    // bit); matches the relational/oracle form, where such docs have no
    // rows and thus no signature
    when(size(toks) > 0, sig)
  }

  // ---- language ID -----------------------------------------------------

  /** Marker stopwords per language for the stopword-profile LID heuristic.
    * Scoring = marker hits per language over the token bag.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "es", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "ni"))

  /** Exact-token alternation: matches a whole whitespace-delimited token
    * equal to one of `words`. The lookarounds pin the match to token
    * boundaries ((?<!\S) = start-of-text or after whitespace, (?!\S) =
    * end-of-text or before whitespace), so an alternative only matches
    * when it spans the ENTIRE token — the regex-codegen equivalent of
    * `filter(tokens(text), _.isin(words))`, which as a higher-order
    * array function is CodegenFallback (interpreted) and 3-10x slower
    * in a scan-heavy gate (see PERF.md finding 1).
    */
  private def tokenAlternation(words: Seq[String]): String =
    "(?<!\\S)(?:" + words.mkString("|") + ")(?!\\S)"

  /** Native match counter (`RegexpTally`): Spark's `regexp_count` is
    * RuntimeReplaceable sugar for `size(regexp_extract_all(...))` and
    * materializes every match only to take the array's length; the
    * native form is the count alone.
    */
  private def tally(text: Column, pattern: String): Column =
    graft.expressions.GraftFunctions.regexpTally(text, pattern)

  /** Whitespace-token count, one codegen'd counting pass, no array. */
  private def tokenCount(text: Column): Column = tally(text, "\\S+")

  /** Per-language marker hit count (per-row, codegen, no shuffle). */
  def langScore(text: Column, lang: String): Column =
    tally(lower(text), tokenAlternation(langMarkers(lang)))

  /** Predicted language: argmax marker count, ties broken by language code
    * ascending; "und" (undetermined) when no marker hits at all.
    *
    * argmax via array_max over struct(score, rank, lang) — struct
    * comparison is lexicographic by field, and rank descends with lang so
    * equal scores pick the alphabetically first language.
    */
  def langId(text: Column): Column = {
    val langs = langMarkers.keys.toSeq.sorted
    val best = langs.zipWithIndex.map { case (l, i) =>
      struct(langScore(text, l).as("s"), lit(langs.length - i).as("r"), lit(l).as("l"))
    }
    val winner = array_max(array(best: _*))
    when(winner.getField("s") > 0, winner.getField("l")).otherwise(lit("und"))
  }

  /** Character-trigram profiles per language — the classic n-gram LID
    * heuristic (Cavnar-Trenkle style, tiny profiles): the most
    * discriminative frequent trigrams of each language, space-padded
    * word boundaries included.
    */
  val langTrigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "he ", " th", "ing", "and", " an", "ion", " of", "of ", "ed "),
    "de" -> Seq("der", "ein", "ich", "sch", "und", " un", "die", "en ", "ch ", "cht"),
    "es" -> Seq(" de", "de ", "que", " qu", "os ", "la ", " la", "ión", "ado", " es"),
    "fr" -> Seq(" de", "es ", "le ", " le", "ent", "que", " qu", "ion", "eur", "ais"))

  /** Trigram-overlap LID: count profile-trigram occurrences per language
    * over the lowercased text (word-boundary padded), argmax with ties
    * to the alphabetically first language; "und" when nothing matches.
    *
    * Scoring is a native count with a zero-width lookahead alternation
    * `(?=(?:tri1|tri2|...))` — one codegen'd pass per language counting
    * every position where a profile trigram starts, which is exactly
    * the OVERLAPPING window count `size(filter(charShingles(padded, 3),
    * isin(profile)))` computes interpreted (a 3-char window equals an
    * ASCII-ish trigram iff that trigram matches at the window's start;
    * empty lookahead matches advance the scan by one position).
    */
  def langIdNgram(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val langs = langTrigramProfiles.keys.toSeq.sorted
    val best = langs.zipWithIndex.map { case (l, i) =>
      val score = tally(padded, "(?=(?:" + langTrigramProfiles(l).mkString("|") + "))")
      struct(score.as("s"), lit(langs.length - i).as("r"), lit(l).as("l"))
    }
    val winner = array_max(array(best: _*))
    when(winner.getField("s") > 0, winner.getField("l")).otherwise(lit("und"))
  }

  // ---- PII / boilerplate surface ------------------------------------------

  /** Count of email-shaped tokens (simple portable pattern). */
  def emailCount(text: Column): Column =
    tally(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}").cast("long")

  /** Count of http(s) URLs. */
  def urlCount(text: Column): Column =
    tally(text, "https?://[^\\s]+").cast("long")

  /** Count of blocklisted words (C4-style "bad words" screen): one
    * native tally over an anchored alternation, so a 100-word
    * blocklist is still ONE scan-resident counter, not 100 contains()
    * probes. Words are regex-quoted; matching is whole-word and
    * case-sensitive (lower the column first for case-folded policy —
    * keeping the fold explicit keeps the portable-oracle contract
    * byte-exact).
    */
  def blocklistCount(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "blocklist must not be empty")
    // \b is only a boundary next to word characters, so an entry that
    // starts/ends with punctuation would silently never match
    // whole-word; reject it rather than mis-screen
    words.foreach { w =>
      require(w.nonEmpty && isWordChar(w.head) && isWordChar(w.last),
        s"blocklist entry '$w' must start and end with a word character" +
          " for whole-word \\b anchoring")
    }
    val pat = words.map(escapeRegex).mkString("\\b(?:", "|", ")\\b")
    tally(text, pat).cast("long")
  }

  private def isWordChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_'

  /** Per-character metacharacter escaping, portable to both RE2 and
    * java.util.regex (Pattern.quote's \Q…\E is java-only).
    */
  private def escapeRegex(w: String): String =
    w.flatMap { c =>
      if ("\\.^$|?*+()[]{}".contains(c)) s"\\$c" else c.toString
    }

  /** PII redaction: rewrite email-shaped spans then http(s) URLs to
    * typed placeholders, using the SAME portable patterns as the count
    * surface above (both are RE2- and java.util.regex-compatible, so an
    * external engine reproduces the transform byte-for-byte — the
    * property the q74 oracle checks). Email runs first deliberately: an
    * email inside a URL's userinfo is a stronger signal than the URL
    * around it, and fixing the order makes the composition
    * deterministic. Pure per-row codegen'd rewrite — at 100 TB this
    * lives in the scan projection like any other scalar.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "https?://[^\\s]+", "<URL>")

  // ---- quality scoring ---------------------------------------------------

  val enStopwords: Seq[String] = Seq(
    "the", "a", "of", "and", "is", "to", "in", "that", "it", "for")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n > 0,
      tally(lower(text), tokenAlternation(enStopwords)).cast("double") / n)
      .otherwise(lit(0.0))
  }

  /** Fraction of characters that are neither alphanumeric nor whitespace. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
        .cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Mean token length: total non-whitespace characters over token
    * count (identical to summing per-token lengths — tokens are exactly
    * the non-whitespace runs).
    */
  def avgTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n > 0,
      length(regexp_replace(text, "\\s", "")).cast("double") / n)
      .otherwise(lit(0.0))
  }

  /** Composite document quality score in [0,1]: rewards mid-length docs,
    * a natural stopword ratio, and plausible mean token length.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val swScore = lit(1.0) - abs(stopwordRatio(text) - 0.25) * 2.0
    val tlScore = lit(1.0) - least(abs(avgTokenLen(text) - 5.0) / 5.0, lit(1.0))
    greatest(least(lenScore * 0.4 + swScore * 0.3 + tlScore * 0.3, lit(1.0)), lit(0.0))
  }

  /** Linear quality-classifier score on INTEGER basis-point features —
    * the model-based keep/drop gate shape (a fastText-style linear
    * scorer with hand-set weights), kept in pure BIGINT arithmetic so
    * the score is bit-identical on any engine: every ratio becomes an
    * integer-divided basis-point feature, every weight an integer.
    *
    * features: len_cap = min(tokens, 50); stop_bp / punct_bp =
    * stopword-per-token / punct-per-char in 1/10000ths; atl_centi =
    * non-ws chars per token in 1/100ths.
    * score = 80*len_cap - |stop_bp - 2500| - 2*punct_bp
    *         - |atl_centi - 500|
    * — the same rewards as `qualityScore` (mid-length, ~25% stopwords,
    * ~5-char tokens, low punctuation) with a comparable-not-equal
    * decision surface; the classifier exists where the float score
    * can't travel (cross-engine exactness, stable thresholds).
    */
  def linearQualityScore(text: Column): Column = {
    val one = lit(1L)
    val nTok = tokenCount(text).cast("long")
    val stopCnt = tally(lower(text), tokenAlternation(enStopwords)).cast("long")
    val punctCnt = (length(text) -
      length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast("long")
    val nonWs = length(regexp_replace(text, "\\s", "")).cast("long")
    val nChars = length(text).cast("long")
    def idiv(a: Column, b: Column) = call_function("div", a, b)
    val stopBp = idiv(stopCnt * 10000L, greatest(nTok, one))
    val punctBp = idiv(punctCnt * 10000L, greatest(nChars, one))
    val atlCenti = idiv(nonWs * 100L, greatest(nTok, one))
    lit(80L) * least(nTok, lit(50L)) - abs(stopBp - 2500L) -
      lit(2L) * punctBp - abs(atlCenti - 500L)
  }

  // ---- token counting ------------------------------------------------------

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = tokenCount(text).cast("long")

  /** BPE-ish subword proxy: runs of letters, runs of digits, and single
    * other non-space chars each count as one token.
    */
  def bpeishTokenCount(text: Column): Column =
    tally(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]").cast("long")

  // ---- fingerprinting --------------------------------------------------------

  /** Document fingerprint: min md5 over character k-grams — a
    * 1-permutation MinHash over the rolling-window gram set. Null for
    * docs shorter than k. Native expression (`Md5MinGram`): the
    * composable `array_min(transform(charShingles(text, k), md5))` is
    * interpreted per gram and materializes the gram array; the native
    * form is one digest loop per row with identical results.
    */
  def fingerprint(text: Column, k: Int): Column =
    graft.expressions.GraftFunctions.md5MinGram(text, k)
}
