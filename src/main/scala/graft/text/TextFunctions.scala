package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a web-scale training-data pipeline:
  * language-ID, quality scoring, token counting, fingerprinting. All pure
  * `Column` expressions (codegen'd, no UDFs) so they run inside the same
  * single-pass scan as the validation rules.
  */
object TextFunctions {

  /** Whitespace tokens; empty/null-safe (empty string → empty array).
    * Trims ALL whitespace classes from both ends before splitting (SQL
    * `trim` strips spaces only — a leading newline would otherwise yield
    * a phantom empty first token, since Java-split semantics drop trailing
    * empties but keep leading ones).
    */
  def tokens(c: Column): Column = {
    val trimmed = regexp_replace(coalesce(c, lit("")), "^\\s+|\\s+$", "")
    when(length(trimmed) === 0, array().cast("array<string>"))
      .otherwise(split(trimmed, "\\s+"))
  }

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Adjacent word pairs from a token array, joined with one space —
    * shared by [[Vocab.pairCounts]] and
    * [[Importance.hashedNgramCounts]]: both are oracle-graded
    * byte-exactly, so the pair construction must stay bit-identical
    * between them. Fewer than two tokens → empty array.
    */
  def adjacentPairs(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))

  /** BPE-ish subword-boundary token count: letter runs, digit runs, and
    * single punctuation marks each count as one token (the common
    * pre-tokenizer regex shape).
    */
  def bpeishTokenCount(c: Column): Column =
    regexp_count(coalesce(c, lit("")),
      lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"))

  // --- language id ------------------------------------------------------

  /** Stopword tables for the n-gram/stopword heuristic. Deliberately tiny:
    * the goal is a deterministic, cheap, fully-columnar classifier.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es" -> Seq("el", "los", "las", "es", "una", "en", "que", "por", "con", "para"))

  /** Count of word-boundary stopword hits for one language. */
  def stopwordHits(c: Column, lang: String): Column = {
    val pat = Stopwords(lang).mkString("(?i)\\b(", "|", ")\\b")
    regexp_count(coalesce(c, lit("")), lit(pat))
  }

  /** Heuristic language id: argmax of per-language stopword hits,
    * "und" (undetermined) when nothing matched. Ties break lexicographically
    * descending on (score, lang) for determinism.
    */
  def langId(c: Column): Column = {
    val scored = Stopwords.keys.toSeq.sorted.map { l =>
      struct(stopwordHits(c, l).as("score"), lit(l).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise("und")
  }

  // --- quality ----------------------------------------------------------

  def stopwordRatio(c: Column): Column = {
    val total = tokenCount(c)
    val hits = Stopwords.keys.toSeq.sorted
      .map(l => stopwordHits(c, l)).reduce(_ + _)
    when(total === 0, 0.0).otherwise(hits.cast("double") / total)
  }

  def punctRatio(c: Column): Column = {
    val n = length(coalesce(c, lit("")))
    when(n === 0, 0.0).otherwise(
      regexp_count(c, lit("[^\\p{L}\\p{N}\\s]")).cast("double") / n)
  }

  def digitRatio(c: Column): Column = {
    val n = length(coalesce(c, lit("")))
    when(n === 0, 0.0).otherwise(
      regexp_count(c, lit("[\\p{N}]")).cast("double") / n)
  }

  def meanWordLength(c: Column): Column = {
    val toks = tokens(c)
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        size(toks))
  }

  /** Composite quality score in [0,1] — length, stopword, punctuation and
    * digit signals (the usual pretraining-filter features). Deterministic,
    * documented weights; callers threshold it (e.g. keep > 0.3).
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(tokenCount(c).cast("double") / 100.0, lit(1.0))
    val swScore = least(stopwordRatio(c) * 4.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(c) * 5.0)
    val digitPenalty = greatest(lit(0.0), lit(1.0) - digitRatio(c) * 3.0)
    (lenScore * 0.3 + swScore * 0.3 + punctPenalty * 0.2 + digitPenalty * 0.2)
  }

  // --- Gopher auxiliary quality signals (Rae et al. 2021 §A1.1) --------

  /** '#' characters and '...' runs per word — Gopher drops > 0.1. Pure
    * regexp counts; 0 for token-less docs.
    */
  def symbolToWordRatio(c: Column): Column = {
    val toks = tokenCount(c)
    val symbols = regexp_count(coalesce(c, lit("")), lit("#")) +
      regexp_count(coalesce(c, lit("")), lit("\\.\\.\\.")) +
      regexp_count(coalesce(c, lit("")), lit("\u2026")) // typographic ellipsis
    when(toks === 0, 0.0).otherwise(symbols.cast("double") / toks)
  }

  /** Non-blank line count as ONE multiline regexp_count — no higher-order
    * functions (a `filter` lambda would drop the whole signal projection
    * to interpreted eval). `^\s*\S` matches exactly once per non-blank
    * line: anchored at a line start, it consumes through that line's
    * first non-ws char, and the next scan resumes past it. The `(?d)`
    * UNIX_LINES flag pins Java's `^`/`$` to `\n` ONLY — Java multiline
    * otherwise also breaks on \r/\u2028/..., where the DuckDB oracle's
    * RE2 breaks on \n only, and CRLF web text would diverge.
    */
  private def nonBlankLineCount(c: Column): Column =
    regexp_count(coalesce(c, lit("")), lit("(?dm)^\\s*\\S"))

  /** Fraction of non-blank lines that start with a bullet marker — Gopher
    * drops > 0.9 (nav/listing boilerplate). 0 for empty docs.
    */
  def bulletLineFraction(c: Column): Column = {
    val lines = nonBlankLineCount(c)
    val bullets = regexp_count(coalesce(c, lit("")),
      lit("(?dm)^[ \\t]*[-*•]"))
    when(lines === 0, 0.0).otherwise(bullets.cast("double") / lines)
  }

  /** Fraction of non-blank lines ending in an ellipsis — Gopher drops
    * > 0.3 (truncated scraped previews). 0 for empty docs.
    */
  def ellipsisLineFraction(c: Column): Column = {
    val lines = nonBlankLineCount(c)
    val ell = regexp_count(coalesce(c, lit("")),
      lit("(?dm)(\\.\\.\\.|…)[ \\t\\r]*$"))
    when(lines === 0, 0.0).otherwise(ell.cast("double") / lines)
  }

  /** Fraction of words containing at least one letter — Gopher keeps
    * >= 0.8. Counted with a lookbehind-FREE regex ((^|\s)\S*\p{L}: each
    * match consumes through its token's last letter, so one match per
    * lettered token) — the same pattern runs under Java regex here and
    * RE2 in the DuckDB oracle. 1.0 for token-less docs (nothing violates).
    */
  def alphaWordFraction(c: Column): Column = {
    val toks = tokenCount(c)
    val lettered = regexp_count(coalesce(c, lit("")),
      lit("(^|\\s)[^\\s]*\\p{L}"))
    when(toks === 0, 1.0).otherwise(lettered.cast("double") / toks)
  }

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]]): run
    * before [[fingerprint]]/dedup on corpora that aren't known-ASCII, so
    * composed and decomposed forms of the same text collide like they
    * should. Null passes through.
    */
  def nfcNormalize(c: Column): Column =
    graft.functions.UnicodeExpressions.nfcNormalize(c)

  // --- fingerprinting ---------------------------------------------------

  /** Canonical-form document fingerprint: xxhash64 of lowercased,
    * whitespace-collapsed text. Byte-stable: the same extracted text always
    * maps to the same 64-bit id (the cheap exact-dup key).
    */
  def fingerprint(c: Column): Column =
    xxhash64(regexp_replace(lower(trim(coalesce(c, lit("")))), "\\s+", " "))

  /** Repetition signal (the C4/Gopher-style boilerplate filter): fraction
    * of non-blank LINES that are duplicates of an earlier line. Templated
    * pages (nav bars, cookie banners, scraped listings) repeat lines;
    * prose doesn't. 0 for empty docs.
    */
  def duplicateLineFraction(c: Column): Column = {
    val lines = filter(split(coalesce(c, lit("")), "\n"),
      l => length(trim(l)) > 0)
    when(size(lines) === 0, lit(0.0))
      .otherwise((size(lines) - size(array_distinct(lines))).cast("double")
        / size(lines))
  }

  /** Repetition signal at the n-gram level: fraction of word n-grams that
    * are repeats. High values flag keyword-stuffed / machine-looped text
    * even when no full line repeats. 0 when the doc has fewer than n
    * tokens.
    *
    * Evaluated by the tight-loop [[graft.functions.DuplicateNgramFraction]]
    * expression: the higher-order-function formulation (kept as
    * `duplicateNgramFractionHof`, the spec's independent reference)
    * measured ~1.2 ms/row on ~120-token docs — interpreted per array
    * element — versus ~2 µs/row warm for the loop, ~600x (BENCH.md
    * "Repetition-signal hot loop", round 4; VERDICT r3 item 6).
    */
  def duplicateNgramFraction(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.DuplicateNgramFraction(
        org.apache.spark.sql.GraftColumnShim.expression(c), n))

  /** The original columnar HOF formulation of [[duplicateNgramFraction]] —
    * retained ONLY as the independently-derived parity reference for
    * TextFunctionsSpec (same role the DuckDB oracle plays driver-side).
    * Do not use in pipelines: ~600x slower than the expression.
    */
  private[graft] def duplicateNgramFractionHof(c: Column, n: Int): Column = {
    val toks = tokens(c)
    val grams = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
    when(size(grams) === 0, lit(0.0))
      .otherwise((size(grams) - size(array_distinct(grams))).cast("double")
        / size(grams))
  }

  /** Canonical URL for web dedup — the normalization that runs BEFORE url
    * uniqueness so re-crawls of the same page collide. Purely syntactic
    * (RE2-safe regexes so an oracle can re-derive it): lowercase
    * scheme+host, drop the fragment, drop tracking query params
    * (utm_* / gclid / fbclid — and the `?`/dangling `&` they leave
    * behind), drop default ports, trim a single trailing slash from
    * non-root paths. Null-safe (null passes through).
    */
  def canonicalUrl(c: Column): Column = {
    // lowercase ONLY the scheme://host[:port] prefix, never path or query
    val lowered = concat(
      lower(regexp_extract(c, "^([^/?#]*//[^/?#]*)", 1)),
      regexp_replace(c, "^[^/?#]*//[^/?#]*", ""))
    val noFragment = regexp_replace(lowered, "#.*$", "")
    // the separator ANCHORS the param name (xgclid/my_utm_x must survive);
    // each match keeps its leading [?&], so runs of removed params leave
    // ?&/&& debris cleaned up before the dangling-separator trim
    val noTracking = regexp_replace(noFragment,
      "([?&])(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&#]*", "$1")
    val noDebris = regexp_replace(
      regexp_replace(noTracking, "&&+", "&"), "\\?&", "?")
    val noDanglingSep = regexp_replace(noDebris, "[?&]$", "")
    // a scheme only swallows ITS OWN default port (https:80 is a real,
    // distinct endpoint and must not collide with https:443)
    val noDefaultPort = regexp_replace(
      regexp_replace(noDanglingSep,
        "^(http://[^/:?#]+):80([/?#]|$)", "$1$2"),
      "^(https://[^/:?#]+):443([/?#]|$)", "$1$2")
    // trim ONE trailing slash, but never the root path's: a literal '/'
    // must separate the authority from the trimmed segment (a pattern a
    // backtracking [^/]+ authority cannot satisfy on root URLs)
    when(c.isNull, lit(null.asInstanceOf[String]))
      .otherwise(regexp_replace(noDefaultPort,
        "(//[^/]+(/.*[^/]))/$", "$1"))
  }

  /** PII scrub for training text (the anonymise-job concern at corpus
    * scale, `management/commands/anonymise.py`): mask e-mail addresses and
    * international/UK-style phone numbers with fixed tokens. Deliberately
    * regex-syntactic and RE2-compatible; recall/precision trade-offs are
    * the caller's via the patterns, and masking is idempotent (the mask
    * tokens don't re-match).
    */
  def maskPii(c: Column,
      emailToken: String = "<EMAIL>", phoneToken: String = "<PHONE>"): Column =
    regexp_replace(
      regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        emailToken),
      "(\\+[0-9]{1,3}[ -]?)?(\\(0\\)[ -]?)?([0-9][ -]?){9,12}[0-9]",
      phoneToken)

  /** Rolling-hash fingerprint over word 3-grams: order-sensitive but
    * locally-stable (a small edit changes few shingle hashes). Returns the
    * min shingle hash — the 1-hash MinHash, useful as a cheap cluster key.
    */
  def rollingMinShingleHash(c: Column, k: Int = 3): Column = {
    val sh = Shingles.wordShingles(c, k)
    when(size(sh) === 0, xxhash64(coalesce(c, lit(""))))
      .otherwise(array_min(transform(sh, s => xxhash64(s))))
  }
}

/** Word-level k-shingles shared by the dedup family. */
object Shingles {
  def wordShingles(c: Column, k: Int): Column = {
    val toks = TextFunctions.tokens(c)
    when(size(toks) < k, when(size(toks) > 0,
        array(array_join(toks, " "))).otherwise(array().cast("array<string>")))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + 1, lit(k)), " "))))
  }
}
