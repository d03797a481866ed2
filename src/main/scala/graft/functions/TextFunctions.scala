package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines, all
  * expressed as codegen-friendly column expressions (no UDFs): tokenization,
  * shingling, MinHash signatures, SimHash, language-ID, quality ratios,
  * document fingerprints.
  *
  * The reference has no text operators (pgsync delegates scalar compute to
  * PostgreSQL — SURVEY.md §2.6); these extend the engine for the LLM-corpus
  * use cases named in the north star. Everything here is derived from
  * standard public techniques (MinHash/LSH per Broder '97; SimHash per
  * Charikar '02) implemented directly on Spark SQL primitives.
  */
object TextFunctions {

  /** Whitespace tokens (the baseline tokenizer). Separator spelled as the
    * explicit RE2 `\s` class ([[graft.expr.TextPrimitives.WsPlus]]) — Spark's
    * `split` runs Java regex, whose `\s` also admits U+000B and would
    * tokenize vertical-tab text differently from the RE2-backed oracles.
    */
  def tokens(text: Column): Column = split(trim(text), graft.expr.TextPrimitives.WsPlus)

  /** BPE-style pre-tokenization (the public GPT-2 pre-tokenizer pattern,
    * minus its trailing-space lookahead so the same pattern runs identically
    * under RE2-based engines): English contractions, letter runs, digit
    * runs, punctuation runs, each optionally absorbing one leading space.
    * Pre-tokens are the units BPE merges operate on, so their count is the
    * standard corpus-budget estimator. The whitespace exclusion in the
    * punctuation-run class is spelled as the explicit RE2 `\s` set
    * `[ \t\n\f\r]` (Spark evaluates this pattern under Java regex, whose
    * `\s` also admits U+000B; the oracle's RE2 `[^\s...]` does not).
    */
  val BpePretokenPattern: String =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+"""

  /** All BPE pre-tokens (leading space retained, as BPE vocabularies do). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePretokenPattern), lit(0))

  /** BPE pre-token count as one codegen regexp pass (no array build). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePretokenPattern))

  /** Distinct word n-gram shingles — native single-pass expression
    * ([[graft.expr.WordShingles]]); the equivalent HOF chain evaluates
    * interpreted and dominated the dedup pipelines.
    */
  def wordShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expr.WordShingles(org.apache.spark.sql.GraftColumnBridge.expression(text), n)
    )

  // MinHash signatures/bands live in graft.dedup.Dedup as DataFrame-level
  // explode + aggregate stages (map-side combinable, codegen'd) — a scalar
  // HOF formulation here would evaluate interpreted; see BENCH history.

  /** 64-bit SimHash over (frequency-weighted) tokens: per bit position,
    * sum ±1 across token hashes, take the sign bit.
    */
  def simhash64(text: Column): Column = {
    val toks = tokens(text)
    val counters = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) =>
        zip_with(
          acc,
          transform(
            sequence(lit(0), lit(63)),
            i =>
              when(call_function("shiftright", xxhash64(t), i).bitwiseAND(lit(1L)) === 1L, 1L)
                .otherwise(-1L)
          ),
          (a, b) => a + b
        )
    )
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, i) =>
        acc + when(
          element_at(counters, (i + 1).cast("int")) > 0L,
          call_function("shiftleft", lit(1L), i)
        ).otherwise(0L)
    )
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** n-gram-heuristic language ID: score each profile by stopword hits,
    * return the argmax (first wins ties). Deterministic, dictionary-driven.
    */
  def langId(text: Column, profiles: Seq[(String, Seq[String])] = defaultProfiles): Column = {
    val toks = tokens(text)
    val scores = profiles.map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    scores.foldRight(lit("und"): Column) { case ((lang, score), rest) =>
      val isMax = scores.map(_._2).map(score >= _).reduce(_ && _)
      when(isMax && score > 0, lit(lang)).otherwise(rest)
    }
  }

  /** Common-stopword profiles (public lists, truncated to 10/lang). */
  val defaultProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "est", "je", "de", "pas"),
    "es" -> Seq("el", "los", "y", "esta", "una", "es", "que", "no", "por", "como")
  )

  /** Quality ratios used for corpus filtering: mean word length ×100 and
    * whitespace ratio ×1000, as integers for deterministic comparison.
    */
  def meanWordLenC(text: Column): Column =
    round(lit(100.0) * length(text) / size(tokens(text))).cast("long")

  def spaceRatioC(text: Column): Column =
    round(
      lit(1000.0) * (length(text) - length(translate(text, " ", ""))) / length(text)
    ).cast("long")

  /** Duplicate-word fraction ×1000 (repetition quality signal, the
    * word-level analogue of the published duplicate-line filters):
    * 1 − distinct/total tokens.
    */
  def dupWordFractionC(text: Column): Column = {
    val toks = tokens(text)
    round(lit(1000.0) * (size(toks) - size(array_distinct(toks))) / size(toks)).cast("long")
  }

  /** PII patterns for corpus scrubbing — RE2-compatible (no lookaround), so
    * external engines can replay the exact same redaction for audits.
    * Public, standard shapes: emails, IPv4 addresses, US-style phone
    * numbers, 13-19-digit card-like number runs.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """\b(?:\d{1,3}\.){3}\d{1,3}\b""" -> "<IP>",
    """\b\d{3}[-. ]\d{3}[-. ]\d{4}\b""" -> "<PHONE>",
    """\b\d{13,19}\b""" -> "<CARD>"
  )

  /** Redact PII in order (each pattern applied globally). Pure codegen
    * regexp passes — at corpus scale this is a map-only stage on the scan.
    */
  def redactPii(text: Column, patterns: Seq[(String, String)] = PiiPatterns): Column =
    patterns.foldLeft(text) { case (c, (pat, repl)) => regexp_replace(c, pat, repl) }

  /** Count of PII matches across the pattern set (pre-redaction), for
    * corpus audit metrics.
    */
  def piiCount(text: Column, patterns: Seq[(String, String)] = PiiPatterns): Column = {
    // count sequentially on the progressively-redacted text so overlapping
    // pattern classes (an IP inside a longer number run) aren't double-counted
    val (total, _) = patterns.foldLeft((lit(0): Column, text)) {
      case ((acc, cur), (pat, repl)) =>
        (acc + regexp_count(cur, lit(pat)), regexp_replace(cur, pat, repl))
    }
    total
  }

  /** Document fingerprint (winnowing-lite): md5 of the 8 lexicographically
    * smallest md5'd shingles — stable under shingle reordering, portable
    * across engines (md5 everywhere).
    */
  def fingerprint(text: Column, n: Int = 3): Column = {
    val hashed = array_sort(transform(wordShingles(text, n), s => md5(s.cast("binary"))))
    md5(concat_ws("", slice(hashed, 1, 8)).cast("binary"))
  }
}
