package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: tokenization,
  * counting, language ID, quality scoring, content fingerprinting.
  *
  * Everything here is a pure `Column` expression (codegen'd, portable to a
  * SQL oracle); the non-SQL-expressible fingerprints live in
  * [[graft.plans.Expressions]]. All counting tricks use only
  * replace/length/regexp arithmetic so an external engine computes bit-equal
  * results.
  */
object TextOps {

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish lexical token count: alpha runs, digit runs, single punctuation.
    * The regex is RE2-safe so external engines (DuckDB) count identically. */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  /** Non-overlapping occurrence count of ` word ` in ` lower(text) `,
    * via the replace/length trick — exact integer arithmetic, portable. */
  def wordOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val pat = s" $word "
    (length(padded) - length(replace(padded, lit(pat), lit("")))) / lit(pat.length)
  }

  /** Language-marker stopword sets for the n-gram-heuristic language ID.
    * Deliberately small and disjoint; extend per corpus. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "que", "los"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("的", "是", "了"))

  def langScore(text: Column, words: Seq[String]): Column =
    words.map(w => wordOccurrences(text, w)).reduce(_ + _)

  /** Predicted language = argmax of marker scores, ties broken by the
    * declaration order of [[LangMarkers]] (deterministic).
    *
    * Built as a FLAT `coalesce(when(s_i === mx, l_i)…)`: an earlier fold of
    * `when(acc.isNotNull, acc).otherwise(…)` referenced `acc` twice per
    * language, duplicating every score subtree exponentially (2^|langs|
    * copies — 45 s/query at high parallelism). The flat form is linear and
    * whole-stage-codegen subexpression elimination collapses the repeated
    * score trees. */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, ws) => l -> langScore(text, ws) }
    val mx = greatest(scores.map(_._2): _*)
    coalesce(scores.map { case (l, s) => when(s === mx, lit(l)) }: _*)
  }

  /** Characters that are neither alphanumeric nor whitespace. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  def nonWsCharCount(text: Column): Column =
    length(regexp_replace(text, "\\s", ""))

  /** Composite quality score on a 0–1000 integer scale: length saturation
    * + stopword density − punctuation density, with weights mirroring
    * common pretraining-data heuristics. ONLY integer arithmetic
    * (no floating point): score components are `(weight * saturated) DIV
    * denominator`. Bit-identical in any engine — rational weights like 0.4
    * frequently land float results exactly on rounding boundaries, where
    * engines legitimately disagree; integers cannot. */
  def qualityScoreMilli(text: Column): Column = {
    val nChars = length(text).cast("long")
    val nToks = tokenCount(text).cast("long")
    val stop = langScore(text, Seq("the", "a", "of", "and", "is")).cast("long")
    val punct = punctCount(text).cast("long")
    def idiv(a: Column, b: Column): Column = (a / b).cast("long")
    idiv(lit(400L) * least(nChars, lit(500L)), lit(500L)) +
      idiv(lit(300L) * least(stop * 5, nToks), nToks) +
      lit(300L) - idiv(lit(300L) * least(punct * 10, nChars), nChars)
  }

  /** Portable content fingerprint: md5 of whitespace-normalized lowercase
    * text. Identical-content docs collide exactly; used by
    * [[graft.dedup.Dedup.fingerprintDedup]]. */
  def contentFingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")).cast("binary"))

  /** Gopher-style repetition counters: total vs distinct word n-grams of a
    * doc, as a struct of two BIGINTs. Pure integer outputs — the
    * duplicate-fraction ratio derives downstream (see
    * [[graft.SparkEntry]] q67) with integer DIV, so no float-rounding
    * hazard can reach an oracle compare. The token array binds through a
    * one-element `transform` lambda (Catalyst does not CSE into
    * higher-order-function lambdas — see [[graft.dedup.Dedup.shingles]]).
    */
  def repetitionStats(text: Column, n: Int): Column =
    element_at(transform(array(tokens(text)), tk => {
      val total = greatest(size(tk) - (n - 1), lit(0))
      val grams =
        if (n == 1) tk
        else when(size(tk) >= n,
          transform(sequence(lit(1), size(tk) - (n - 1)),
            i => array_join(slice(tk, i, lit(n)), " ")))
          .otherwise(lit(Array.empty[String]))
      struct(total.cast("long").as("total"),
        size(array_distinct(grams)).cast("long").as("distinct"))
    }), 1)

  /** PII patterns, deliberately RE2-safe (character classes and bounded
    * quantifiers only — no backrefs/lookaround) so Java and RE2 engines
    * match identically. Phone requires a leading '+' to stay precise on
    * numeric prose. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9][0-9-]{7,}"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhonePattern))

  /** Redaction for training corpora: emails → [EMAIL], phones → [PHONE].
    * Order matters — emails first, so a '+'-prefixed local part is consumed
    * as an email before the phone pattern can see its digits. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")
}
