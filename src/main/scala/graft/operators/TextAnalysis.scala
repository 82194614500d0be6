package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. All column-expression
  * based (whole-stage codegen, no UDFs) and integer-arithmetic where results
  * feed the DuckDB oracle, so cross-engine comparison is exact.
  */
object TextAnalysis {

  /** Whitespace tokens of a text column (empty tokens dropped). NOTE: Java's
    * `\s` also matches vertical tab U+000B while RE2's (DuckDB oracle) does
    * not — harmless on the driver corpora (no U+000B), but use an explicit
    * class like [[BpeWs]] where exact cross-engine parity must be guaranteed.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"),
    "es" -> Seq("el", "los", "y", "es", "un", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "不")
  )

  /** Per-language stopword hit count (n-gram-free heuristic language ID). */
  def stopwordHits(text: Column, lang: String): Column = {
    val words = stopwords.toMap.apply(lang)
    size(filter(tokens(text), t => t.isin(words.map(lit(_)): _*)))
  }

  /** Heuristic language ID: argmax of stopword hits, ties broken in the
    * fixed order en > de > fr > es > zh; "und" (undetermined) when no
    * stopword matches at all.
    */
  def languageId(text: Column): Column = {
    val scores = stopwords.map { case (lang, _) => lang -> stopwordHits(text, lang) }
    val best   = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, score), acc) =>
      when(score === best && best > 0, lit(lang)).otherwise(acc)
    } // foldRight: earlier languages win ties (en > de > ...)
  }

  /** Token/character statistics + an integer-arithmetic quality gate:
    * docs with 5..100000 tokens and distinct/total token ratio >= 1/5.
    */
  def withQuality(df: DataFrame, text: Column): DataFrame = {
    df.withColumn("toks", tokens(text))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct_tokens", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("max_token_len",
        coalesce(array_max(transform(col("toks"), t => length(t))), lit(0)).cast("long"))
      .withColumn("quality_ok",
        col("n_tokens") >= 5 && col("n_tokens") <= 100000 &&
          col("n_distinct_tokens") * 5 >= col("n_tokens"))
      .drop("toks")
  }

  /** GPT-2-style ("BPE-ish") pre-tokenization pattern: contraction suffixes,
    * letter runs, digit runs, punctuation runs — each optionally absorbing a
    * leading space — plus residual whitespace runs. Deliberately restricted
    * to a syntax both java.util.regex (Spark) and RE2 (DuckDB oracle)
    * evaluate identically: no lookarounds, no unicode classes, and
    * whitespace spelled as the explicit class `[ \t\n\f\r]` — Java's `\s`
    * also matches vertical tab U+000B while RE2's does not, so the
    * shorthand would diverge on documents containing one. The real GPT-2
    * pattern's `\s+(?!\S)` lookahead is dropped; residual whitespace
    * matches are filtered out of the count instead.
    */
  final val BpeWs: String = "[ \\t\\n\\f\\r]"
  final val BpeTokenPattern: String =
    s"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^ \\t\\n\\f\\ra-zA-Z0-9]+|$BpeWs+"

  /** BPE-ish token count: matches of [[BpeTokenPattern]] that are not pure
    * whitespace. Column-expression only (codegen'd regexp_extract_all).
    */
  def bpeTokenCount(text: Column): Column =
    size(filter(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)),
      t => !t.rlike(s"^$BpeWs+$$"))).cast("long")

  /** Deterministic rolling-hash document fingerprint over token lengths:
    * acc = (acc * 31 + len(token) + 1) mod 2^31-1 — a classic polynomial
    * rolling hash, chosen over token *contents* so the identical recurrence
    * is expressible in ANSI SQL for the oracle.
    */
  def lengthFingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => (length(t) + 1).cast("long")),
      lit(0L),
      (acc, x) => pmod(acc * 31L + x, lit(2147483647L))
    )
}
