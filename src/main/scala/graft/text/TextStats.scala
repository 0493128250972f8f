package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale corpus pipelines: token
  * counting, quality scoring, language ID, fingerprinting.
  *
  * These extend the reference's string surface (SURVEY §2.8) with the
  * operations an LLM training-data pipeline runs over billions of
  * documents. Everything is a Catalyst expression — no UDFs — so the whole
  * feature-extraction stage stays in one codegen'd scan: at 100 TB this is
  * a single pass over the corpus with no shuffle at all.
  */
object TextStats {

  /** Whitespace tokens (single-space convention of the corpus). */
  def tokens(c: Column): Column = split(c, " ")

  /** NON-EMPTY whitespace tokens — value-identical to
    * `filter(split(c, " "), w -> w != "")` but a single codegen'd pass
    * (`NgramList(c, 1)`): the composed form's ArrayFilter is
    * CodegenFallback and drops any enclosing Generate stage out of
    * whole-stage codegen. Use this for every `explode(tokens)` consumer.
    */
  def tokensNonEmpty(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      NgramList(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), 1))

  /** [[tokensNonEmpty]] on the JVM: the space-separated non-empty tokens
    * of `s`, in order. The one tokenizer of [[ShingleSet]], [[NgramList]],
    * [[SlidingChunkSet]], [[CdcChunkSet]], [[PhraseHits]],
    * [[RepStatsExpr]], [[BigramLmScore]] and the bigram-LM fit.
    */
  private[text] def words(s: String): java.util.ArrayList[String] = {
    val toks = new java.util.ArrayList[String]()
    var i = 0
    while (i < s.length) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = s.length
      if (j > i) toks.add(s.substring(i, j))
      i = j + 1
    }
    toks
  }

  /** The `n` tokens of `toks` from `from`, space-joined ("" for n ≤ 0). */
  private[text] def gram(toks: java.util.List[String], from: Int, n: Int): String =
    if (n <= 0) ""
    else if (n == 1) toks.get(from)
    else String.join(" ", toks.subList(from, from + n))

  def nTokens(c: Column): Column = size(tokens(c))

  def nChars(c: Column): Column = length(c)

  /** BPE-ish regex token count: alpha runs and digit runs count
    * separately (the usual pre-tokenizer split).
    */
  def regexTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+"), lit(0)))

  /** Mean token length in characters. */
  def avgTokenLen(c: Column): Column =
    length(regexp_replace(c, " ", "")).cast("double") / nTokens(c)

  /** Fraction of characters that are ASCII letters. */
  def alphaRatio(c: Column): Column =
    length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") / length(c)

  /** Fraction of tokens that are stopwords (tiny embedded list). */
  val stopwords: Seq[String] = Seq("a", "an", "the", "and", "or", "of", "in", "to", "is")

  def stopwordRatio(c: Column): Column = {
    val sw = typedLit(stopwords)
    size(filter(tokens(c), t => array_contains(sw, t))).cast("double") / nTokens(c)
  }

  /** Composite quality score in [0,1]-ish: rewards mid-length tokens and
    * presence of stopwords, penalizes very short docs. Deterministic,
    * SQL-expressible (mirrored in the oracle). Native one-pass
    * expression ([[QualityScoreExpr]]); [[qualityScoreComposed]] is the
    * differential twin.
    */
  def qualityScore(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(QualityScoreExpr(ColumnBridge.expression(c)))
  }

  /** Composed-expression twin of [[qualityScore]]. */
  def qualityScoreComposed(c: Column): Column =
    least(nTokens(c).cast("double") / 100.0, lit(1.0)) * 0.4 +
      stopwordRatio(c) * 0.3 +
      least(avgTokenLen(c) / 8.0, lit(1.0)) * 0.3

  /** Character n-gram profiles per language — tiny embedded stand-ins
    * for real trigram frequency tables (a production pipeline swaps in
    * fastText via the same column-in/column-out shape). Marker TOKENS are
    * included as word-boundary n-grams.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", "th", "ing"),
    "de" -> Seq(" der ", " und ", " die ", "sch", "ei"),
    "fr" -> Seq(" le ", " et ", " les ", "ou", "eau"),
    "es" -> Seq(" el ", " y ", " los ", "ll", "ción"))

  /** Occurrences of substring `g` in `c`:
    * (len(c) - len(replace(c, g, ''))) / len(g) — identical formula in
    * any SQL dialect, so the oracle can mirror it verbatim.
    */
  def ngramCount(c: Column, g: String): Column =
    (length(c) - length(replace(c, lit(g), lit("")))) / g.length

  /** Heuristic language ID: CJK script detection, then char-n-gram
    * profile votes over the padded text; ties resolved by fixed
    * priority en > de > fr > es.
    */
  def langId(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(c)))
  }

  /** Composed-expression twin of [[langId]] (differential-tested). */
  def langIdComposed(c: Column): Column = {
    val padded = concat(lit(" "), c, lit(" "))
    val scores = langProfiles.map { case (lang, grams) =>
      lang -> grams.map(g => ngramCount(padded, g)).reduce(_ + _)
    }.toMap
    val (en, de, fr, es) = (scores("en"), scores("de"), scores("fr"), scores("es"))
    when(c.rlike("[一-鿿]"), "zh")
      .when(de > en && de > fr && de > es, "de")
      .when(fr > en && fr > de && fr > es, "fr")
      .when(es > en && es > de && es > fr, "es")
      .otherwise("en")
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase
    * text — the exact-dedup key at corpus scale (hash-groupBy, one
    * shuffle of 16-byte keys instead of full documents).
    */
  def fingerprint(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    md5(ColumnBridge.column(NormalizeWs(
      ColumnBridge.expression(trim(lower(c))))))
  }

  /** Composed twin of [[fingerprint]] (regex normalization). */
  def fingerprintComposed(c: Column): Column =
    md5(regexp_replace(trim(lower(c)), "\\s+", " "))
}
