package graft.text

import graft.functions.NativeUnary
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass text-scoring expressions.
  *
  * The composed forms in [[TextStats]] build each feature from
  * replace/split/filter chains — ~20 intermediate string allocations per
  * row for langId alone. Each expression here computes the IDENTICAL
  * value (same integer counts, same double fold order, pinned by
  * TextSpec differentials and the DuckDB oracle gate) in a single scan
  * of the string.
  */

/** Number of non-overlapping occurrences of `g` in `s` — equals
  * (length(s) - length(replace(s, g, ''))) / length(g), the left-to-right
  * removal semantics of SQL replace().
  */
private[text] object Occ {
  def count(s: String, g: String): Int = {
    var n = 0
    var i = s.indexOf(g)
    while (i >= 0) { n += 1; i = s.indexOf(g, i + g.length) }
    n
  }
}

/** Heuristic language ID — native twin of [[TextStats.langId]]:
  * CJK script check on the raw text, then char-n-gram profile votes on
  * the space-padded text with fixed priority en > de > fr > es.
  */
case class LangIdExpr(child: Expression) extends NativeUnary[UTF8String] {

  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  private lazy val profiles: Seq[(String, Seq[String])] = TextStats.langProfiles

  def compute(text: UTF8String): UTF8String = {
    val raw = text.toString
    // rlike "[一-鿿]" — any char in U+4E00..U+9FFF
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c >= '一' && c <= '鿿') return UTF8String.fromString("zh")
      i += 1
    }
    val p = " " + raw + " "
    // per-gram count is exact; Σ of integer-valued doubles is
    // associativity-free below 2^53, so Double scores match the
    // composed (length-diff)/len sum bit for bit
    val s = profiles.map { case (lang, grams) =>
      lang -> grams.map(g => Occ.count(p, g).toDouble).sum
    }.toMap
    val (en, de, fr, es) = (s("en"), s("de"), s("fr"), s("es"))
    val out =
      if (de > en && de > fr && de > es) "de"
      else if (fr > en && fr > de && fr > es) "fr"
      else if (es > en && es > de && es > fr) "es"
      else "en"
    UTF8String.fromString(out)
  }

  override protected def withNewChildInternal(c: Expression): LangIdExpr =
    copy(child = c)
}

/** Whitespace-run normalization — native twin of
  * `regexp_replace(s, "\\s+", " ")` (Java regex \s = [ \t\n\x0B\f\r]).
  * Feeds the md5 fingerprint without the regex engine.
  */
case class NormalizeWs(child: Expression) extends NativeUnary[UTF8String] {

  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_ws"

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) {
        sb.append(' ')
        while (i < s.length && isWs(s.charAt(i))) i += 1
      } else { sb.append(c); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(c: Expression): NormalizeWs =
    copy(child = c)
}

/** Composite quality score — native twin of [[TextStats.qualityScore]]:
  *   least(nTokens/100, 1)·0.4 + stopRatio·0.3 + least(avgTokLen/8, 1)·0.3
  * with the exact same token convention (split on single space, empty
  * tokens COUNT) and double fold order.
  */
case class QualityScoreExpr(child: Expression) extends NativeUnary[UTF8String] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score"

  private lazy val stop: java.util.HashSet[String] = {
    val h = new java.util.HashSet[String]()
    TextStats.stopwords.foreach(h.add)
    h
  }

  def compute(text: UTF8String): Double = {
    val s = text.toString
    // split(s, " ") semantics: nTokens = #spaces + 1, empties included
    var nTok = 1
    var nonSpace = 0
    var nStop = 0
    var start = 0
    var i = 0
    def token(end: Int): Unit = {
      if (end > start && stop.contains(s.substring(start, end))) nStop += 1
      // empty tokens are counted in nTok but can't be stopwords
    }
    while (i < s.length) {
      if (s.charAt(i) == ' ') { token(i); nTok += 1; start = i + 1 }
      else nonSpace += 1
      i += 1
    }
    token(s.length)
    val lengthPart = math.min(nTok.toDouble / 100.0, 1.0) * 0.4
    val stopPart = (nStop.toDouble / nTok.toDouble) * 0.3
    val lenPart = math.min((nonSpace.toDouble / nTok.toDouble) / 8.0, 1.0) * 0.3
    lengthPart + stopPart + lenPart
  }

  override protected def withNewChildInternal(c: Expression): QualityScoreExpr =
    copy(child = c)
}

/** One-pass per-term token counts + document length — the BM25 scan
  * kernel. Output array = [tf(terms(0)) … tf(terms(k-1)), dl] as
  * doubles, with the exact split(' ') token convention (empty tokens
  * count toward dl, never toward a tf). One tokenization however many
  * terms; the composed twin (size(filter(split…)) per term) allocates
  * the token array per term per use and is CodegenFallback — this is
  * a single codegen'd pass with zero intermediate allocation.
  */
case class TermCountsExpr(child: Expression, terms: Seq[String])
    extends NativeUnary[UTF8String] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "term_counts"

  @transient private lazy val idx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    terms.zipWithIndex.foreach { case (t, i) => m.put(t, Integer.valueOf(i)) }
    m
  }

  def compute(text: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val out = new Array[Double](terms.size + 1)
    var nTok = 1
    var start = 0
    var i = 0
    def token(end: Int): Unit = {
      if (end > start) {
        val j = idx.get(s.substring(start, end))
        if (j != null) out(j.intValue) += 1.0
      }
    }
    while (i < s.length) {
      if (s.charAt(i) == ' ') { token(i); nTok += 1; start = i + 1 }
      i += 1
    }
    token(s.length)
    out(terms.size) = nTok.toDouble
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): TermCountsExpr =
    copy(child = c)
}
