package graft.text

import graft.functions.NativeUnary
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-phrase occurrence counts over the space-delimited token stream
  * (split on U+0020 only — the repo-wide `split(' ')` convention shared
  * with the DuckDB oracles; tabs/newlines do NOT delimit tokens) — ONE
  * pass per document for the WHOLE phrase lexicon (blocklist filtering,
  * policy lexicons, boilerplate markers).
  *
  * A phrase is a space-joined token sequence ("slow query"); a hit is a
  * token-aligned occurrence (substring matches inside a token do NOT
  * count — `functions/StringOps` `contains` is the char-level op).
  * Matching is first-token indexed: tokens stream once, and only
  * phrases whose first token equals the current token are extended —
  * the P·L worst case never materializes P scans of the text the way a
  * composed `size(split(text, phrase)) - 1` chain (or P regexes) does,
  * and nothing leaves the expression but the int[P] counts.
  *
  * Reference behavior anchor: the reference exposes only char-level
  * `str.contains` (legate.pandas `core/series.py` string ops); the
  * token-aligned lexicon matcher is the training-data-curation
  * extension (badword/policy filters over token streams).
  *
  * Returns array<int> of length `phrases.size`, counts in lexicon
  * order. Overlapping occurrences all count ("a a a" has two hits of
  * "a a"): each start position is tested independently, matching the
  * n-gram-equality oracle replay.
  */
case class PhraseHits(child: Expression, phrases: Seq[String])
    extends NativeUnary[UTF8String] {

  require(phrases.nonEmpty && phrases.forall(_.trim.nonEmpty),
    "phrase lexicon must be non-empty")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "phrase_hits"

  // first-token index: token -> [(phrase idx, token seq), ...]
  @transient private lazy val byFirst: java.util.HashMap[String, Array[(Int, Array[String])]] = {
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[(Int, Array[String])]]()
    phrases.zipWithIndex.foreach { case (p, i) =>
      val toks = p.split(' ').filter(_.nonEmpty)
      val b = m.computeIfAbsent(toks.head,
        _ => scala.collection.mutable.ArrayBuffer.empty[(Int, Array[String])])
      b += ((i, toks))
    }
    val out = new java.util.HashMap[String, Array[(Int, Array[String])]]()
    m.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  def compute(text: UTF8String): ArrayData = {
    val toks = TextStats.words(text.toString)
    val n = toks.size
    val counts = new Array[Int](phrases.size)
    var p = 0
    while (p < n) {
      val cands = byFirst.get(toks.get(p))
      if (cands != null) {
        var c = 0
        while (c < cands.length) {
          val (idx, seq) = cands(c)
          if (p + seq.length <= n) {
            var t = 1 // first token already matched via the index
            while (t < seq.length && toks.get(p + t) == seq(t)) t += 1
            if (t == seq.length) counts(idx) += 1
          }
          c += 1
        }
      }
      p += 1
    }
    new GenericArrayData(counts.map(Int.box(_): Any))
  }

  override protected def withNewChildInternal(c: Expression): PhraseHits =
    copy(child = c)
}
