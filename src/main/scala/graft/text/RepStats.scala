package graft.text

import graft.functions.NativeUnary
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher-style repetition statistics — the standard quality filters for
  * training-data curation (duplicate-word fraction, most-common-n-gram
  * fraction; cf. Rae et al. 2021 "Scaling Language Models" §A.1.1 and
  * the RefinedWeb/CCNet filtering recipes).
  *
  * One pass per document, zero shuffles: repetition stats are per-row
  * functions, so at 100 TB this is scan-stage work that scales linearly
  * with executors — the composed explode→groupBy formulation would
  * shuffle every n-gram of every document for a per-document answer.
  *
  * Returns a fixed 6-long array:
  * {{{
  *   [ n_words,     // whitespace tokens, empties dropped
  *     n_distinct,  // distinct words
  *     top2, n2,    // max 2-gram multiplicity, total 2-gram count
  *     top3, n3 ]   // max 3-gram multiplicity, total 3-gram count
  * }}}
  * Fractions (dup_word_frac = 1 - n_distinct/n_words, topk_frac =
  * topk/nk) are left to the caller as Column arithmetic on the integers
  * so the oracle computes them in SQL from the same counts.
  */
case class RepStatsExpr(child: Expression) extends NativeUnary[UTF8String] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rep_stats"

  def compute(text: UTF8String): GenericArrayData = {
    // tokens: split on single space, drop empties (the Shingles
    // contract — whitespace runs are not word material)
    val words = TextStats.words(text.toString)
    val n = words.size

    // intern words to dense ids so the n-gram keys are packed longs,
    // not concatenated strings
    val ids = new scala.collection.mutable.HashMap[String, Int]()
    val wid = new Array[Int](n)
    var i = 0
    while (i < n) {
      wid(i) = ids.getOrElseUpdate(words.get(i), ids.size)
      i += 1
    }
    val nDistinct = ids.size

    var top2 = 0L
    val n2 = math.max(n - 1, 0)
    if (n2 > 0) {
      val m = new scala.collection.mutable.HashMap[Long, Int]()
      i = 0
      while (i < n - 1) {
        val k = (wid(i).toLong << 32) | (wid(i + 1).toLong & 0xffffffffL)
        val c = m.getOrElse(k, 0) + 1
        m.update(k, c)
        if (c > top2) top2 = c
        i += 1
      }
    }

    var top3 = 0L
    val n3 = math.max(n - 2, 0)
    if (n3 > 0) {
      // ids fit in 21 bits for any realistic document (vocab < 2M);
      // fall back to a string key only if they don't
      if (nDistinct < (1 << 21)) {
        val m = new scala.collection.mutable.HashMap[Long, Int]()
        i = 0
        while (i < n - 2) {
          val k = (wid(i).toLong << 42) | (wid(i + 1).toLong << 21) | wid(i + 2).toLong
          val c = m.getOrElse(k, 0) + 1
          m.update(k, c)
          if (c > top3) top3 = c
          i += 1
        }
      } else {
        val m = new scala.collection.mutable.HashMap[(Int, Int, Int), Int]()
        i = 0
        while (i < n - 2) {
          val k = (wid(i), wid(i + 1), wid(i + 2))
          val c = m.getOrElse(k, 0) + 1
          m.update(k, c)
          if (c > top3) top3 = c
          i += 1
        }
      }
    }

    new GenericArrayData(Array[Any](n.toLong, nDistinct.toLong, top2, n2.toLong, top3, n3.toLong))
  }

  override protected def withNewChildInternal(newChild: Expression): RepStatsExpr =
    copy(child = newChild)
}

object RepStats {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** `[n_words, n_distinct, top2, n2, top3, n3]` as array<long>. */
  def stats(text: Column): Column =
    ColumnBridge.column(RepStatsExpr(ColumnBridge.expression(text)))

  /** Driver-side reference fold — the differential-testing twin
    * (Round6Spec pins `stats` against this on real and random corpora).
    */
  def reference(text: String): Seq[Long] = {
    val words = text.split(" ").filter(_.nonEmpty).toSeq
    val n = words.length
    def topAndTotal(k: Int): (Long, Long) = {
      if (n < k) (0L, 0L)
      else {
        val grams = words.sliding(k).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).map(_._2.size)
        (counts.max.toLong, grams.size.toLong)
      }
    }
    val (t2, c2) = topAndTotal(2)
    val (t3, c3) = topAndTotal(3)
    Seq(n.toLong, words.distinct.size.toLong, t2, c2, t3, c3)
  }
}
