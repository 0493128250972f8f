package graft.text

import graft.functions.NativeUnary
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashed interpolated bigram language-model fluency scoring — the
  * CCNet-style "LM filter" stage of a curation pipeline (Wenzek et al.
  * 2020 score with a 5-gram KenLM; the hashed-feature reduction is the
  * same one DSIR applies to unigrams, see [[Dsir]]).  The reference
  * exposes no LM scoring; this is part of the training-data surface
  * beyond it.
  *
  * Shape for 100 TB:
  *   - model state is TWO constant-size bucket tables (64 unigram +
  *     256 bigram smoothed probabilities), counted in one map-side pass
  *     over the corpus and summed into the driver like any tiny
  *     dimension;
  *   - scoring is then a pure SCAN-stage fold per document: both maps
  *     ride the closure as literals and `aggregate(...)` runs inside
  *     whole-stage codegen — no join, no shuffle, no second pass over
  *     the text.
  *
  * Arithmetic discipline (same as [[Dsir]]): the score is the MEAN of
  * per-position interpolated bucket probabilities
  * `0.7·p_bi(prev,w) + 0.3·p_uni(w)` — a rational sum, not a log
  * perplexity, so every operation is an IEEE-exact-rounded add/mul/div
  * that a SQL oracle replays bit-for-bit (log would pull in libm ulp
  * differences).  Probabilities are add-1 smoothed over the bucket
  * space.  Fold is left-associated from 0.0, matching DuckDB's
  * `list_reduce` (0.0 + x ≡ x exactly for the positive first term).
  */
object BigramLm {

  val UniBuckets = 64
  val BiBuckets = 256
  val WBi = 0.7
  val WUni = 0.3

  /** md5-derived bucket (first 4 hex chars mod n) — replayable in
    * DuckDB as `CAST('0x'||substr(md5(s),1,4) AS INT) % n`.
    */
  private def bucket(s: Column, n: Int): Column =
    conv(substring(md5(s), 1, 4), 16, 10).cast("int") % n

  /** [[bucket]] on the JVM: the first two md5 bytes as a big-endian
    * 16-bit int, mod n. The fit and [[BigramLmScore]] both bucket here.
    */
  private[text] def bucketOf(md: java.security.MessageDigest, s: String, n: Int): Int = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % n
  }

  def uniBucket(w: Column): Column = bucket(w, UniBuckets)
  def biBucket(bg: Column): Column = bucket(bg, BiBuckets)

  private def tokens(text: Column): Column =
    graft.text.TextStats.tokensNonEmpty(text)

  /** "prev cur" strings for positions 2..n (empty below 2 tokens — the
    * `when` guards Spark's descending `sequence(2, 1)`).
    */
  def bigrams(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(2), size(toks)),
        i => concat(element_at(toks, i - 1), lit(" "), element_at(toks, i))))

  /** Smoothed bucket-probability tables from a training corpus:
    * p(b) = (c_b + 1) / (N + B) with N the total token (resp. bigram)
    * count.  O(64)+O(256) driver state.
    *
    * One map-side pass: each partition counts its tokens and bigrams
    * into one `long[64+256]` (unigram buckets, then bigram buckets), and
    * the arrays are summed in the same job. Null text counts nothing.
    */
  def tables(corpus: DataFrame, textCol: String): (Map[Int, Double], Map[Int, Double]) = {
    val counts = corpus.select(col(textCol)).queryExecution.toRdd
      .mapPartitions { rows =>
        val c = new Array[Long](UniBuckets + BiBuckets)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.filterNot(_.isNullAt(0)).foreach { r =>
          val t = TextStats.words(r.getUTF8String(0).toString)
          (0 until t.size).foreach { w =>
            c(bucketOf(md, t.get(w), UniBuckets)) += 1
            if (w > 0) c(UniBuckets + bucketOf(md, t.get(w - 1) + " " + t.get(w), BiBuckets)) += 1
          }
        }
        Iterator.single(c)
      }
      .fold(new Array[Long](UniBuckets + BiBuckets))((a, b) => a.zip(b).map { case (x, y) => x + y })
    val (uc, bc) = counts.splitAt(UniBuckets)
    val uTot = uc.sum.toDouble + UniBuckets
    val bTot = bc.sum.toDouble + BiBuckets
    ((0 until UniBuckets).map(b => b -> (uc(b) + 1.0) / uTot).toMap,
      (0 until BiBuckets).map(b => b -> (bc(b) + 1.0) / bTot).toMap)
  }

  /** Fluency score column: mean over positions 2..n of the interpolated
    * bucket probability.  Documents with fewer than 2 tokens score 0.
    *
    * Perf shape (measured r12): higher-order functions are interpreted
    * (CodegenFallback), and a lambda body re-evaluates every inlined
    * subtree per element — the original formulation recomputed
    * `split(text)` at each of the 3 token references PER POSITION
    * (O(n²·len)), and looked buckets up in map literals (O(buckets)
    * linear scan per position). Two structural fixes, same values:
    *   - bind the token array ONCE per row as a lambda variable
    *     (`transform(array(tokens), tk -> …)[1]` — poor man's `let`);
    *   - store the tables as array literals (O(1) `element_at`).
    * The per-position double arithmetic is unchanged, so scores stay
    * bit-identical to the oracle's list_reduce fold.
    */
  def score(text: Column, pu: Map[Int, Double], pb: Map[Int, Double]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(BigramLmScore(ColumnBridge.expression(text),
      (0 until UniBuckets).map(pu).toArray, (0 until BiBuckets).map(pb).toArray))
  }

  /** Composed-HOF differential twin of the native [[BigramLmScore]]
    * (BigramLmSpec pins bit-identity on the corpus + corner rows). */
  def scoreComposed(text: Column, pu: Map[Int, Double], pb: Map[Int, Double]): Column = {
    val puA = typedlit((0 until UniBuckets).map(pu))
    val pbA = typedlit((0 until BiBuckets).map(pb))
    element_at(
      transform(array(tokens(text)), tk => {
        val n = size(tk)
        when(n < 2, lit(0.0)).otherwise(
          aggregate(sequence(lit(2), n), lit(0.0), (acc, i) => {
            val bg = concat(element_at(tk, i - 1), lit(" "), element_at(tk, i))
            acc + (lit(WBi) * element_at(pbA, biBucket(bg) + 1)
              + lit(WUni) * element_at(puA, uniBucket(element_at(tk, i)) + 1))
          }) / (n - 1))
      }), 1)
  }
}

/** Native one-pass bigram-LM fluency score — the whole per-document
  * fold of [[BigramLm.scoreComposed]] in one JVM loop: tokenize,
  * md5-bucket each position's unigram and bigram, and accumulate the
  * interpolated probability, left-associated from 0.0 with EXACTLY the
  * composed form's rounding steps (0.7·pb + 0.3·pu per position; final
  * mean acc/(n−1)). The composed form evaluates interpreted (HOF
  * aggregate is CodegenFallback) with an md5 expression round-trip per
  * position; this is a MessageDigest call per position in a tight
  * loop. Bit-identical by BigramLmSpec.
  */
case class BigramLmScore(child: Expression, pu: Array[Double], pb: Array[Double])
    extends NativeUnary[UTF8String] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "bigram_lm_score"

  def compute(text: UTF8String): Double = {
    val toks = TextStats.words(text.toString)
    val n = toks.size
    if (n < 2) return 0.0
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0.0
    var w = 1
    while (w < n) {
      val cur = toks.get(w)
      val bg = toks.get(w - 1) + " " + cur
      // per-position rounding order matches the composed expression:
      // a = 0.7*pb; b = 0.3*pu; acc = acc + (a + b)
      acc = acc + (BigramLm.WBi * pb(BigramLm.bucketOf(md, bg, BigramLm.BiBuckets)) +
        BigramLm.WUni * pu(BigramLm.bucketOf(md, cur, BigramLm.UniBuckets)))
      w += 1
    }
    acc / (n - 1)
  }

  override protected def withNewChildInternal(c: Expression): BigramLmScore =
    copy(child = c)
}
