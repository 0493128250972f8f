package graft.text

import graft.functions.NativeUnary
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass winnowed fingerprint set (see [[Fingerprint]] scaladoc):
  * hash every k-char gram (first 16 hex chars of md5), slide a window of
  * `w` gram hashes with a monotonic deque (O(1) amortized per position),
  * emit the distinct window minima in first-occurrence order.
  *
  * Semantically identical to the composed explode → partitioned-window →
  * distinct pipeline ([[Fingerprint.fingerprints]]) but entirely
  * scan-stage: no explode multiplying rows by document length, no
  * shuffle on doc_id, no window sort — the per-document O(len) loop runs
  * inside whole-stage codegen where the 100 TB path wants it.
  * Round5Spec pins the equivalence against both the composed pipeline
  * and a plain-Scala fold.
  */
case class WinnowSet(child: Expression, k: Int, w: Int)
    extends NativeUnary[UTF8String] {

  require(k >= 1 && w >= 1, "k and w must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_set"

  def compute(text: UTF8String): ArrayData =
    new GenericArrayData(WinnowSet.minima(text.toString, k, w).map(WinnowSet.hex16(_): Any))

  override protected def withNewChildInternal(c: Expression): WinnowSet =
    copy(child = c)
}

object WinnowSet {
  private val HEX = "0123456789abcdef".toCharArray
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The one winnow kernel of [[WinnowSet]] and [[WinnowSetLong]]: each
    * k-char gram's hash is the first 8 bytes of md5 of its UTF-8 bytes,
    * read as a big-endian unsigned long (its 16 hex chars are
    * md5(substr(text, i, k)) in Spark SQL and DuckDB); returns the
    * distinct minima of every w-gram window in first-occurrence order.
    * Unsigned order is the hex strings' lexicographic order.
    */
  private[text] def minima(s: String, k: Int, w: Int): Array[Long] = {
    val nGrams = s.length - k + 1
    if (nGrams - w + 1 <= 0) return Array.emptyLongArray
    val md = digest.get()
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      val d = md.digest(s.substring(i, i + k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      hashes(i) = h
      i += 1
    }
    // sliding window minimum via monotonic deque of indices
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // exclusive
    i = 0
    while (i < nGrams) {
      // drop indices that left the window [i-w+1, i]
      while (head < tail && deque(head) <= i - w) head += 1
      // drop larger values from the back: for equal hashes the EARLIEST
      // index must win (the SQL window min is value-identical either way)
      while (head < tail &&
        java.lang.Long.compareUnsigned(hashes(deque(tail - 1)), hashes(i)) > 0) tail -= 1
      deque(tail) = i
      tail += 1
      if (i >= w - 1) seen.add(hashes(deque(head)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    out
  }

  /** `h` as 16 lower-case hex chars, zero-padded. */
  private def hex16(h: Long): UTF8String = {
    val c = new Array[Char](16)
    var i = 0
    while (i < 16) { c(i) = HEX(((h >>> (60 - 4 * i)) & 0xf).toInt); i += 1 }
    UTF8String.fromString(new String(c))
  }
}

/** [[WinnowSet]] with PRIMITIVE LONG output: the same first-8-bytes-of-
  * md5 gram hash, not rendered to 16 hex chars. The mapping hex-string →
  * long is bijective and hex lexicographic order == unsigned numeric
  * order, so the emitted fingerprint SET is exactly
  * `parseHex(WinnowSet(...))` (pinned in Round6Spec).
  *
  * Why it exists: downstream inverted-index operators (q169) shuffle on
  * the fingerprint — an 8-byte primitive key hash-aggregates in
  * Tungsten's primitive fast path and shuffles ~3× fewer bytes than a
  * 16-char UTF8String, and the hex render allocation disappears from
  * the scan. Keep the string variant where an external SQL oracle must
  * replay the hash (`substr(md5(..),1,16)`).
  */
case class WinnowSetLong(child: Expression, k: Int, w: Int)
    extends NativeUnary[UTF8String] {

  require(k >= 1 && w >= 1, "k and w must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_set_long"

  def compute(text: UTF8String): ArrayData =
    new GenericArrayData(WinnowSet.minima(text.toString, k, w))

  override protected def withNewChildInternal(c: Expression): WinnowSetLong =
    copy(child = c)
}
