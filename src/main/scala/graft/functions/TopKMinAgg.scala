package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** k-smallest-distinct-strings as a typed mergeable [[Aggregator]]:
  * a sorted ≤k array with an associative merge, output as the kept
  * keys. This is what makes a deterministic reservoir sample a
  * STREAMING state: ≤k keys per group at any input volume, merged
  * across partitions and microbatches in any order to the identical
  * result. [[KmvAgg.kmv]] is these keys plus a cardinality estimate.
  */
class TopKMinAgg(k: Int) extends Aggregator[String, Array[String], Array[String]] {

  override def zero: Array[String] = Array.empty

  override def reduce(buf: Array[String], h: String): Array[String] = {
    if (h == null) return buf
    if (buf.length == k && buf(k - 1) <= h) return buf
    val pos = java.util.Arrays.binarySearch(buf.asInstanceOf[Array[AnyRef]], h)
    if (pos >= 0) return buf
    val ins = -pos - 1
    val n = math.min(buf.length + 1, k)
    val out = new Array[String](n)
    System.arraycopy(buf, 0, out, 0, ins)
    out(ins) = h
    System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
    out
  }

  override def merge(a: Array[String], b: Array[String]): Array[String] = {
    val out = new Array[String](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var n = 0
    var last: String = null
    while (n < out.length && (i < a.length || j < b.length)) {
      val take =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val v = a(i); i += 1; v }
        else { val v = b(j); j += 1; v }
      if (take != last) { out(n) = take; n = n + 1; last = take }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  override def finish(buf: Array[String]): Array[String] = buf

  override def bufferEncoder: Encoder[Array[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[String]]()
  override def outputEncoder: Encoder[Array[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[String]]()
}

object TopKMinAgg {
  def topkMin(keyCol: Column, k: Int): Column =
    udaf(new TopKMinAgg(k), Encoders.STRING).apply(keyCol)
}
