package graft.text

import graft.functions.NativeUnary
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 64-bit SimHash fingerprinting + hamming-block near-dup detection.
  *
  * SimHash of a token array: hash every token to 64 bits, accumulate a
  * ±1 counter per bit position, emit the sign vector as a long.
  * Documents within small hamming distance are near-duplicates.
  *
  * The per-token hash is the top 8 bytes of MD5 (big-endian), NOT
  * xxhash64: MD5 is the one 64-bit-capable hash this engine and the
  * DuckDB oracle both implement bit-identically, which makes the entire
  * simhash pipeline (fingerprint → chunk blocking → hamming filter)
  * SQL-checkable end to end. At raw-throughput scale the hash is the
  * one-line swap point (xxhash64 is ~20× faster per token); the plan
  * shape — scan-stage fingerprinting, chunk-key shuffle — is identical.
  *
  * Implemented as a custom Catalyst `Expression` (the SURVEY §4.3
  * preference order: a scalar op Spark lacks → custom Expression, not a
  * UDF): one pass over the token array per row, no serialization
  * round-trip, null-safe. Runs inside the scan stage at any scale.
  */
case class SimHash64(child: Expression)
    extends NativeUnary[ArrayData] {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  def compute(arr: ArrayData): Long = {
    val md = SimHash64.digests.get()
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        md.reset()
        val d = md.digest(t.getBytes)
        // top 8 MD5 bytes, big-endian — ≡ the first 16 hex chars of
        // md5(token) parsed as a 64-bit value, which is what the DuckDB
        // oracle recomputes.
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b2 = 0
    while (b2 < 64) {
      if (counts(b2) > 0) out |= (1L << b2)
      b2 += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

object SimHash64 {
  /** MessageDigest is stateful and not thread-safe; expression instances
    * are shared across partition threads via codegen references.
    */
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

object SimHash {

  /** simhash64 over a token-array column. */
  def simhash(tokens: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SimHash64(org.apache.spark.sql.graftbridge.ColumnBridge.expression(tokens)))

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by simhash: block on 8-bit chunks, then verify
    * hamming ≤ `maxHamming` on candidates. Same shuffle-on-small-keys
    * shape as MinHash LSH.
    *
    * Recall guarantee (pigeonhole): any pair with hamming ≤ 7 shares at
    * least one of the 8 exact chunks and is ALWAYS found. Pairs in
    * (7, maxHamming] are found only when a chunk happens to match —
    * sketch-typical partial recall; raise chunk count for a stronger
    * guarantee at the cost of bigger candidate buckets.
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 7): DataFrame = {
    // Hash 3-gram shingles, not unigrams: unigram frequency profiles are
    // near-identical across same-domain documents, collapsing all
    // simhashes together; shingles capture sequence. Documents with no
    // shingles at all (< 3 tokens) carry no signal — their fingerprint
    // would be the constant 0, spuriously pairing every tiny doc with
    // every other — so they are excluded up front.
    val hashed = docs
      .select(col(idCol), Shingles.shingles(col(textCol), 3).as("shg"))
      .filter(size(col("shg")) > 0)
      .select(col(idCol), simhash(col("shg")).as("sh"))
    val chunkCols = array((0 until 8).map { cIdx =>
      struct(lit(cIdx).as("c"),
        shiftrightunsigned(col("sh"), cIdx * 8).bitwiseAND(lit(255L)).as("v"))
    }: _*)
    val blocks = hashed.select(col(idCol), col("sh"), explode(chunkCols).as("ck"))
      .select(col(idCol), col("sh"), col("ck.c").as("c"), col("ck.v").as("v"))
    val a = blocks.select(col(idCol).as("id1"), col("sh").as("sh1"), col("c"), col("v"))
    val b = blocks.select(col(idCol).as("id2"), col("sh").as("sh2"), col("c"), col("v"))
    a.join(b, Seq("c", "v"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        hamming(col("sh1"), col("sh2")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
