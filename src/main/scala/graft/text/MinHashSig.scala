package graft.text

import graft.functions.NativeUnary
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** k/r LSH band hashes in ONE pass over the shingle array: the k-minhash
  * signature folded into per-band hashes.
  *
  * Slot i of the signature is bit-compatible with the composed form
  * `array_min(transform(sh, s -> xxhash64(lit(i), s)))` — Spark's
  * XxHash64 expression folds its children left-to-right
  * (hashInt(i, 42) then hashUTF8String(s, carry)), reproduced here —
  * but evaluated with k running minima in registers instead of k
  * separate array traversals with per-element lambda dispatch. Band b
  * is the XXH64 left-fold over its r slots, the same fold
  * `xxhash64(v0..v3)` performs (MinHashSigSpec pins both against the
  * composed forms). One expression → evaluated once per row regardless
  * of how many bands explode out of it.
  */
case class MinHashBandHashes(child: Expression, k: Int, r: Int)
    extends NativeUnary[ArrayData] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_hashes"

  // seed-hash per slot: XxHash64(lit(i), s) = hashUTF8String(s, hashInt(i, 42))
  private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  def compute(arr: ArrayData): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val s = arr.getUTF8String(j)
        var i = 0
        while (i < k) {
          val h = XXH64.hashUTF8String(s, seeds(i))
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    val bands = k / r
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var i = 0
      while (i < r) { h = XXH64.hashLong(mins(b * r + i), h); i += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): MinHashBandHashes =
    copy(child = c)
}

object MinHashSig {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def bandHashes(shingles: Column, k: Int = 64, r: Int = 4): Column =
    ColumnBridge.column(MinHashBandHashes(ColumnBridge.expression(shingles), k, r))
}
