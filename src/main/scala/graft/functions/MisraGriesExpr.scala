package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Buffer of [[MisraGriesExpr]]: the MG counters and the item total. */
final class MGBuffer(val m: java.util.HashMap[String, Long], var total: Long)

/** Native Misra–Gries heavy-hitters aggregate: the sketch semantics of
  * the boxed twin [[MisraGries]] (reduce: present → +1, room → insert,
  * else decrement-all-drop-zeros; merge: sum then subtract the
  * (k+1)-largest), over a MUTABLE java HashMap — the twin's
  * immutable-Map buffer copies a HAMT path per item. Every item with
  * true frequency > N/(k+1) survives.
  *
  * The items come from the child's data type ([[MisraGriesExpr.foreachItem]]):
  * a `string` child gives its whitespace tokens, an `array<string>`
  * child its non-null elements (pass an item column as `array(col)`).
  * The text form needs no Generate stage, and since explode never
  * splits one document's tokens across partitions, its per-partition
  * sketches are the exploded form's exactly.
  *
  * Returns struct(cand array<string> sorted, n bigint): the candidates
  * and the item total from one pass — the sketch row
  * [[MisraGries.fitSketch]] persists.
  */
case class MisraGriesExpr(child: Expression, k: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MGBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("cand", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("n", LongType, nullable = false)))
  override def prettyName: String = "misra_gries"
  override def checkInputDataTypes(): TypeCheckResult = MisraGriesExpr.checkItems(child)

  override def createAggregationBuffer(): MGBuffer =
    new MGBuffer(new java.util.HashMap[String, Long](k * 2), 0L)

  override def update(b: MGBuffer, input: InternalRow): MGBuffer = {
    val v = child.eval(input)
    if (v != null) MisraGriesExpr.foreachItem(child.dataType, v) { s =>
      val m = b.m
      // counters in the map are always ≥ 1, so 0 ⟺ absent (getOrDefault
      // avoids the null-unboxing trap of java HashMap.get)
      val cur = m.getOrDefault(s, 0L)
      if (cur > 0L) m.put(s, cur + 1L)
      else if (m.size < k) m.put(s, 1L)
      else {
        // classic MG decrement: −1 all, drop zeros
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
        }
      }
      b.total += 1L
    }
    b
  }

  override def merge(x: MGBuffer, y: MGBuffer): MGBuffer = {
    val m = x.m
    val it = y.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      m.put(e.getKey, m.getOrDefault(e.getKey, 0L) + e.getValue)
    }
    if (m.size > k) {
      // subtract the (k+1)-largest counter from all, drop non-positive
      val counts = new Array[Long](m.size)
      var i = 0
      val vi = m.values().iterator()
      while (vi.hasNext) { counts(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - 1 - k) // (k+1)-largest
      val ei = m.entrySet().iterator()
      while (ei.hasNext) {
        val e = ei.next()
        if (e.getValue <= cut) ei.remove() else e.setValue(e.getValue - cut)
      }
    }
    x.total += y.total
    x
  }

  override def eval(b: MGBuffer): Any = {
    val keys = new Array[String](b.m.size)
    var i = 0
    val ki = b.m.keySet().iterator()
    while (ki.hasNext) { keys(i) = ki.next(); i += 1 }
    java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
    new GenericInternalRow(Array[Any](
      new GenericArrayData(keys.map(UTF8String.fromString(_: String))), b.total))
  }

  override def serialize(b: MGBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(b.total)
    out.writeInt(b.m.size)
    val it = b.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // length-prefixed UTF-8, not writeUTF: writeUTF caps keys at
      // 65535 encoded bytes and a heavy-hitters pass over a long-string
      // column would throw UTFDataFormatException at shuffle time
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MGBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val total = in.readLong()
    val n = in.readInt()
    val m = new java.util.HashMap[String, Long](n * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val kb = new Array[Byte](len)
      in.readFully(kb)
      m.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      i += 1
    }
    new MGBuffer(m, total)
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): MisraGriesExpr = copy(child = c.head)
}

object MisraGriesExpr {
  /** `MisraGriesExpr(k)(items)` → struct(cand sorted array, n item total). */
  def apply(k: Int)(c: Column): Column =
    ColumnBridge.column(
      MisraGriesExpr(ColumnBridge.expression(c), k).toAggregateExpression())

  private[functions] def checkItems(child: Expression): TypeCheckResult =
    child.dataType match {
      case _: StringType | ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"items must be a string (whitespace tokens) or array<string>, not ${t.simpleString}")
    }

  /** The items of one non-null child value, in order: the non-empty
    * space-separated tokens of a string (`TextStats.tokensNonEmpty`),
    * or the non-null elements of an array of strings.
    */
  private[functions] def foreachItem(dt: DataType, v: Any)(f: String => Unit): Unit =
    dt match {
      case _: StringType =>
        val s = v.asInstanceOf[UTF8String].toString
        val len = s.length
        var i = 0
        while (i < len) {
          var j = s.indexOf(' ', i)
          if (j < 0) j = len
          if (j > i) f(s.substring(i, j))
          i = j + 1
        }
      case _ =>
        val a = v.asInstanceOf[ArrayData]
        var i = 0
        while (i < a.numElements()) {
          if (!a.isNullAt(i)) f(a.getUTF8String(i).toString)
          i += 1
        }
    }
}

/** Exact per-candidate item counts + the current item total in ONE
  * pass, over the same items as [[MisraGriesExpr]]: buffer =
  * long[cand.size + 1] (last slot = total). This is the certify half of
  * the heavy-hitters plan ([[MisraGries.topKFrequent]]) without an
  * explode or an InSet-filtered string hash-agg — the exchange carries
  * one fixed-size long array per partition however large the corpus.
  * Slot lookup is a per-executor HashMap built once per task from the
  * broadcast expression.
  */
case class CandTokenCountsExpr(child: Expression, cand: Seq[String],
                               mutableAggBufferOffset: Int = 0,
                               inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cand_token_counts"
  override def checkInputDataTypes(): TypeCheckResult = MisraGriesExpr.checkItems(child)

  @transient private lazy val slot: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](cand.size * 2)
    var i = 0
    cand.foreach { c => m.put(c, i); i += 1 }
    m
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](cand.size + 1)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) MisraGriesExpr.foreachItem(child.dataType, v) { s =>
      val idx = slot.get(s)
      if (idx != null) b(idx.intValue()) += 1L
      b(b.length - 1) += 1L
    }
    b
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < x.length) { x(i) += y(i); i += 1 }
    x
  }

  override def eval(b: Array[Long]): Any = new GenericArrayData(b)

  override def serialize(b: Array[Long]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(b.length * 8)
    b.foreach(out.putLong)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(in.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): CandTokenCountsExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CandTokenCountsExpr =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CandTokenCountsExpr = copy(child = c.head)
}

object CandTokenCountsExpr {
  def apply(cand: Seq[String])(c: Column): Column =
    ColumnBridge.column(
      CandTokenCountsExpr(ColumnBridge.expression(c), cand).toAggregateExpression())
}
