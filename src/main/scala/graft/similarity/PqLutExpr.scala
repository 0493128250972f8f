package graft.similarity

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native ADC lookup-table builder: lut[s][j] = exact squared L2 from
  * query-subvector s to centroid (s, j) — the per-query table of
  * [[PQ.Model.lut]] in one fused JVM loop.
  *
  * The composed spelling (`array(array(dist2(slice(vec,…), c_sj)…))`)
  * inlined m×ksub centroid LITERALS into the Catalyst tree — after the
  * IVF fix, q239's plan was still 44 KB of codebook constants and the
  * per-pass analyzer/optimizer walk dominated the sub-second query
  * (OPTIMIZATION_r13.md §5). Centroids live here as JVM fields on one node.
  *
  * Bit-compatibility with the composed form (PQSpec differential):
  * per-(s,j) value is `(dot(u,u) − (2.0 · dot(u,c))) + ‖c‖²` with the
  * [[DotProduct]] sequential fold over the subvector (float widened
  * per element) and ‖c‖² the caller's left-fold Σ c_i². A subvector
  * that runs past the input (short vector) or contains a null element
  * yields a NULL table entry, exactly like the null-intolerant
  * slice+dot chain.
  */
case class PqLut(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private val m = codebooks.length
  private val ksub = codebooks(0).length
  private val dsub = codebooks(0)(0).length

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_lut"

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** ‖c‖² per centroid — the exact left fold the composed form embeds. */
  @transient private lazy val cn2: Array[Array[Double]] =
    Array.tabulate(m, ksub)((s, j) => codebooks(s)(j).map(x => x * x).sum)

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val u = new Array[Double](dsub)
    val outer = new Array[Any](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      val inner = new Array[Any](ksub)
      // a short slice (base+dsub > n) or a null element nulls every
      // entry of this subspace, like the composed slice+dot chain
      var ok = base + dsub <= n
      var i = 0
      while (ok && i < dsub) {
        if (a.isNullAt(base + i)) ok = false
        else u(i) = if (isFloat) a.getFloat(base + i).toDouble
                    else a.getDouble(base + i)
        i += 1
      }
      if (ok) {
        var dotss = 0.0
        i = 0
        while (i < dsub) { dotss += u(i) * u(i); i += 1 }
        val cb = codebooks(s)
        val cn2s = cn2(s)
        var j = 0
        while (j < ksub) {
          val c = cb(j)
          var dotsc = 0.0
          i = 0
          while (i < dsub) { dotsc += u(i) * c(i); i += 1 }
          inner(j) = (dotss - 2.0 * dotsc) + cn2s(j)
          j += 1
        }
      }
      outer(s) = new GenericArrayData(inner)
      s += 1
    }
    new GenericArrayData(outer)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqlut", this, classOf[PqLut].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.compute($a);")
  }

  override protected def withNewChildInternal(c: Expression): PqLut =
    copy(child = c)
}
