package graft.similarity

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native argmin-by-squared-L2 over a frozen centroid table — the
  * assignment step of every IVF/IVF-PQ cell routing ([[IVF.Model.cell]]
  * / [[IVF.Model.probeCells]]).
  *
  * Replaces the composed spelling
  *   `array_min(array(struct(d_0, 0), …, struct(d_{k-1}, k-1))).j`
  * with `d_j = dot(v,v) − 2·dot(v,c_j) + ‖c_j‖²` inlined per centroid,
  * which carried k×dims DOUBLE LITERALS in the Catalyst tree — q239's
  * physical plan was 76 KB of centroid constants, and the per-pass
  * analyzer/optimizer walk over that tree cost ~0.3-0.4 s, more than
  * the query's task time (OPTIMIZATION_r13.md §5). Here the centroids are
  * plain JVM fields on ONE expression node: the plan shrinks to a
  * single operator and the distance loop runs as one fused JVM loop
  * per row instead of k separate fold expressions.
  *
  * BIT-COMPATIBILITY with the composed form (pinned in IVFSpec's "native NearestCells ≡ composed" test):
  *   - per-centroid distance is evaluated in the same order:
  *     `(dotVV − (2.0 · dotVC_j)) + cNorm2_j`, with both dots the
  *     [[DotProduct]] sequential fold (float elements widened per
  *     element) and `cNorm2` the caller's left-fold Σ c_i²;
  *   - selection replays the struct ordering of array_min/array_sort:
  *     null distance first (a null element / length mismatch nulls the
  *     dot), then ascending distance via java.lang.Double.compare, ties
  *     by the smaller centroid index;
  *   - `nprobe = 1` yields the argmin int (null only for a null input
  *     array); `nprobe > 1` yields the first nprobe indices of the full
  *     sort, exactly `transform(slice(array_sort(pairs), 1, nprobe), j)`.
  */
case class NearestCells(child: Expression, centroids: Array[Array[Double]],
                        cNorm2: Array[Double], nprobe: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    if (nprobe == 1) IntegerType else ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nearest_cells"

  private lazy val childFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @inline private def get(a: ArrayData, i: Int): Double =
    if (childFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** (distance or NaN-boxed, isNull) per centroid, then argmin / top-nprobe. */
  def compute(a: ArrayData): Any = {
    val n = a.numElements()
    val k = centroids.length
    // dot(v,v): null if any element is null
    var vvNull = false
    var vv = 0.0
    var i = 0
    while (i < n && !vvNull) {
      if (a.isNullAt(i)) vvNull = true
      else { val x = get(a, i); vv += x * x }
      i += 1
    }
    val d = new Array[Double](k)
    val dNull = new Array[Boolean](k)
    var j = 0
    while (j < k) {
      val c = centroids(j)
      if (vvNull || c.length != n) dNull(j) = true
      else {
        var acc = 0.0
        var t = 0
        while (t < n) { acc += get(a, t) * c(t); t += 1 }
        d(j) = (vv - 2.0 * acc) + cNorm2(j)
      }
      j += 1
    }
    @inline def lt(x: Int, y: Int): Boolean = {
      if (dNull(x) || dNull(y)) dNull(x) && !dNull(y) // null first; tie → index
      else {
        val c = java.lang.Double.compare(d(x), d(y))
        c < 0 || (c == 0 && x < y)
      }
    }
    if (nprobe == 1) {
      var best = 0
      var m = 1
      while (m < k) { if (lt(m, best)) best = m; m += 1 }
      // tie/null-first index preference: lt is strict, so the FIRST
      // (smallest) index wins ties — same as array_min's struct order
      best
    } else {
      val idx = Array.range(0, k).sortWith(lt)
      new GenericArrayData(idx.take(math.min(nprobe, k)))
    }
  }

  def computeInt(a: ArrayData): Int = compute(a).asInstanceOf[Int]
  def computeArr(a: ArrayData): ArrayData = compute(a).asInstanceOf[ArrayData]

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestcells", this, classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, a =>
      if (nprobe == 1) s"${ev.value} = $self.computeInt($a);"
      else s"${ev.value} = $self.computeArr($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}
