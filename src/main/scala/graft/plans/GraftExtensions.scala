package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import graft.text.SimHash64

/** SparkSessionExtensions wiring for the engine's custom expressions —
  * lets SQL users call them without the Scala API:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or on a live session:
  * GraftExtensions.register(spark)
  * spark.sql("SELECT simhash64(split(text, ' ')) FROM docs")
  * }}}
  *
  * (SURVEY §4.3: the extension surface is function registration only.
  * graft's three planner strategies — [[GroupTopKStrategy]],
  * [[CarryScanStrategy]] and [[ComponentsStrategy]] — are installed on
  * the session that builds the Dataset by [[GroupTopK.register]], which
  * every operator's Dataset factory calls.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.simhashDescriptor)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  private val simhashBuilder: Seq[Expression] => Expression =
    exprs => SimHash64(exprs.head)

  val simhashDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      simhashBuilder)

  /** Register on an already-running session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", simhashBuilder, "built-in")
}
