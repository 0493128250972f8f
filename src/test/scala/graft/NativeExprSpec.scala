package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{NativeUnary, NfcNormalize}
import graft.similarity.PqLut
import graft.text._

/** Every [[NativeUnary]] expression gives the same rows from its
  * generated Java (whole-stage codegen, no interpreted fallback) as from
  * interpreted evaluation, on null inputs, empty strings and corpus rows.
  * Each mode runs on its own `newSession()`, so the shared session's
  * conf is never written.
  */
class NativeExprSpec extends SparkSpec {

  private def session(mode: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
    s
  }
  private lazy val generated = session("CODEGEN_ONLY")
  private lazy val interpreted = session("NO_CODEGEN")

  // every 5th text is NULL and every 5th + 1 is empty; built from the
  // scan, so no optimizer rule folds the expression into a literal
  private def texts(s: SparkSession): DataFrame =
    Tables.documents(s, sf).filter(col("doc_id") < 25).select(col("doc_id").as("id"),
      expr("CASE WHEN doc_id % 5 = 0 THEN NULL WHEN doc_id % 5 = 1 THEN '' ELSE text END")
        .as("x"))

  private def vectors(s: SparkSession): DataFrame =
    Tables.embeddings(s, sf).filter(col("vec_id") < 25).select(col("vec_id").as("id"),
      expr("CASE WHEN vec_id % 5 = 0 THEN NULL " +
        "WHEN vec_id % 5 = 1 THEN CAST(array() AS array<float>) ELSE embedding END").as("x"))

  private def shingles(x: Expression): Expression = ShingleSet(x, 3)
  // `c` where the text is not NULL, else NULL
  private def keepNull(x: Expression, c: Column): Expression =
    ColumnBridge.expression(when(ColumnBridge.column(x).isNotNull, c))
  private val rnd = new scala.util.Random(17)
  private val buckets = (n: Int) => Array.fill(n)(rnd.nextDouble())
  private val (pu, pb) = (buckets(BigramLm.UniBuckets), buckets(BigramLm.BiBuckets))
  private val codebooks = Array.fill(2, 3, 4)(rnd.nextGaussian())

  private val onTexts: Seq[Expression => NativeUnary[_]] = Seq(
    LangIdExpr(_), NormalizeWs(_), QualityScoreExpr(_),
    TermCountsExpr(_, Seq("the", "data", "a")), RepStatsExpr(_),
    BigramLmScore(_, pu, pb), PhraseHits(_, Seq("of the", "data")),
    WinnowSet(_, 8, 4), WinnowSetLong(_, 8, 4), ShingleSet(_, 2),
    SlidingChunkSet(_, 5, 3), CdcChunkSet(_, 4), TokenCountWs(_), NgramList(_, 1),
    NgramList(_, 3), NfcNormalize(_),
    x => MinHashBandHashes(shingles(x), 16, 4), x => SimHash64(shingles(x)),
    x => PackedPairs(keepNull(x,
      sequence(lit(0L), pmod(length(ColumnBridge.column(x)), lit(7)).cast("long")))),
    x => PrefixPairs(keepNull(x, array(
      struct(col("id").as("id"), lit(5).as("n"), lit(1).as("rk")),
      struct((col("id") + 1).as("id"), length(ColumnBridge.column(x)).as("n"), lit(2).as("rk")),
      struct((col("id") + 2).as("id"), lit(4).as("n"), lit(1).as("rk")))), 0.5))

  private def rows(s: SparkSession, in: SparkSession => DataFrame,
                   e: Expression => NativeUnary[_]): (Array[Row], String) = {
    val df = in(s).select(col("id"),
      ColumnBridge.column(e(ColumnBridge.expression(col("x")))).as("y"))
    (df.collect().sortBy(_.getLong(0)), codegenString(df.queryExecution.executedPlan))
  }

  private def check(in: SparkSession => DataFrame, e: Expression => NativeUnary[_]): Unit = {
    val name = e(ColumnBridge.expression(col("x"))).getClass.getName
    val (gen, code) = rows(generated, in, e)
    val (int, _) = rows(interpreted, in, e)
    assert(code.contains(s"(($name) references["), s"$name is not in the generated code")
    assert(gen.length == 25 && gen.toSeq == int.toSeq, name)
    assert(gen.exists(_.isNullAt(1)) && gen.exists(!_.isNullAt(1)), name)
  }

  test("generated code equals interpreted evaluation for every text kernel") {
    onTexts.foreach(check(texts, _))
  }

  test("generated code equals interpreted evaluation for the PQ lookup table") {
    check(vectors, PqLut(_, codebooks))
  }
}
