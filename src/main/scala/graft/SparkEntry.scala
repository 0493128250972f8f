package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` is the per-operator registry (one entry per implemented
  * SURVEY §2 operator); `oracleSql` carries the DuckDB-equivalent SQL for
  * every SQL-expressible query. Definitions live in `graft.queries.*`.
  */
object SparkEntry {

  private lazy val all: Seq[(String, QueryDef)] =
    graft.queries.CoreQueries.defs ++
    graft.queries.ScalarQueries.defs ++
    graft.queries.TextQueries.defs ++
    graft.queries.SimilarityQueries.defs ++
    graft.queries.IoQueries.defs ++
    graft.queries.ApiQueries.defs ++
    graft.queries.ExtraQueries.defs ++
    graft.queries.ScaleQueries.defs ++
    graft.queries.PipelineQueries.defs ++
    graft.queries.SqlQueries.defs ++
    graft.queries.CurationQueries.defs ++
    graft.queries.Round2Queries.defs ++
    graft.queries.Round3Queries.defs ++
    graft.queries.Round5Queries.defs ++
    graft.queries.Round6Queries.defs ++
    graft.queries.ImageQueries.defs ++
    graft.queries.Round7Queries.defs ++
    graft.queries.Round8Queries.defs ++
    graft.queries.LayoutQueries.defs ++
    graft.queries.Round9Queries.defs ++
    graft.queries.Round10Queries.defs ++
    graft.queries.Round11Queries.defs ++
    graft.queries.Round12Queries.defs ++
    graft.queries.Round13Queries.defs ++
    graft.queries.Round14Queries.defs ++
    graft.queries.Round15Queries.defs ++
    graft.queries.Round16Queries.defs ++
    graft.queries.Round17Queries.defs ++
    graft.queries.Round18Queries.defs ++
    graft.queries.Round19Queries.defs ++
    graft.queries.Round20Queries.defs ++
    graft.queries.Round21Queries.defs ++
    graft.queries.Round22Queries.defs ++
    graft.queries.Round23Queries.defs ++
    graft.queries.Round24Queries.defs ++
    graft.queries.Round25Queries.defs ++
    graft.queries.Round26Queries.defs ++
    graft.queries.Round27Queries.defs ++
    graft.queries.Round28Queries.defs ++
    graft.queries.Round29Queries.defs ++
    graft.queries.Round30Queries.defs ++
    graft.queries.Round31Queries.defs ++
    graft.queries.Round32Queries.defs ++
    graft.queries.Round33Queries.defs ++
    graft.queries.Round34Queries.defs ++
    graft.queries.Round35Queries.defs ++
    graft.queries.Round36Queries.defs ++
    graft.queries.Round37Queries.defs ++
    graft.queries.Round38Queries.defs ++
    graft.queries.Round39Queries.defs ++
    graft.queries.Round40Queries.defs ++
    graft.queries.Round41Queries.defs ++
    graft.queries.Round42Queries.defs ++
    graft.queries.Round43Queries.defs ++
    graft.queries.Round44Queries.defs ++
    graft.queries.Round45Queries.defs ++
    graft.queries.Round46Queries.defs ++
    graft.queries.Round47Queries.defs ++
    graft.queries.Round48Queries.defs ++
    graft.queries.Round49Queries.defs ++
    graft.queries.Round50Queries.defs ++
    graft.queries.Round51Queries.defs ++
    graft.queries.Round52Queries.defs ++
    graft.queries.Round53Queries.defs ++
    graft.queries.Round54Queries.defs ++
    graft.queries.Round55Queries.defs ++
    graft.queries.Round56Queries.defs ++
    graft.queries.Round57Queries.defs ++
    graft.queries.Round58Queries.defs ++
    graft.queries.Round59Queries.defs ++
    graft.queries.Round60Queries.defs ++
    graft.queries.Round61Queries.defs ++
    graft.queries.Round62Queries.defs ++
    graft.queries.Round63Queries.defs

  /** Flagship query on sf=0.001 — the SURVEY §7.2 minimum slice:
    * scan → filter → hash-agg → join → sort, the same pipeline shape as
    * the reference's mortgage benchmark
    * (reference `benchmarks/mortgage/mortgage.py:448-510`).
    */
  def entry(spark: SparkSession): DataFrame = {
    import graft.api.GFrame
    val d = "/root/testdata/sf0.001"
    GFrame(Tables.lineitem(spark, d))
      .query("l_quantity > @qmin", Map("qmin" -> 5))
      .assign("revenue", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupby("l_orderkey")
      .agg("revenue" -> Seq("sum"), "l_quantity" -> Seq("count"))
      .mergeOn(GFrame(Tables.orders(spark, d)),
        Seq("l_orderkey"), Seq("o_orderkey"), "inner")
      .sortValues(Seq("revenue_sum"), Seq(false))
      .apply("l_orderkey", "o_custkey", "revenue_sum", "l_quantity_count")
      .df
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, q) => n -> q.fn }.toMap

  def oracleSql: Map[String, String] =
    all.collect { case (n, q) if q.oracle.isDefined =>
      // collapse the triple-quoted SQL to one line for the driver's JSON
      n -> q.oracle.get.replaceAll("\\s+", " ").trim
    }.toMap

  /** Headline subset for Bench. */
  def benchNames: Seq[String] =
    all.collect { case (n, q) if q.headline => n }
}
