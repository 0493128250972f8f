package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{GraphIter, PageRankKernel}

/** Fixed-point integer PageRank over an undirected graph — the
  * iterative-propagation graph operator beside [[Components]]'s
  * union-find connected components (domain/source authority
  * weighting is a standard curation signal next to quality scores).
  *
  * Each variant is one lazy [[graft.plans.GraphIterNode]] running
  * [[graft.plans.PageRankKernel]]: the edges are laid out once inside
  * the exec and every iteration is one message shuffle, so building the
  * Dataset fires no job.
  *
  * Arithmetic discipline: ranks are FIXED-POINT LONGS (scale 1e12).
  * Every step is integer `div` / multiply / add, so the per-vertex sum
  * of contributions is order-independent (exact long addition, combined
  * per target in each sending task) AND bit-replayable in a SQL oracle —
  * a floating-point PageRank would make Σ contributions depend on the
  * shuffle's merge order.  `pr` of a vertex after k iterations is
  * identical on both engines down to the last unit.
  */
object PageRank {

  /** Rank scale: 1.0 ≡ 10^12 units (total mass ≈ Scale, per-vertex
    * values well inside exact-double AND exact-long range).
    */
  val Scale = 1000000000000L

  /** Damping 0.85 as the exact rational 85/100; teleport (1−d)/n is
    * (3·Scale)/(20·n) in units. Returns (id, deg, pr).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame =
    GraphIter(edges, PageRankKernel(weighted = false), iters, Seq(srcCol, dstCol))

  /** PERSONALIZED PageRank (topic-sensitive, Haveliwala 2002): the
    * teleport mass lands only on the `seed` vertices — authority *as
    * seen from* a seed set, the domain-weighting variant a curation
    * pipeline uses to score sources against a trusted whitelist.  Same
    * fixed-point integer discipline as [[run]]; non-seed vertices start
    * at 0 and receive only propagated mass. A seed set that selects no
    * vertex fails when the plan executes. Returns (id, deg, pr).
    */
  def runPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
                      iters: Int, seed: Column => Column): DataFrame =
    GraphIter(edges, PageRankKernel(weighted = false), iters, Seq(srcCol, dstCol), seed)

  /** WEIGHTED PageRank: mass splits proportionally to integer edge
    * weights instead of uniformly — `contribution = (pr · w) div sw`
    * with `sw` the vertex's total out-weight (weights of an edge listed
    * twice add up).  Same fixed-point integer discipline as [[run]];
    * pr·w stays inside long range for weights up to ~10^6 at the default
    * Scale. Returns (id, sw, pr).
    */
  def runWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, iters: Int): DataFrame =
    GraphIter(edges, PageRankKernel(weighted = true), iters, Seq(srcCol, dstCol, weightCol))

  /** customer↔supplier trade graph from the TPC-H-ish tables: distinct
    * (o_custkey, l_suppkey) pairs, vertex ids disjoint by prefix.
    */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val l = graft.Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    // distinct on the INTEGER key pair, then build string ids for the
    // surviving pairs only — the concat ran per joined row (600k string
    // builds at sf0.1 for a 16k-pair result) when it preceded distinct
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct()
      .select(concat(lit("c"), col("o_custkey")).as("cust"),
        concat(lit("s"), col("l_suppkey")).as("supp"))
  }

  /** [[tradeEdges]] on LONG vertex ids (custkey·2 even, suppkey·2+1
    * odd — the key spaces are disjoint exactly like the c/s string
    * prefixes), WITHOUT the pair-distinct (see inline note). Iterating
    * on longs keeps every join probe and aggregation on 8-byte hashes;
    * the string form made UTF8String hashing/equality the hottest
    * executor frames (JFR r12). Map back with [[vertexIdString]] for
    * presentation.
    */
  def tradeEdgesLong(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val l = graft.Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    // May contain duplicate pairs, deliberately (r14): the only consumer
    // is run(), whose layout dedupes each vertex's neighbours anyway — a
    // distinct here cost a full extra exchange+aggregate (measured ~0.8 s
    // at sf0.1) to shave 600k rows to 587k before a shuffle that dedupes
    // regardless.
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp"))
  }

  /** Decode a [[tradeEdgesLong]] vertex id back to its "c<k>"/"s<k>"
    * string form.
    */
  def vertexIdString(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    def half(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(IntegralDivide(
        ColumnBridge.expression(c.cast("long")),
        ColumnBridge.expression(lit(2L))))
    when(id % 2 === 0, concat(lit("c"), half(id)))
      .otherwise(concat(lit("s"), half(id - 1)))
  }

  /** [[tradeEdges]] with the lineitem multiplicity as an integer edge
    * weight (trade volume).
    */
  def tradeEdgesWeighted(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val l = graft.Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(concat(lit("c"), col("o_custkey")).as("cust"),
        concat(lit("s"), col("l_suppkey")).as("supp"))
      .agg(count(lit(1)).as("w"))
  }
}
