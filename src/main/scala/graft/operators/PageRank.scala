package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank over an undirected graph — the
  * iterative-propagation graph operator beside [[Components]]'s
  * pointer-jumping connected components (domain/source authority
  * weighting is a standard curation signal next to quality scores).
  *
  * Distributed shape (the 100 TB lens):
  *   - each iteration is ONE hash join (ranks ⋈ edges on src) + ONE
  *     partial-aggregated groupBy(dst) — the same shuffle pattern
  *     GraphX/Pregel lowers to; no driver-side loop over rows, and the
  *     iteration count is a compile-time constant;
  *   - the loop itself (session, width, per-iteration checkpoints,
  *     releases) is [[Iterative]]'s; this object gives only the edge
  *     projection, the vertex frames, the initial ranks and the step.
  *
  * Arithmetic discipline: ranks are FIXED-POINT LONGS (scale 1e12).
  * Every step is integer `div` / multiply / add, so the per-vertex sum
  * of contributions is order-independent (exact long addition partial-
  * aggregates map-side) AND bit-replayable in a SQL oracle — a
  * floating-point PageRank would make Σ contributions depend on the
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
    kernel(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), iters, _ => lit(true), "deg")

  /** PERSONALIZED PageRank (topic-sensitive, Haveliwala 2002): the
    * teleport mass lands only on the `seed` vertices — authority *as
    * seen from* a seed set, the domain-weighting variant a curation
    * pipeline uses to score sources against a trusted whitelist.  Same
    * fixed-point integer discipline as [[run]]; non-seed vertices start
    * at 0 and receive only propagated mass. Returns (id, deg, pr).
    */
  def runPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
                      iters: Int, seed: Column => Column): DataFrame =
    kernel(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), iters, seed, "deg")

  /** WEIGHTED PageRank: mass splits proportionally to integer edge
    * weights instead of uniformly — `contribution = (pr · w) div sw`
    * with `sw` the vertex's total out-weight (weights of an edge listed
    * twice add up).  Same fixed-point integer discipline as [[run]];
    * pr·w stays inside long range for weights up to ~10^6 at the default
    * Scale. Returns (id, sw, pr).
    */
  def runWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                  weightCol: String, iters: Int): DataFrame =
    kernel(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("long").as("w")), iters, _ => lit(true), "sw")

  /** The one kernel behind all three variants, over (src, dst[, w]).
    * An unweighted edge has weight 1 after dedupe, so `(pr·w) div sw` is
    * `pr div deg`; with every vertex a seed the teleport column is the
    * uniform (3·Scale)/(20·n) — the plain PageRank arithmetic, unit for
    * unit.
    *
    * Each iteration is ONE join + ONE aggregation, hence one exchange:
    * the symmetrized edges are laid out by src on the loop width, the
    * rank frame is the previous aggregate (already hash-partitioned by
    * id at that width), so the shuffle-hash join plans no exchange and
    * only the partial-aggregated contributions move. The apply step is
    * folded into that aggregation as a zero-contribution union branch
    * carrying each vertex's out-weight and teleport (max ignores the
    * contribution rows' nulls), so vertices receiving no mass still get
    * pure teleport without a second join.
    */
  private def kernel(edges: DataFrame, iters: Int, seed: Column => Column,
                     wName: String): DataFrame =
    Iterative.loop(edges) { g =>
      val weighted = g.edges.columns.contains("w")
      // Fan a narrow checkpoint out to machine width before the
      // symmetrize map (r14, as Tables.fanout): the explode + hash of
      // 2·|E| rows otherwise runs on however few partitions the edge
      // derivation produced (570 ms on 3 tasks at sf0.1, ~150 ms wide).
      // A one-partition layout (a graph under ~32k edges) gains nothing
      // from it, only an extra exchange.
      val cores = g.edges.sparkSession.sparkContext.defaultParallelism
      val fan = if (g.parts > 1 && g.edges.rdd.getNumPartitions * 2 < cores)
        g.edges.repartition(cores, col("src")) else g.edges
      // laid out by src: the dedupe on (src, dst), the per-src vertex
      // aggregate and every iteration's join then plan no exchange
      val both = g.bothWays(fan).repartition(g.parts, col("src"))
      val sym = g.keep(
        if (weighted) both.groupBy("src", "dst").agg(sum("w").as("w")) else both.distinct())
      val verts = g.keep(sym.groupBy(col("src").as("id"))
        .agg(sum(if (weighted) col("w") else lit(1L)).as("sw"))
        .withColumn("seed", seed(col("id"))))
      val n = verts.filter(col("seed")).count() // one driver scalar, like a dim cardinality
      require(n > 0, "PageRank needs at least one seed vertex")
      val apply = verts.select(col("id"), lit(0L).as("c"), col("sw"),
        when(col("seed"), lit((3L * Scale) / (20L * n))).otherwise(0L).as("tele"))
      val init = verts.select(col("id"), col("sw"),
        when(col("seed"), lit(Scale / n)).otherwise(0L).as("pr"))
      val contrib = expr(if (weighted) "(pr * w) div sw" else "pr div sw")
      g.fixed(init, iters) { pr =>
        sym.hint("shuffle_hash").join(pr.hint("shuffle_hash"), sym("src") === pr("id"))
          .select(col("dst").as("id"), contrib.as("c"),
            lit(null).cast("long").as("sw"), lit(null).cast("long").as("tele"))
          .unionByName(apply)
          .groupBy("id").agg(sum("c").as("mass"), max("sw").as("sw"), max("tele").as("tele"))
          .select(col("id"), col("sw"),
            (col("tele") + expr("(85 * mass) div 100").cast("long")).as("pr"))
      }.withColumnRenamed("sw", wName)
    }

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
    // is run(), whose sym construction dedupes on its own layout anyway —
    // a distinct here cost a full extra exchange+aggregate (measured
    // ~0.8 s of q263's construction at sf0.1) to shave 600k rows to 587k
    // before a shuffle that dedupes regardless.
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
