package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Hits, Iterative, LabelProp, PageRank}

/** The shared graph-loop discipline (`Iterative.loop`): what every loop
  * inherits from it — analyzed-plan re-rooting, the size-derived width,
  * and a clone registry that does not pin its parent sessions.
  */
class GraphLoopSpec extends SparkSpec {
  import spark.implicits._

  private def edges: DataFrame =
    Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("s", "t")

  test("a loop over a frame read from a temp view resolves the caller's view") {
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
      .createOrReplaceTempView("graph_loop_edges")
    try {
      val out = LabelProp.run(
        spark.sql("SELECT src, dst FROM graph_loop_edges"), "src", "dst", iters = 1)
      // one round: each vertex takes its neighbors' most frequent label, min on ties
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 10L -> 11L, 11L -> 10L))
    } finally spark.catalog.dropTempView("graph_loop_edges")
  }

  /** Executed plans fired on the loop session while `f` runs. */
  private def loopPlans(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val loopSession = Iterative.aqeOffSession(spark)
    loopSession.listenerManager.register(l)
    try {
      f
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    } finally loopSession.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** The partition count of every shuffle exchange in `plan`:
    * `hashpartitioning(..., n)` is n wide, `SinglePartition` 1.
    */
  private def exchangeWidths(plan: String): Seq[Int] = {
    val marker = "hashpartitioning("
    val single = plan.sliding("Exchange SinglePartition".length)
      .count(_ == "Exchange SinglePartition")
    Seq.fill(single)(1) ++ Iterator.iterate(plan.indexOf(marker))(i => plan.indexOf(marker, i + 1))
      .takeWhile(_ >= 0)
      .map { i =>
        var depth = 0
        var j = i + marker.length - 1
        do {
          if (plan(j) == '(') depth += 1 else if (plan(j) == ')') depth -= 1
          j += 1
        } while (depth > 0)
        plan.substring(plan.lastIndexOf(',', j - 1) + 1, j - 1).trim.toInt
      }.toSeq
  }

  test("every loop's exchanges run at the layout width") {
    val width = Iterative.layoutParts(spark, edges.count())
    assert(width == 1)
    val weighted = edges.withColumn("w", lit(2L))
    val loops: Seq[(String, () => DataFrame)] = Seq(
      "run" -> (() => PageRank.run(edges, "s", "t", iters = 2)),
      "runPersonalized" -> (() =>
        PageRank.runPersonalized(edges, "s", "t", iters = 2, _ === "a")),
      "runWeighted" -> (() => PageRank.runWeighted(weighted, "s", "t", "w", iters = 2)),
      "Hits.run" -> (() => Hits.run(edges, "s", "t", iters = 2)),
      "LabelProp.run" -> (() => LabelProp.run(edges, "s", "t", iters = 2)))
    for ((name, loop) <- loops) {
      val plans = loopPlans(loop().collect())
      val widths = plans.flatMap(exchangeWidths)
      assert(widths.nonEmpty, s"$name: no exchange captured on the loop session")
      assert(widths.forall(_ == width),
        s"$name: exchange widths ${widths.distinct.mkString(",")}, layout width $width")
    }
  }

  test("the clone registry does not keep a dropped parent session alive") {
    // The loop's jobs run on the clone, and its result is counted after
    // re-rooting on the suite session: a query executed on the parent
    // itself keeps that session reachable inside Spark (4.1), registry
    // or not, and would mask what this test pins.
    def loopOnFreshParent(): java.lang.ref.WeakReference[SparkSession] = {
      val parent = spark.newSession()
      val pairs = parent.createDataFrame(Seq((1L, 2L), (2L, 3L))).toDF("src", "dst")
      val out = LabelProp.run(pairs, "src", "dst", iters = 1)
      assert(Iterative.inSession(spark, out).count() == 3)
      assert(Iterative.aqeOffSession(parent) ne Iterative.aqeOffSession(spark))
      new java.lang.ref.WeakReference(parent)
    }
    val ref = loopOnFreshParent()
    var polls = 0
    while (ref.get != null && polls < 50) {
      System.gc()
      Thread.sleep(100)
      polls += 1
    }
    assert(ref.get == null, s"parent session still reachable after $polls GC polls")
  }
}
