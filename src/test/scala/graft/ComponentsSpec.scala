package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.operators.Components
import graft.plans.ComponentsExec

/** Connected components as one union-find plan node: building a query
  * on it fires no job, the multi-partition merge is exact, and edges
  * with null endpoints keep the rows of the composed formulation.
  */
class ComponentsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Driver-side reference: every endpoint → its component's min id. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  /** Components of `edges` spread round-robin over 8 partitions, checked
    * to reach the node as 8 pieces. The merge leaves at most the returned
    * round's labels persisted.
    */
  private def onEightPieces(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val out = Components.connected(edges.toDF("a", "b").repartition(8), "a", "b")
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    val node = collect(out.queryExecution.executedPlan) { case c: ComponentsExec => c }
    assert(node.size == 1 && node.head.child.outputPartitioning.numPartitions == 8)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).size <= 1)
    assert(got.length == got.toMap.size, "a vertex was emitted twice")
    got.toMap
  }

  test("building q166 fires no job; its plan holds one Components node, fed one piece") {
    Tables.documents(spark, sf) // resolving the table may list files
    val (df, jobs) = jobsWhile(SparkEntry.queries("q166_minhash_dedup")(spark, sf))
    assert(jobs == 0, s"q166 fired $jobs jobs while built")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.sliding("Components".length).count(_ == "Components") == 1, plan)
    // the edges reach the node as one partition, so it takes the
    // one-piece path: no merge round runs
    df.collect()
    val node = collect(df.queryExecution.executedPlan) { case c: ComponentsExec => c }
    assert(node.size == 1 && node.head.child.execute().getNumPartitions == 1,
      df.queryExecution.executedPlan.toString)
  }

  test("exact on 8 partitions: a 200-edge chain and seeded random graphs") {
    // a shuffled chain: each piece's forest is a set of short runs
    val chain = new Random(3).shuffle((0L until 200L).map(i => (i + 1, i)))
    val gotChain = onEightPieces(chain)
    assert(gotChain.size == 201 && gotChain.values.toSet == Set(0L))
    for (seed <- Seq(11L, 12L, 13L, 14L, 15L)) {
      val rnd = new Random(seed)
      val n = 20 + rnd.nextInt(300)
      // ids spread over the long range, negatives included
      val ids = Array.fill(n)(rnd.nextLong() / 3)
      val edges = Seq.fill(10 + rnd.nextInt(400))((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
      assert(onEightPieces(edges) == reference(edges), s"seed $seed")
    }
  }

  test("null endpoints and self-loops keep today's rows, on one piece and on eight") {
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)), (Some(7L), Some(7L)))
      .toDF("s", "d")
    val want = Seq("[1,1]", "[2,1]", "[5,5]", "[7,7]", "[null,null]")
    for (input <- Seq[DataFrame](edges.coalesce(1), edges.repartition(8))) {
      val out = Components.connected(input, "s", "d")
      assert(out.schema.map(f => f.name -> f.dataType.sql) == Seq("id" -> "BIGINT", "rep" -> "BIGINT"))
      assert(out.collect().map(_.toString).sorted.toSeq == want)
    }
  }
}
