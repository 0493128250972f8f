package graft

import graft.operators.{LabelProp, PageRank}

/** Graph operators run on the caller's session: no call flips the
  * caller's AQE conf, even for a moment, and results are rooted on the
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
    // result is rooted on the caller's session
    assert(out.sparkSession eq spark)
    // one round: each vertex takes its neighbors' most frequent label, min on ties
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 10L -> 11L, 11L -> 10L))
    assert(spark.conf.get(k) == "true")
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
      val pr = PageRank.run(edgesDf, "src", "dst", iters = 3)
      assert(pr.sparkSession eq spark)
      assert(pr.count() == 5)
      val lp = LabelProp.run(edgesDf, "src", "dst", iters = 2)
      assert(lp.count() == 5)
      // and a plain AQE query interleaved on the same session
      val agg = edgesDf.groupBy("src").count().collect()
      assert(agg.nonEmpty)
    } finally {
      done = true
      probe.join()
    }
    assert(spark.conf.get(k) == "true")
    assert(!sawFalse, "the caller's spark.sql.adaptive.enabled changed during a graph call")
  }
}
