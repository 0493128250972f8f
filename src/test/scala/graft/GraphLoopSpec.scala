package graft

import graft.operators.LabelProp

/** The graph operators' one plan node (`GraphIterNode`) sits on the
  * caller's analyzed edge plan: relations the caller resolved, temp views
  * included, stay resolved as the caller saw them.
  */
class GraphLoopSpec extends SparkSpec {
  import spark.implicits._

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
}
