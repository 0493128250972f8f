package graft

import org.apache.spark.sql.functions._

import graft.api.GFrame
import graft.similarity.Similarity

/** Scale-safe SemDeDup (q373): invariants the oracle can't see. */
class SemDedupScaledSpec extends SparkSpec {

  test("cell count derives from corpus count; every cell < C") {
    val em = Tables.embeddings(spark, sf)
    val n = em.count()
    val c = math.max(1L, (n + 255) / 256)
    val out = Similarity.semDedupScaled(em, 0.4)
    val mx = out.agg(max("cell"), min("cell")).collect()(0)
    assert(mx.getLong(0) < c && mx.getLong(1) >= 0L)
    assert(out.count() == n)
  }

  test("exact duplicates collapse to one representative") {
    val em = Tables.embeddings(spark, sf).limit(200).cache()
    // clone every vector under a higher id: clones share the signature
    // (identical embedding → identical cell) and cosine 1.0 ≥ any
    // threshold, so exactly the lowest id of each pair survives
    val cloned = em.unionByName(
      em.withColumn("vec_id", col("vec_id") + lit(10000000L)))
    val out = Similarity.semDedupScaled(cloned, 0.99)
    val keptHigh = out.filter(col("kept") && col("vec_id") >= 10000000L).count()
    assert(keptHigh == 0L, "every clone must be dominated by its original")
    assert(out.filter(col("kept")).count() <= 200L)
    em.unpersist()
  }

  test("GFrame.semDedupScaled keeps exactly the kept ids") {
    val em = Tables.embeddings(spark, sf)
    val keptIds = Similarity.semDedupScaled(em, 0.4)
      .filter(col("kept")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val viaApi = GFrame(em).semDedupScaled(0.4).df
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaApi == keptIds)
  }

  test("banded variant: clones collapse; kept superset shrinks vs more tables") {
    val em = Tables.embeddings(spark, sf).limit(200).cache()
    val cloned = em.unionByName(
      em.withColumn("vec_id", col("vec_id") + lit(10000000L)))
    // identical embeddings share every table's cell → clone always drops
    val out = Similarity.semDedupBanded(cloned, 0.99, tables = 2)
    assert(out.filter(col("kept") && col("vec_id") >= 10000000L).count() == 0L)
    // more tables can only ADD candidates → kept set can only shrink
    val k1 = Similarity.semDedupBanded(em, 0.4, tables = 1)
      .filter(col("kept")).count()
    val k4 = Similarity.semDedupBanded(em, 0.4, tables = 4)
      .filter(col("kept")).count()
    assert(k4 <= k1)
    // tables=1 blocking == semDedupScaled blocking (uncapped corpus fits
    // under the cap here), so kept flags agree
    val scaled = Similarity.semDedupScaled(em, 0.4)
      .select("vec_id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val banded1 = Similarity.semDedupBanded(em, 0.4, tables = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(scaled == banded1)
    em.unpersist()
  }

  test("embed cell index survives parquet persistence; probe flags exact clones") {
    val em = Tables.embeddings(spark, sf).limit(300).cache()
    val idx = Similarity.embedCellIndex(em, tables = 2)
    val path = graft.tools.Staging.dir("embidx_spec", sf)
    idx.write.mode("overwrite").parquet(path)
    val persisted = spark.read.parquet(path)
    // probe the corpus's own vectors under new ids: every one is an
    // exact clone of a corpus vector → all flagged dup with ≥1 match
    val batch = em.withColumn("vec_id", col("vec_id") + lit(10000000L))
    val out = Similarity.probeEmbedIndex(persisted, batch, em, 0.99)
    assert(out.count() == 300L)
    assert(out.filter(!col("is_dup")).count() == 0L)
    // in-memory and persisted index give identical probe results
    val out2 = Similarity.probeEmbedIndex(idx, batch, em, 0.99)
    assert(out.collect().map(_.toSeq).toSet == out2.collect().map(_.toSeq).toSet)
    // GFrame wrappers delegate to the same implementations
    import graft.api.GFrame
    val viaApi = GFrame(batch)
      .probeEmbedIndex(GFrame(em).embedCellIndex(tables = 2), GFrame(em), 0.99)
      .df.collect().map(_.toSeq).toSet
    assert(viaApi == out.collect().map(_.toSeq).toSet)
    em.unpersist()
  }

  test("banded variant plans its fold modulus as one count subquery") {
    import org.apache.spark.sql.execution.{BaseSubqueryExec, ReusedSubqueryExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val out = Similarity.semDedupBanded(Tables.embeddings(spark, sf), 0.4, tables = 4)
    out.collect()
    val subs = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case s: BaseSubqueryExec => s
      }
    val (reused, planned) = subs.partition(_.isInstanceOf[ReusedSubqueryExec])
    // each of the 4 tables reads C twice: its cell and its t·C offset
    assert(planned.size == 1, s"planned subqueries: $planned")
    assert(reused.size == 2 * 4 - 1)
  }

  test("maxCell cap: rows past the per-cell cap are conservatively kept") {
    val em = Tables.embeddings(spark, sf)
    // force one cell (targetCell huge → C = 1) and a tiny cap: only the
    // 5 lowest ids participate; everyone else must be kept
    val out = Similarity.semDedupScaled(em, -1.0, targetCell = 1 << 30,
      maxCell = 5)
    val ids = em.select("vec_id").orderBy("vec_id")
      .limit(5).collect().map(_.getLong(0))
    // threshold -1 → any candidate pair dominates: of the 5 candidates
    // only the global min survives; all non-candidates stay kept
    val dropped = out.filter(!col("kept")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(dropped == ids.drop(1).toSet)
  }
}
