package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

class ScaleSpec extends SparkSpec {

  test("bucketed join plans with no shuffle exchange before the join") {
    val d = sf
    val ot = "graft_test_orders_b"
    val ct = "graft_test_cust_b"
    Seq(ot, ct).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), t)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    Tables.orders(spark, d).write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
    Tables.customer(spark, d).withColumnRenamed("c_custkey", "o_custkey")
      .write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable(ct)
    // force the shuffle-join path — with broadcast enabled the small
    // side broadcasts and the assertion would be vacuous
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(ot).join(spark.table(ct), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      // both scans are bucketed on the key → SortMergeJoin with NO
      // shuffle exchange between scan and join
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in bucketed join plan:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = graft.operators.Sorts
      .topK(Tables.orders(spark, sf), Seq("o_totalprice"), Seq(false), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_suppkey")
    val sup = Tables.supplier(spark, sf).withColumnRenamed("s_suppkey", "l_suppkey")
    val salted = Skew.saltedJoin(li, sup, "l_suppkey", 4)
      .groupBy("s_name").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = li.join(sup, "l_suppkey")
      .groupBy("s_name").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("filter and projection push into the parquet scan") {
    val q = Tables.part(spark, sf).filter(col("p_size") >= 20)
      .select("p_partkey", "p_size")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(p_size,20)"), scan)
  }

  test("TPC-H correlated/semi-join shapes plan without nested loops") {
    Seq("q184_tpch_q17", "q185_tpch_q18", "q186_tpch_q20").foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$n:\n$plan")
    }
    // the correlated scalar subqueries of Q17 decorrelate into
    // aggregate-join form (no per-row subquery re-execution)
    val q17 = SparkEntry.queries("q184_tpch_q17")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!q17.contains("scalar-subquery"), q17)
  }
}
