package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{Num, PandasArith}
import graft.operators.{Cumulative, Projections, Skew}
import graft.streaming.EventStreams

/** Remaining §2 surface + explicit scale techniques: tail, bitwise unary
  * ops, cummin via the distributed scan, streaming stateful
  * sessionization, bucketed co-located joins, deterministic salting.
  */
object ScaleQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.2 tail(n) over explicit order.
    "q17_tail" -> QueryDef(
      (s, d) => Projections.tailBy(Tables.lineitem(s, d),
          Seq(col("l_orderkey"), col("l_linenumber")), 20)
        .select("l_orderkey", "l_linenumber", "l_returnflag"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
             ORDER BY l_orderkey DESC, l_linenumber DESC LIMIT 20""")),

    // §2.8 unary bit_invert + binary bitwise ops
    // (config.py:117-119 UnaryOpCode.BIT_INVERT).
    "q81_bitops" -> QueryDef(
      (s, d) => Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        PandasArith.bitInvert(col("l_linenumber")).as("inv"),
        col("l_orderkey").bitwiseAND(lit(255L)).as("band"),
        col("l_orderkey").bitwiseOR(col("l_linenumber").cast("long")).as("bor"),
        col("l_orderkey").bitwiseXOR(col("l_linenumber").cast("long")).as("bxor")),
      Some("""SELECT l_orderkey, l_linenumber,
             ~l_linenumber AS inv,
             l_orderkey & 255 AS band,
             l_orderkey | CAST(l_linenumber AS BIGINT) AS bor,
             xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS bxor
             FROM lineitem""")),

    // §2.5 global cummin through the two-phase distributed scan (MinOp).
    "q82_cummin_global" -> QueryDef(
      (s, d) => Cumulative.globalScan(
          Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice"),
          Seq("l_orderkey", "l_linenumber", "l_extendedprice"),
          "l_extendedprice", "cm", Cumulative.MinOp)
        .select(col("l_orderkey"), col("l_linenumber"), Num.rnd(col("cm"), 2).as("cum_min")),
      Some("""SELECT l_orderkey, l_linenumber,
             round(min(l_extendedprice) OVER (ORDER BY l_orderkey, l_linenumber, l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_min
             FROM lineitem""")),

    // streaming custom state: flatMapGroupsWithState sessionization —
    // output equals the batch gaps-and-islands oracle.
    "q83_stream_sessionize" -> QueryDef(
      (s, d) => EventStreams.sessionizeStreaming(s, d, 30),
      Some("""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
             CAST(count(*) AS BIGINT) AS n_events
             FROM (SELECT user_id,
                   CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS new_session
                   FROM (SELECT user_id, epoch_us(ts) AS tus,
                         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS prev
                         FROM events))
             GROUP BY user_id""")),

    // bucketed co-located join: both sides bucketed by the key → the
    // join runs with NO Exchange (verified in BucketingSpec). This is
    // the pre-partitioned-join path the reference tracks with
    // _partition_keys (core/table.py:222-268) — in Spark, bucketing
    // makes it durable across jobs.
    "q84_bucketed_join" -> QueryDef(
      (s, d) => {
        val safe = d.replaceAll("[^A-Za-z0-9]", "_")
        val ot = s"graft_orders_b$safe"
        val ct = s"graft_cust_b$safe"
        // A fresh session has an empty in-memory catalog but the
        // warehouse dirs may survive from a previous run — clear them (in
        // the warehouse this session writes to) or saveAsTable fails with
        // LOCATION_ALREADY_EXISTS.
        def rmrf(name: String): Unit = {
          val p = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), name)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
        if (!s.catalog.tableExists(ot)) {
          rmrf(ot.toLowerCase); rmrf(ct.toLowerCase)
          Tables.orders(s, d).write.mode("overwrite")
            .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
          Tables.customer(s, d)
            .withColumnRenamed("c_custkey", "o_custkey")
            .write.mode("overwrite")
            .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ct)
        }
        s.table(ot).join(s.table(ct), "o_custkey")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), Num.sumMoney(col("o_totalprice")).as("total"))
      },
      Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY 1""")),

    // deterministic salted join (hot-key mitigation) — same result as
    // the plain join, shuffle spread over (key, salt).
    "q85_salted_join" -> QueryDef(
      (s, d) => Skew.saltedJoin(
          Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_suppkey"),
          Tables.supplier(s, d).withColumnRenamed("s_suppkey", "l_suppkey"),
          "l_suppkey", 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n")),
      Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS n
             FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             GROUP BY 1"""))
  )
}
