package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.layout.ZOrder

/** Data-layout surface: Z-order clustering write + multi-dimensional
  * range scan. The oracle checks the ROUND TRIP (the rectangle
  * aggregate over the re-read z-ordered copy must equal the same
  * aggregate over the original table); the pruning effect itself —
  * fewer parquet row groups read than a linearly-sorted layout — is
  * asserted by recordsRead metrics in ZOrderSpec, where layout is the
  * only variable.
  */
object LayoutQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    "q212_zorder_layout" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("zorder", d)
        ZOrder.clusterWrite2(Tables.lineitem(s, d), "l_partkey", "l_orderkey",
          path, numFiles = 8, blockSize = Some(64 * 1024))
        s.read.parquet(path)
          .filter(col("l_partkey").between(10, 50) &&
            col("l_orderkey").between(100, 1000))
          .agg(count(lit(1)).as("n"),
            round(sum(Num.dec2(col("l_quantity"))), 2).cast("double").as("qty"),
            Num.sumMoney(col("l_extendedprice")).as("price"),
            sum(col("l_partkey")).as("pk_sum"),
            sum(col("l_orderkey")).as("ok_sum"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS qty,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS price,
             CAST(sum(l_partkey) AS BIGINT) AS pk_sum,
             CAST(sum(l_orderkey) AS BIGINT) AS ok_sum
             FROM lineitem
             WHERE l_partkey BETWEEN 10 AND 50
               AND l_orderkey BETWEEN 100 AND 1000"""))
  )
}
