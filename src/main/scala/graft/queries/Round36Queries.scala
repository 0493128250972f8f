package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-36 additions: exact discrete quantiles as one aggregate. */
object Round36Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // Exact discrete quantiles of the price column scaled to integer
    // cents: one aggregate computes the count, the median and the p90
    // (`Num.quantileDisc`, DuckDB's `quantile_disc`). This is the exact
    // quantile path beside `percentile` (interpolating) and the q271
    // histogram sketch (bounded, bracketing); the oracle pins the
    // semantics.
    "q354_bisect_quantiles" -> QueryDef(
      (s, d) => {
        val cents = Tables.lineitem(s, d)
          .select(expr("cast(round(l_extendedprice * 100) as long)").as("c"))
        // the quantiles' doubles hold the cents exactly: a decimal(15,2)
        // price is below 2^53 cents
        def dollars(i: Int) = col("q")(i).cast("bigint") / 100.0
        cents.agg(count(lit(1)).as("n"), Num.quantileDisc("c", 0.5, 0.9).as("q"))
          .select(col("n"), dollars(0).as("median"), dollars(1).as("p90"))
      },
      Some("""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
            FROM lineitem)
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(quantile_disc(c, 0.5) AS DOUBLE) / 100.0 AS median,
            CAST(quantile_disc(c, 0.9) AS DOUBLE) / 100.0 AS p90
          FROM c"""))
  )
}
