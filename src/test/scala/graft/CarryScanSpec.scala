package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheEntries

import graft.operators.{Cumulative, Fill, RollingGlobal}
import graft.plans.CarryScanExec

/** The global two-phase scans run as one `CarryScan` operator: building
  * them fires no job, repeated calls return the same rows and leave
  * nothing cached, and concurrent sessions agree with a single one.
  */
class CarryScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def run(s: SparkSession, name: String): Seq[String] =
    rowsOf(SparkEntry.queries(name)(s, sf))

  test("building each global scan fires no job and plans one CarryScan over one range exchange") {
    val df = (0 until 200).map(i => (((i * 37) % 200).toLong,
      if (i % 7 == 0) None else Some(i / 8.0))).toDF("k", "v")
    val built = Seq[(String, () => DataFrame)](
      "globalScan" -> (() =>
        Cumulative.globalScan(df, Seq("k"), "v", "c", Cumulative.SumOp)),
      "globalScanRowNumber" -> (() =>
        Cumulative.globalScanRowNumber(df, Seq("k"), "v", "c", "n")),
      "globalRowNumberBy" -> (() =>
        Cumulative.globalRowNumberBy(df, Seq(col("k").desc_nulls_last), "n")),
      "trailing" -> (() => RollingGlobal.trailing(df, Seq("k"), "v", 3, "r")),
      "ffillGlobal" -> (() => Fill.ffillGlobal(df, Seq("k"), "v")))
    built.foreach { case (name, build) =>
      val (out, jobs) = jobsWhile(build())
      assert(jobs == 0, s"$name fired $jobs jobs while built")
      val plan = out.queryExecution.executedPlan
      assert(collect(plan) { case s: CarryScanExec => s }.size == 1, s"$name\n$plan")
      val ranges = collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.size == 1, s"$name\n$plan")
      assert(out.count() == 200, name)
    }
  }

  test("a one-partition child runs no summary job and scans the same rows") {
    def scanned(s: SparkSession): DataFrame = {
      val df = s.createDataFrame((0 until 200).map(i => (((i * 37) % 200).toLong, i / 8.0)))
        .toDF("k", "v")
      Cumulative.globalScanRowNumber(df, Seq("k"), "v", "c", "n")
    }
    val one = spark.newSession()
    one.conf.set("spark.sql.adaptive.enabled", "false")
    one.conf.set("spark.sql.shuffle.partitions", "1")
    val out = scanned(one)
    val scan = collect(out.queryExecution.executedPlan) { case s: CarryScanExec => s }
    assert(scan.size == 1 && scan.head.child.outputPartitioning.numPartitions == 1)
    // the range exchange's map stage and the scan's pass: one job, no summary job
    val (rows, jobs) = jobsWhile(rowsOf(out))
    assert(jobs == 1, s"$jobs jobs for a one-partition scan")
    assert(rows.size == 200 && rows == rowsOf(scanned(spark)))
  }

  test("q46 repeated 12 times in one session: same rows each call, nothing left cached") {
    val sc = spark.sparkContext
    val (persisted0, cached0) = (sc.getPersistentRDDs.keySet, CacheEntries.count(spark))
    val outs = (1 to 12).map(_ => run(spark, "q46_cumsum_global"))
    assert(outs.head.nonEmpty)
    assert(outs.forall(_ == outs.head))
    assert(sc.getPersistentRDDs.keySet == persisted0)
    assert(CacheEntries.count(spark) == cached0)
  }

  test("q46 and q230 on two concurrent sessions match a single session") {
    val names = Seq("q46_cumsum_global", "q230_rank_methods")
    val single = names.map(run(spark, _))
    val sessions = Seq.fill(2)(spark.newSession())
    val concurrent = sessions.map(s => Future(names.map(run(s, _))))
    Await.result(Future.sequence(concurrent), 10.minutes)
      .foreach(got => assert(got == single))
  }
}
