package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.layout.ZOrder

class ZOrderSpec extends SparkSpec {

  /** Total parquet records materialized (post row-group pruning)
    * while evaluating `f`. The vectorized reader only reads rows from
    * row groups whose stats survive the pushed filters, so this
    * measures the pruning effect directly.
    */
  private def recordsRead(f: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          acc.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    acc.get()
  }

  test("zkey2 interleaves bits (known values)") {
    // z(x=0b11, y=0b10): x bits at even positions (1 + 4), y bit 1 at
    // position 3 (8) → 0b1101 = 13
    val row = spark.range(1).select(
      ZOrder.zkey2(lit(3L), lit(2L)).as("z"),
      ZOrder.zkey2(lit(0L), lit(0L)).as("z0"),
      ZOrder.zkey2(lit(0xffffffffL), lit(0L)).as("zx"),
      ZOrder.zkey2(lit(0L), lit(0xffffffffL)).as("zy")).head()
    assert(row.getLong(0) == 13L)
    assert(row.getLong(1) == 0L)
    assert(row.getLong(2) == 0x5555555555555555L)
    assert(row.getLong(3) == 0xaaaaaaaaaaaaaaaaL)
  }

  test("zkey general k-D matches zkey2 on 2-D") {
    val df = Tables.lineitem(spark, sf).limit(500)
      .select(col("l_partkey").as("a"), col("l_orderkey").as("b"))
    val n = df.filter(
      ZOrder.zkey2(col("a"), col("b")) =!=
        ZOrder.zkey(Seq(col("a"), col("b")), bits = 16)).count()
    assert(n == 0)
  }

  test("scaled clamps to the grid") {
    val r = spark.range(1).select(
      ZOrder.scaled(lit(-5), lit(0), lit(100), 8).as("lo"),
      ZOrder.scaled(lit(500), lit(0), lit(100), 8).as("hi"),
      ZOrder.scaled(lit(100), lit(0), lit(100), 8).as("edge"),
      ZOrder.scaled(lit(7), lit(7), lit(7), 8).as("degenerate")).head()
    assert(r.getLong(0) == 0L)
    assert(r.getLong(1) == 255L)
    assert(r.getLong(2) == 255L)
    assert(r.getLong(3) == 0L)
  }

  test("z-ordered layout round-trips exactly and prunes a 2-D rectangle") {
    val li = Tables.lineitem(spark, sf)
    val zPath = graft.tools.Staging.dir("ztest_z", sf)
    val linPath = graft.tools.Staging.dir("ztest_linear", sf)
    ZOrder.clusterWrite2(li, "l_partkey", "l_orderkey", zPath,
      numFiles = 4, blockSize = Some(32 * 1024))
    // control: same data, same row-group granule, sorted on ONE column
    li.repartitionByRange(4, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").option("parquet.block.size", "32768")
      .parquet(linPath)

    // narrow in BOTH dims (20% x 13%) — the z-order sweet spot. A
    // rectangle wide in the second dim degrades toward the linear
    // layout's partkey-only pruning (measured: 60%-wide orderkey loses).
    val rect = (p: String) => spark.read.parquet(p)
      .filter(col("l_partkey").between(10, 50) &&
        col("l_orderkey").between(100, 300))

    // correctness: the clustered copy holds exactly the same rows
    val expect = li.filter(col("l_partkey").between(10, 50) &&
      col("l_orderkey").between(100, 300))
    assert(rect(zPath).count() == expect.count())
    assert(rect(zPath).agg(sum(col("l_extendedprice").cast("decimal(18,2)")),
        sum(col("l_linenumber"))).head() ==
      expect.agg(sum(col("l_extendedprice").cast("decimal(18,2)")),
        sum(col("l_linenumber"))).head())

    // pruning: z-order reads fewer parquet records for the rectangle
    // than the single-column layout — l_orderkey's bounds are useless
    // to the linear layout, but bound each Morton run.
    var zRead = 0L; var linRead = 0L
    zRead = recordsRead { rect(zPath).count() }
    linRead = recordsRead { rect(linPath).count() }
    assert(zRead > 0 && linRead > 0)
    assert(zRead < linRead,
      s"z-order read $zRead records vs linear $linRead — no pruning win")
  }
}
