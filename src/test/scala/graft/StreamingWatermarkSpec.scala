package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Append-mode watermark semantics over a multi-batch replay: closed
  * windows emit exactly once, late events beyond the watermark are
  * dropped — the state-bounding contract that makes streaming aggs safe
  * on unbounded sources.
  */
class StreamingWatermarkSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(watchDir: String, name: String,
                         rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
    val tmp = s"$watchDir/__stage_$name"
    rows.toDF("id", "ts").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$watchDir/$name"))
    // distinct mod times → deterministic file order with maxFilesPerTrigger=1
    Thread.sleep(1100)
  }

  test("checkpoint recovery: restart resumes aggregation state without reprocessing") {
    val dir = graft.tools.Staging.dir("cp_stream_spec", sf)
    val cp = graft.tools.Staging.dir("cp_stream_spec_ckpt", sf)
    Seq(dir, cp).foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.delete)
      }
      Files.createDirectories(p)
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType)))
    val sink = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
          .collect().foreach(r => sink.synchronized {
            sink += (r.getString(0) -> r.getLong(1)) })
        ()
      }.start()

    writeBatch(dir, "b1.parquet", Seq(
      (1L, ts("2024-01-01 10:05:00")), (2L, ts("2024-01-01 10:30:00"))))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(sink.toSeq === Seq("10:00" -> 2L))

    // new data for the SAME window arrives while the query is down
    writeBatch(dir, "b2.parquet", Seq((3L, ts("2024-01-01 10:45:00"))))
    sink.clear()
    val q2 = start(); q2.processAllAvailable()
    val reprocessed = q2.recentProgress.map(_.numInputRows).sum
    q2.stop()
    // recovered state: the update for the window counts ALL 3 events,
    // but only b2's single row was read after restart
    assert(sink.toSeq === Seq("10:00" -> 3L))
    assert(reprocessed === 1, s"restart reprocessed $reprocessed rows")
  }

  test("append mode emits closed windows once and drops late events") {
    val dir = graft.tools.Staging.dir("wm_stream_spec", sf)
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.delete)
    }
    Files.createDirectories(p)

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Watermark is a LOWER-BOUND guarantee: a late row is only
    // guaranteed dropped once its window's state has been EVICTED
    // (observed on Spark 4.1: late rows merge while state is live).
    // Hence three batches: data → watermark-advance (eviction emits the
    // closed window) → late row against evicted state.
    // Batch lifecycle is restore→merge→save(evict), and the late-data
    // filter uses the PREVIOUS batch's watermark — so the guaranteed
    // drop needs the late row to arrive after the batch that evicted
    // its window:
    writeBatch(dir, "b1.parquet", Seq(
      (1L, ts("2024-01-01 10:05:00")), (2L, ts("2024-01-01 10:30:00"))))
    // raises the watermark to 11:30 (> 11:00) for the NEXT batch
    writeBatch(dir, "b2.parquet", Seq((3L, ts("2024-01-01 12:30:00"))))
    // this batch runs with wm=11:30 → 10:00-window emitted + evicted
    writeBatch(dir, "b3.parquet", Seq((5L, ts("2024-01-01 13:30:00"))))
    // late event against evicted state → guaranteed dropped
    writeBatch(dir, "b4.parquet", Seq((4L, ts("2024-01-01 10:45:00"))))

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType)))
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_spec").start()
    q.processAllAvailable()
    val batches = q.recentProgress.map(pr =>
      (pr.batchId, pr.numInputRows, pr.eventTime.get("watermark")))
    q.stop()
    info(s"batches: ${batches.mkString(" | ")}")

    val out = spark.table("wm_spec")
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the 10:00 window closed with ONLY the on-time events (late id=4
    // dropped); the 12:00/13:00 windows are still open → not emitted
    assert(out === Map("10:00" -> 2L))
  }
}
