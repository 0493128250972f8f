package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Reshape, WeightedSample}
import graft.text.Bm25

/** Regression tests for the round-9 advisory fixes:
  *  1. WeightedSample: NaN weights passed the `> 0` guard (nan-safe
  *     ordering treats NaN as greater than everything) and their NaN
  *     A-ES key sorted FIRST — NaN-weight rows were deterministically
  *     sampled, violating "never sampled".
  *  2. Reshape.melt widened EVERY mixed-numeric combination to double,
  *     silently losing precision for long/decimal beyond 2^53.
  *  3. Bm25.topKBatch: a term duplicated WITHIN one query mapped to the
  *     same union-vocab slot twice and its contribution summed twice —
  *     while the single-query topK rejects the same input.
  *  4. Stream staging skipped the copy whenever the destination
  *     existed — a regenerated corpus silently paired a STALE stream
  *     input with a fresh oracle.
  */
class BugfixR9Spec extends SparkSpec {
  import spark.implicits._

  test("weighted sample never emits NaN-weight rows") {
    val df = Seq(
      (1L, Double.NaN), (2L, Double.NaN), (3L, 1.0), (4L, 2.0),
      (5L, 0.0), (6L, -1.0)).toDF("id", "w")
    // k exceeds the valid-weight population → every valid row returns,
    // and no NaN/zero/negative row may back-fill
    val got = WeightedSample.take(df, "id", "w", k = 5).select("id")
      .as[Long].collect().toSet
    assert(got == Set(3L, 4L))
    val grp = WeightedSample.takePerGroup(
      df.withColumn("g", lit("a")), Seq("g"), "id", "w", k = 5)
      .select("id").as[Long].collect().toSet
    assert(grp == Set(3L, 4L))
  }

  test("melt long+int keeps long exactly (no double round-trip)") {
    val big = (1L << 53) + 1 // not representable in a double
    val df = Seq((1L, big, 7)).toDF("id", "l", "i")
    val m = Reshape.melt(df, Seq("id"), Seq("l", "i"))
    assert(m.schema("value").dataType == LongType)
    assert(m.filter(col("variable") === "l").select("value")
      .as[Long].head() == big)
  }

  test("melt decimal+long keeps decimal precision") {
    val df = Seq((1L, BigDecimal("12345678901234567890.12"), 5L))
      .toDF("id", "d", "l")
      .select(col("id"), col("d").cast(DecimalType(22, 2)).as("d"), col("l"))
    val m = Reshape.melt(df, Seq("id"), Seq("d", "l"))
    assert(m.schema("value").dataType == DecimalType(22, 2))
    assert(m.filter(col("variable") === "d").select("value")
      .as[java.math.BigDecimal].head() ==
      new java.math.BigDecimal("12345678901234567890.12"))
  }

  test("melt float+double and int+short widen as expected") {
    val df = Seq((1L, 1.5f, 2.5d, 3, 4.toShort)).toDF("id", "f", "d", "i", "s")
    assert(Reshape.melt(df, Seq("id"), Seq("f", "d"))
      .schema("value").dataType == DoubleType)
    assert(Reshape.melt(df, Seq("id"), Seq("i", "s"))
      .schema("value").dataType == IntegerType)
  }

  test("bm25 topKBatch rejects a query with duplicate terms") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Bm25.topKBatch(docs, "doc_id", "text",
        Seq(1L -> Seq("a", "b"), 2L -> Seq("c", "c")), k = 3)
    }
    assert(e.getMessage.contains("2") && e.getMessage.contains("c"))
  }

  test("stream staging re-copies when the source changes") {
    import graft.streaming.EventStreams
    val fixture = graft.tools.Staging.dir("bugfix_r9_events", sf)
    val p = Paths.get(fixture)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    Files.createDirectories(p)
    def stage(ids: Seq[Long]): Unit = {
      val tmp = s"$fixture/stage_tmp"
      ids.map(i => (i, java.time.LocalDateTime.of(2024, 1, 1, 0, i.toInt, 0),
          i % 3, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), Paths.get(s"$fixture/events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stage(1L to 4L)
    assert(EventStreams.dedupCounts(spark, fixture)
      .agg(sum("n_unique")).as[Long].head() == 4L)
    stage(1L to 9L) // regenerated corpus: same path, new bytes
    assert(EventStreams.dedupCounts(spark, fixture)
      .agg(sum("n_unique")).as[Long].head() == 9L)
  }
}
