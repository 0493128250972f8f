package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.ArrowIpc

/** Arrow IPC export/import — the Spark-native stand-in for the
  * reference's `to_pandas` Arrow handoff (`core/runtime.py:531-758`).
  * Round-trips must be value-exact for every supported type, survive
  * nulls, empty partitions, and multi-batch files, and the written
  * stream must be a REAL Arrow IPC stream (magic-checked).
  */
class ArrowIpcSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = graft.tools.Staging.dir(s"arrow_$name", sf)

  test("full-type round-trip is value-exact, nulls included") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("tsn", TimestampNTZType),
      StructField("ef", ArrayType(FloatType, containsNull = false)),
      StructField("ed", ArrayType(DoubleType, containsNull = false))))
    val ts = Timestamp.valueOf("2021-06-01 12:34:56.789012")
    val rows = Seq(
      Row(true, 1, 10L, 1.5f, 2.5, "a", Array[Byte](1, 2), Date.valueOf("2020-02-29"),
        ts, java.time.LocalDateTime.parse("2021-06-01T12:34:56.789012"),
        Seq(1.0f, -2.5f), Seq(0.125, 3.75)),
      Row(false, -2, -20L, -0.25f, -0.5, "κόσμε", Array[Byte](), Date.valueOf("1969-12-31"),
        Timestamp.valueOf("1969-12-31 23:59:59.000001"),
        java.time.LocalDateTime.parse("1969-12-31T23:59:59.000001"),
        Seq(0.0f), Seq[Double]()),
      Row(null, null, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp("types")
    ArrowIpc.write(df, dir)
    val back = ArrowIpc.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      schema.map(f => (f.name, f.dataType)))
    val got = back.collect().sortBy(r => Option(r.getAs[String]("s")).getOrElse(""))
    val want = rows.sortBy(r => Option(r.getAs[String](5)).getOrElse(""))
    got.zip(want).foreach { case (g, w) =>
      (0 until schema.length).foreach { c =>
        (g.get(c), w.get(c)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.toSeq === b.toSeq, s"col $c")
          case (a, b) => assert(a === b, s"col $c")
        }
      }
    }
  }

  test("written parts are real Arrow IPC streams; schema survives empty data") {
    val dir = tmp("magic")
    ArrowIpc.write(spark.range(0, 100).toDF("id")
      .withColumn("v", col("id").cast("double") / 4), dir, batchRows = 16)
    // stream format starts with 0xFFFFFFFF continuation + metadata length
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val head = java.nio.file.Files.readAllBytes(part.toPath).take(4)
    assert(head.forall(_ == -1), head.toSeq) // 4 x 0xFF
    // multi-batch (100 rows / 16 per batch) came back whole
    val back = ArrowIpc.read(spark, dir)
    assert(back.count() === 100)
    assert(back.agg(sum("id")).head.getLong(0) === 4950L)

    val empty = tmp("empty")
    ArrowIpc.write(spark.range(0, 10).toDF("id").filter(col("id") < 0), empty)
    val eback = ArrowIpc.read(spark, empty)
    assert(eback.schema.fieldNames.toSeq === Seq("id"))
    assert(eback.count() === 0)
  }

  test("lz4/zstd-compressed streams round-trip and actually shrink") {
    // highly repetitive strings: compression must bite
    val df = spark.range(0, 20000).toDF("id")
      .withColumn("s", concat(lit("x" * 50), (col("id") % 7).cast("string")))
    def bytesOf(dir: String): Long = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val plain = tmp("comp_none"); val lz4 = tmp("comp_lz4"); val zstd = tmp("comp_zstd")
    ArrowIpc.write(df, plain)
    ArrowIpc.write(df, lz4, compression = Some("lz4"))
    ArrowIpc.write(df, zstd, compression = Some("zstd"))
    assert(bytesOf(lz4) < bytesOf(plain) / 2, s"${bytesOf(lz4)} vs ${bytesOf(plain)}")
    assert(bytesOf(zstd) < bytesOf(plain) / 2, s"${bytesOf(zstd)} vs ${bytesOf(plain)}")
    Seq(lz4, zstd).foreach { dir =>
      val back = ArrowIpc.read(spark, dir)
      assert(back.count() === 20000)
      assert(back.agg(sum(length(col("s")))).head.getLong(0) === 20000L * 51)
    }
    val e = intercept[IllegalArgumentException](
      ArrowIpc.write(df, tmp("comp_bad"), compression = Some("snappy")))
    assert(e.getMessage.contains("compression"))
  }

  test("unsupported types fail fast on the driver with a named error") {
    val df = spark.range(3).toDF("id")
      .withColumn("m", map(col("id").cast("string"), col("id")))
    val e = intercept[IllegalArgumentException](
      ArrowIpc.write(df, tmp("unsupported")))
    assert(e.getMessage.contains("ArrowIpc"))
  }

  test("embeddings table round-trips through Arrow exactly") {
    val src = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val dir = tmp("embed")
    ArrowIpc.write(src, dir)
    val back = ArrowIpc.read(spark, dir)
    val a = src.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = back.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(b(k) === v, s"id $k") }
  }
}
