package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.CsvPandas
import graft.multimodal.Multimodal

class IoMultimodalSpec extends SparkSpec {

  test("CsvPandas: names/usecols/na_values/sep round-trip") {
    val dir = graft.tools.Staging.dir("csv_spec", sf)
    val src = Tables.nation(spark, sf)
    CsvPandas.write(src, dir, header = false, sep = "|", singleFile = true)
    val got = CsvPandas.read(spark, dir, CsvPandas.ReadOptions(
      sep = "|", header = false,
      names = Seq("nk", "name", "rk"),
      schema = Some(StructType(Seq(
        StructField("c0", IntegerType), StructField("c1", StringType),
        StructField("c2", IntegerType)))),
      usecols = Seq("nk", "name")))
    assert(got.columns.toSeq === Seq("nk", "name"))
    assert(got.count() === src.count())
  }

  test("CsvPandas: nullValue sentinel produces nulls") {
    val dir = graft.tools.Staging.dir("csv_spec_na", sf)
    import spark.implicits._
    CsvPandas.write(Seq(("a", "NA"), ("b", "x")).toDF("k", "v"), dir, singleFile = true)
    val got = CsvPandas.read(spark, dir, CsvPandas.ReadOptions(
      naValues = Seq("NA"),
      schema = Some(StructType(Seq(
        StructField("k", StringType), StructField("v", StringType))))))
    assert(got.filter(col("v").isNull).count() === 1)
  }

  test("CsvPandas: every na_values sentinel is honored, not just the first") {
    val dir = graft.tools.Staging.dir("csv_spec_multi_na", sf)
    import spark.implicits._
    CsvPandas.write(
      Seq(("a", "NA", "1"), ("b", "n/a", "n/a"), ("c", "x", "3"), ("d", "-", "4"))
        .toDF("k", "v", "n"), dir, singleFile = true)
    val got = CsvPandas.read(spark, dir, CsvPandas.ReadOptions(
      naValues = Seq("NA", "n/a", "-"),
      schema = Some(StructType(Seq(
        StructField("k", StringType), StructField("v", StringType),
        StructField("n", IntegerType))))))
    assert(got.filter(col("v").isNull).count() === 3)   // NA, n/a, -
    // int column: "n/a" can't parse → null under PERMISSIVE
    assert(got.filter(col("n").isNull).count() === 1)
    assert(got.filter(col("v") === "x").count() === 1)
  }

  test("dynamic partition overwrite rewrites only the touched partitions") {
    val dir = graft.tools.Staging.dir("dyn_overwrite_spec", sf)
    val li = Tables.lineitem(spark, sf)
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val before = spark.read.parquet(dir)
    val nA = before.filter(col("l_returnflag") === "A").count()
    val nR = before.filter(col("l_returnflag") === "R").count()
    assert(nA > 0 && nR > 0)
    // overwrite ONLY the R partition with its first 10 rows
    val replacement = li.filter(col("l_returnflag") === "R").limit(10)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try replacement.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val after = spark.read.parquet(dir)
    assert(after.filter(col("l_returnflag") === "A").count() === nA) // untouched
    assert(after.filter(col("l_returnflag") === "R").count() === 10) // replaced
  }

  test("CsvPandas: multi-file read unions all paths") {
    val d1 = graft.tools.Staging.dir("csv_multi_1", sf)
    val d2 = graft.tools.Staging.dir("csv_multi_2", sf)
    import spark.implicits._
    CsvPandas.write(Seq(("a", 1), ("b", 2)).toDF("k", "v"), d1, singleFile = true)
    CsvPandas.write(Seq(("c", 3)).toDF("k", "v"), d2, singleFile = true)
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType)))
    val got = CsvPandas.readPaths(spark, Seq(d1, d2),
      CsvPandas.ReadOptions(schema = Some(schema)))
    assert(got.count() === 3)
    assert(got.agg(sum(col("v"))).head().getLong(0) === 6L)
  }

  test("CsvPandas: na_rep write round-trips nulls through the text sink") {
    val dir = graft.tools.Staging.dir("csv_narep_spec", sf)
    import spark.implicits._
    val src = Seq(("a", Some(1)), ("b", None), ("c", Some(3)))
      .toDF("k", "v")
    CsvPandas.write(src, dir, singleFile = true, naRep = "__NA__")
    val raw = spark.read.text(dir).collect().map(_.getString(0)).mkString("\n")
    assert(raw.contains("__NA__"))
    val got = CsvPandas.read(spark, dir, CsvPandas.ReadOptions(
      naValues = Seq("__NA__"),
      schema = Some(StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType))))))
    assert(got.filter(col("v").isNull).count() === 1)
  }

  test("CsvPandas: gzip-compressed write reads back transparently") {
    val dir = graft.tools.Staging.dir("csv_spec_gz", sf)
    val src = Tables.region(spark, sf)
    CsvPandas.write(src, dir, singleFile = true, compression = Some("gzip"))
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".csv.gz")), files.mkString(","))
    val got = CsvPandas.read(spark, dir, CsvPandas.ReadOptions(
      schema = Some(StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))))
    // value-level equality with the original, not just row count
    val want = src.select("r_regionkey", "r_name").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got.select("r_regionkey", "r_name").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet === want)
  }

  test("Casts.strptimeToJava covers the reference's directive set") {
    import graft.functions.Casts
    import spark.implicits._
    assert(Casts.strptimeToJava("%Y-%m-%d %H:%M:%S.%f") ===
      "yyyy-MM-dd HH:mm:ss.SSSSSS")
    assert(Casts.strptimeToJava("%y %j %I:%M %p") === "yy DDD hh:mm a")
    assert(Casts.strptimeToJava("100%% %Y") === "100% yyyy")
    // %z offset: the parsed instant lands at the right UTC micros
    val r = Seq(("2021-06-01 12:00:00 +0230", "2021-06-01 12:00:00 +0000"))
      .toDF("a", "b")
      .select(
        unix_micros(Casts.toDatetime(col("a"), "%Y-%m-%d %H:%M:%S %z")).as("ta"),
        unix_micros(Casts.toDatetime(col("b"), "%Y-%m-%d %H:%M:%S %z")).as("tb"))
      .head()
    // +0230 local noon is 09:30 UTC; +0000 noon is 12:00 UTC -> 2.5h apart
    assert(r.getLong(1) - r.getLong(0) === 9000L * 1000000L)
  }

  test("GFrame topKPerKey and at()") {
    val g = graft.api.GFrame(Tables.orders(spark, sf))
    val top2 = g.topKPerKey(Seq("o_custkey"), Seq(("o_totalprice", true), ("o_orderkey", false)), 2)
    assert(top2.df.groupBy("o_custkey").count()
      .agg(max("count")).head().getLong(0) <= 2)
    val byKey = g.setIndex("o_orderkey")
    val k = Tables.orders(spark, sf).select("o_orderkey").head().getLong(0)
    assert(byKey.at(k, "o_custkey").isDefined)
  }

  test("CsvPandas: true_values/false_values map to booleans") {
    val dir = graft.tools.Staging.dir("csv_spec_bool", sf)
    import spark.implicits._
    CsvPandas.write(Seq(("a", "yes"), ("b", "no"), ("c", "true")).toDF("k", "flag"),
      dir, singleFile = true)
    val got = CsvPandas.read(spark, dir, CsvPandas.ReadOptions(
      trueValues = Seq("yes"), falseValues = Seq("no"),
      schema = Some(StructType(Seq(
        StructField("k", StringType), StructField("flag", BooleanType))))))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got === Map("a" -> true, "b" -> false, "c" -> true))
  }

  test("CsvPandas: skiprows and skipfooter drop leading/trailing lines") {
    val dir = graft.tools.Staging.dir("csv_spec_skip", sf)
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.writeString(p.resolve("f.csv"),
      "garbage header line\nmore garbage\n1,a\n2,b\n3,c\ntrailer\n")
    val df = CsvPandas.readSkipRows(spark, s"$dir/f.csv",
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))),
      skiprows = 2, skipfooter = 1)
    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // line numbering must be the two-phase distributed form, never an
    // un-partitioned window funneling the file through one task
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange SinglePartition"))
  }

  test("CsvPandas: schema peek infers dtypes from the head only, one full pass") {
    val dir = graft.tools.Staging.dir("csv_spec_peek", sf)
    import spark.implicits._
    CsvPandas.write(Seq((1L, 1.5, "a", "2024-01-01"), (2L, 2.5, "b", "2024-01-02"))
      .toDF("i", "d", "s", "t"), dir, singleFile = true)
    val got = CsvPandas.read(spark, dir) // no schema → 3-row peek
    assert(got.schema.map(f => f.name -> f.dataType.typeName).toMap ===
      Map("i" -> "integer", "d" -> "double", "s" -> "string", "t" -> "date"))
    assert(got.count() === 2)
    // the full-pass path stays available and agrees on this input
    val full = CsvPandas.read(spark, dir, CsvPandas.ReadOptions(inferRows = 0))
    assert(full.schema === got.schema)
  }

  test("multimodal: frame sampling covers the payload exactly") {
    val bt = Multimodal.asBinaryTable(Tables.documents(spark, sf).limit(20), "text")
    val r = bt.select(
      col("meta.n_bytes").as("n"),
      size(Multimodal.sampleFrames(col("payload"), 100)).as("frames"),
      aggregate(transform(Multimodal.sampleFrames(col("payload"), 100),
        f => octet_length(f)), lit(0), (a, v) => a + v).as("sumBytes"))
      .collect()
    r.foreach { row =>
      assert(row.getInt(1) === (row.getInt(0) - 1) / 100 + 1)
      assert(row.getInt(2) === row.getInt(0)) // frames partition the bytes
    }
  }

  test("multimodal: stub decode is deterministic and normalized") {
    val bt = Multimodal.asBinaryTable(Tables.documents(spark, sf).limit(50), "text")
    val f1 = Multimodal.fakeDecodeFeatures(bt).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val f2 = Multimodal.fakeDecodeFeatures(bt).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(f1 === f2)
    f1.values.foreach(v => assert(math.abs(v.sum - 1.0) < 1e-9))
  }

  test("approx_count_distinct within 10% of exact") {
    val li = Tables.lineitem(spark, sf)
    val r = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey")).as("approx")).head()
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.10) // HLL default rsd is 5%; allow 2x
  }

  test("GFrame valueCounts and nunique") {
    val vc = graft.api.GFrame(Tables.orders(spark, sf)).valueCounts("o_orderstatus")
    val rows = vc.df.collect()
    assert(rows.map(_.getLong(1)).toSeq === rows.map(_.getLong(1)).sortBy(-_).toSeq)
    val nu = graft.api.GFrame(Tables.orders(spark, sf)).nunique("o_orderstatus", "o_custkey")
    assert(nu.df.head().getLong(0) === rows.length.toLong)
  }
}
