package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** The testdata dtype tripwire (SchemaContract): all three SF dirs
  * must satisfy the pinned contract, a deliberately-mutated fixture
  * must fail it loudly, a missing table fails naming its path, and
  * reading events leaves the session conf as it was.
  */
class SchemaContractSpec extends SparkSpec {

  test("all SF dirs satisfy the contract") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { d =>
      SchemaContract.check(spark, s"/root/testdata/$d")
    }
  }

  test("a retyped column fails the check and names the column") {
    val dir = graft.tools.Staging.dir("contract_mutated", sf)
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    // stage a corpus whose events.ts was silently retyped to string —
    // exactly the class of driver-side drift the contract must catch
    Tables.names.foreach { t =>
      val df = spark.read.parquet(s"$sf/$t.parquet")
      val out = if (t == "events") df.withColumn("ts", col("ts").cast("string")) else df
      out.limit(5).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val e = intercept[IllegalStateException](SchemaContract.check(spark, dir))
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("string"))
  }

  test("a dropped column fails the check") {
    val dir = graft.tools.Staging.dir("contract_mutated2", sf)
    Tables.names.foreach { t =>
      val df = spark.read.parquet(s"$sf/$t.parquet")
      val out = if (t == "documents") df.drop("lang") else df
      out.limit(5).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val e = intercept[IllegalStateException](SchemaContract.check(spark, dir))
    assert(e.getMessage.contains("documents"))
  }

  test("a missing table fails naming its path") {
    val sfDir = graft.tools.Staging.dir("tables_missing", sf)
    assert(!Files.exists(Paths.get(sfDir)))
    val e = intercept[java.io.FileNotFoundException](Tables.documents(spark, sfDir))
    assert(e.getMessage.contains(s"$sfDir/documents.parquet"))
    val f = intercept[java.io.FileNotFoundException](
      Tables.fanout(Tables.documents(spark, sf), sfDir, "documents"))
    assert(f.getMessage.contains(s"$sfDir/documents.parquet"))
  }

  test("reading events writes no session conf") {
    // a fresh session: no earlier test in this suite has touched its conf
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables.events(s, sf).collect()
    assert(s.conf.getAll == before)
  }
}
