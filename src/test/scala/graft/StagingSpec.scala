package graft

import org.apache.hadoop.fs.Path

import graft.tools.Staging

/** The fit-once staging key (`Staging.dirKeyedOnSource`): no silent
  * fallback for a missing source, and a rewrite the modTime alone
  * cannot see still moves the path.
  */
class StagingSpec extends SparkSpec {
  import spark.implicits._

  private def keyed(sfDir: String): String =
    Staging.dirKeyedOnSource(spark, "staging_spec", sfDir, "documents")

  test("a missing source table throws, naming the path") {
    val sfDir = java.nio.file.Files.createTempDirectory("staging_missing").toString
    val e = intercept[java.io.FileNotFoundException](keyed(sfDir))
    assert(e.getMessage.contains(s"$sfDir/documents.parquet"))
  }

  test("a rewrite with a different length moves the path at an equal modTime") {
    val sfDir = java.nio.file.Files.createTempDirectory("staging_len").toString
    val table = new Path(s"$sfDir/documents.parquet")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(n: Int): Unit =
      Seq.tabulate(n)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(table.toString)
    write(5)
    val mt = fs.getFileStatus(table).getModificationTime
    val before = keyed(sfDir)
    write(500)
    fs.setTimes(table, mt, -1L)
    assert(fs.getFileStatus(table).getModificationTime == mt)
    assert(keyed(sfDir) != before)
  }
}
