package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.tools.Staging

/** `Staging` owns where graft writes: the fit-once staging key
  * (`dirKeyedOnSource`) has no silent fallback for a missing source and
  * moves on a rewrite the modTime alone cannot see; stream sources are
  * re-copied when their table changes; no other `src/main` file builds
  * a scratch path; and no two queries share one.
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

  test("a stream source is staged under the root and re-copied when its table changes") {
    val sfDir = Files.createTempDirectory("staging_stream").toString
    val table = Paths.get(s"$sfDir/events.parquet")
    Files.write(table, Array[Byte](1, 2, 3))
    val dir = Staging.streamSource(sfDir, "events")
    assert(dir == Staging.dir("stream_events", sfDir) && dir.startsWith(Staging.root))
    val staged = Paths.get(dir, "events.parquet")
    assert(Files.readAllBytes(staged).toSeq == Seq[Byte](1, 2, 3))
    Files.write(table, Array[Byte](4, 5, 6, 7))
    assert(Staging.streamSource(sfDir, "events") == dir)
    assert(Files.readAllBytes(staged).toSeq == Seq[Byte](4, 5, 6, 7))
  }

  test("no src/main file but Staging builds a scratch path or sanitizes a data dir") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val banned = Seq("target/tmp", """replaceAll("[^A-Za-z0-9.]"""")
    val walk = Files.walk(root)
    val hits = try walk.iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        !f.endsWith(Paths.get("tools", "Staging.scala")))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) => s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
      finally walk.close()
    if (hits.nonEmpty) fail(hits.mkString(s"${hits.size} hits:\n", "\n", ""))
  }

  test("q419 still runs after q420 is built, the build-all-then-run order Bench uses") {
    val q419 = SparkEntry.queries("q419_chunk_index_probe")(spark, sf)
    val q420 = SparkEntry.queries("q420_chunk_index_merge")(spark, sf)
    assert(q419.collect().nonEmpty)
    assert(q420.collect().nonEmpty)
  }
}
