package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.api.GFrame

/** toParquet writes a `_common_metadata` sidecar whose footer carries
  * pyarrow's `pandas` key with the frame's index columns — the channel
  * pandas' directory reader uses to auto-recover the index (reference
  * `core/io.py:56-68`). The python side of the round-trip is exercised
  * by tools/check_pandas_meta.py.
  */
class PandasMetaSpec extends SparkSpec {
  import spark.implicits._

  private def pandasKey(dir: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new HPath(dir, "_common_metadata")
    if (!p.getFileSystem(conf).exists(p)) None
    else {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get("pandas"))
      finally r.close()
    }
  }

  test("toParquet writes the pandas footer key with index columns") {
    val dir = graft.tools.Staging.dir("pandas_meta_rt", sf)
    GFrame(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v"),
      index = Seq("id")).toParquet(dir)
    val key = pandasKey(dir)
    assert(key.isDefined)
    assert(key.get.contains(""""index_columns": ["id"]"""))
    assert(key.get.contains(""""name": "s""""))
    // engine-side read still recovers the index via the field metadata
    assert(GFrame.readParquet(spark, dir).index == Seq("id"))
  }

  test("no index → empty index_columns (resetIndex persists as no-index)") {
    val dir = graft.tools.Staging.dir("pandas_meta_noidx", sf)
    GFrame(Seq((1L, 2.0)).toDF("a", "b")).toParquet(dir)
    val key = pandasKey(dir)
    assert(key.isDefined && key.get.contains(""""index_columns": []"""))
  }
}
