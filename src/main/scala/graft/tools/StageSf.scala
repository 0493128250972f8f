package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Stage a replicated corpus for the large-SF tiers: `mult` copies of
  * the source tables with shifted ids, 32 files per fact table, into
  * `<Staging.root>/sf<mult>x`. Used by the dispatch-floor amortization
  * table in BASELINE.md (VERDICT r9 item 4) and by ScaleSmoke's 10×
  * tier.
  *
  * Usage: StageSf <mult>   (e.g. 100 → ~1.5 GB, "sf10-ish"), copying
  * [[sourceDir]].
  */
object StageSf {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(100)
    val spark = GraftSession.builder(master = "local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"staged: ${stage(spark, sourceDir, mult)}")
    spark.stop()
  }

  /** Source corpus for the staged tiers: SPARK_GRAFT_SF_DIR, as Bench
    * reads it (default: the sf0.1 test corpus).
    */
  def sourceDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Writes the `mult`× copy of `src` (tables already staged are kept)
    * and returns its directory. Fact tables get per-copy id shifts so
    * joins and near-dup pairs stay intra-copy; dims are copied once, so
    * broadcast sides stay dim-sized, like production. `events` is not
    * staged: it needs Tables.events' timestamp read path, and no
    * staged-tier query uses it.
    */
  def stage(spark: SparkSession, src: String, mult: Int): String = {
    val out = s"${Staging.root}/sf${mult}x"
    def replicate(name: String, df: DataFrame, idCol: String, shift: Long): Unit = {
      val p = s"$out/$name.parquet"
      if (!new java.io.File(p).exists()) {
        (0 until mult).map(k => df.withColumn(idCol, col(idCol) + lit(k * shift)))
          .reduce(_.unionByName(_)).repartition(32)
          .write.mode(SaveMode.Overwrite).parquet(p)
        println(s"staged $name x$mult")
      }
    }
    replicate("lineitem", Tables.lineitem(spark, src), "l_orderkey", 100000000L)
    replicate("orders", Tables.orders(spark, src), "o_orderkey", 100000000L)
    replicate("documents", Tables.documents(spark, src), "doc_id", 1000000L)
    replicate("embeddings", Tables.embeddings(spark, src), "vec_id", 1000000L)
    Seq("customer", "region", "nation", "supplier", "part").foreach { t =>
      val p = s"$out/$t.parquet"
      if (!new java.io.File(p).exists())
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(p)
    }
    out
  }
}
