package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Stage the scaled corpora for the large-SF tiers, under `Staging.root`
  * (the source corpus is never touched). Each `mult` gets two tiers:
  *  - [[stage]], the verbatim `mult`× copy: every fact table, `events`
  *    included. Documents and embeddings are cloned as they are, so
  *    near-duplicate DENSITY grows with the copies too (every clone pair
  *    is a true duplicate): it measures the exact pair metrics' output
  *    growth, not only the plans';
  *  - [[stageSalted]], the constant-density tier for the bounded
  *    operators: salted documents ([[salted]]), rotated embeddings
  *    ([[rotated]]) and the same shifted `events`. Copies are pairwise
  *    unrelated while each copy keeps the source's own duplication
  *    structure, so volume grows `mult`× at constant density.
  *
  * Both copy the dims once, so broadcast sides stay dim-sized, like
  * production. The tiers are timed by `perfbench.Main adhoc` (README
  * "Profiling", "Scale tiers"); BASELINE.md's dispatch-floor
  * amortization table reads the verbatim tier.
  *
  * Usage: StageSf <mult>, copying [[sourceDir]]; prints both tier
  * directories. From sf0.1, 100 ("sf10-ish") writes ~1.5 GB verbatim
  * and ~0.3 GB salted.
  */
object StageSf {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(100)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"staged: ${stage(spark, sourceDir, mult)}")
    println(s"staged: ${stageSalted(spark, sourceDir, mult)}")
    spark.stop()
  }

  /** Source corpus for the staged tiers: SPARK_GRAFT_SF_DIR, as Bench
    * reads it (default: the sf0.1 test corpus).
    */
  def sourceDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Writes the verbatim `mult`× copy of `src` (tables already staged are
    * kept) and returns its directory. Fact tables get per-copy id shifts
    * so joins and near-dup pairs stay intra-copy.
    */
  def stage(spark: SparkSession, src: String, mult: Int): String = {
    val out = Staging.dir(s"sf${mult}x", src)
    def shifted(df: DataFrame, idCol: String, shift: Long)(k: Int): DataFrame =
      df.withColumn(idCol, col(idCol) + lit(k * shift))
    replicate(out, "lineitem", mult)(shifted(Tables.lineitem(spark, src), "l_orderkey", 100000000L))
    replicate(out, "orders", mult)(shifted(Tables.orders(spark, src), "o_orderkey", 100000000L))
    replicate(out, "documents", mult)(shifted(Tables.documents(spark, src), "doc_id", 1000000L))
    replicate(out, "embeddings", mult)(shifted(Tables.embeddings(spark, src), "vec_id", 1000000L))
    replicate(out, "events", mult)(events(Tables.events(spark, src)))
    copyDims(spark, src, out)
    out
  }

  /** Writes the constant-density `mult`× tier of `src` (tables already
    * staged are kept) and returns its directory: documents, embeddings
    * and events, plus the dims. No bounded-tier query reads lineitem or
    * orders, so they are not staged here; [[stage]] has them.
    */
  def stageSalted(spark: SparkSession, src: String, mult: Int): String = {
    val out = Staging.dir(s"sf${mult}x_salted", src)
    replicate(out, "documents", mult)(salted(Tables.documents(spark, src)))
    replicate(out, "embeddings", mult)(rotated(Tables.embeddings(spark, src)))
    replicate(out, "events", mult)(events(Tables.events(spark, src)))
    copyDims(spark, src, out)
    out
  }

  /** Copy `k` of the documents with a salted vocabulary. Salting v2
    * (round 7): every word gets the tag `_k` appended, and the tag is
    * also inserted after every 8 characters inside long tokens, so no
    * char-20-gram window is salt-free. v1's word-suffix-only salting let
    * grams inside >20-char tokens collide ACROSS copies, which made the
    * char-gram ops (q169/q198) quadratic in copies: a harness artifact,
    * not operator behavior. Intra-copy duplication structure is
    * untouched (the same rewrite is applied to every doc in a copy).
    * `perfbench/gen.py` mirrors this rule.
    */
  def salted(docs: DataFrame)(k: Int): DataFrame =
    docs.withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
      .withColumn("text", array_join(
        transform(split(col("text"), " "), w =>
          concat(regexp_replace(w, "(.{8})", "$1_" + k), lit("_" + k))),
        " "))

  /** Embedding width of the corpus (TESTDATA.md). */
  private val EmbDim = 64

  /** Copy `k` of the embeddings under a copy-specific ORTHOGONAL map: a
    * cyclic dimension shift by `k` and a hash-derived ±1 diagonal.
    * Orthogonal maps keep norms and within-copy inner products (so
    * within-copy cosines), while cross-copy cosines are generic-small:
    * the embedding twin of [[salted]]. Code distortion per copy also
    * matches the base corpus, since the map keeps L2.
    */
  def rotated(emb: DataFrame)(k: Int): DataFrame = {
    val shift = k % EmbDim
    val signs = Array.tabulate(EmbDim)(j =>
      if ((((k * 2654435761L + j * 40503L) >> 16) & 1L) == 0L) 1.0f else -1.0f)
    val shifted: Column =
      if (shift == 0) col("embedding")
      else concat(slice(col("embedding"), shift + 1, EmbDim - shift),
        slice(col("embedding"), 1, shift))
    emb.withColumn("vec_id", col("vec_id") + lit(k * 1000000L))
      .withColumn("embedding", zip_with(shifted, typedlit(signs), (a, b) => a * b))
  }

  /** Copy `k` of the events: `event_id + k·10^7` and `ts + k·31 days`,
    * so copies keep their day and session structure and never overlap
    * in time. `ev` is read through `Tables.events`, which also reads the
    * staged copy back.
    */
  def events(ev: DataFrame)(k: Int): DataFrame =
    ev.withColumn("event_id", col("event_id") + lit(k * 10000000L))
      .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * 31} DAYS"))

  /** Whether a write of `p` completed (a failed one leaves no marker). */
  private def staged(p: String): Boolean = new java.io.File(s"$p/_SUCCESS").exists()

  /** Union of copies `0 until mult`, as 32 files, unless already staged. */
  private def replicate(out: String, name: String, mult: Int)(copy: Int => DataFrame): Unit = {
    val p = s"$out/$name.parquet"
    if (!staged(p)) {
      (0 until mult).map(copy).reduce(_.unionByName(_)).repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(p)
      println(s"staged $name x$mult")
    }
  }

  private def copyDims(spark: SparkSession, src: String, out: String): Unit =
    Seq("customer", "region", "nation", "supplier", "part").foreach { t =>
      val p = s"$out/$t.parquet"
      if (!staged(p))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(p)
    }
}
