package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the embeddings corpus — the IVF
  * maintenance shape: the coarse quantizer is trained offline
  * ([[graft.similarity.IVFCentroids]]), vectors stream in continuously,
  * and the refreshed centroid positions (per-cell running mean) are
  * kept INCREMENTALLY by a stateful aggregation. Re-fitting KMeans over
  * the full corpus per batch would rescan everything; the running
  * (count, sum) state is O(k × dims) and each microbatch shuffles only
  * its own partial sums (map-side combine) — one Lloyd refinement step,
  * continuously maintained, the standard online-IVF pattern (re-center
  * cells as the distribution drifts; re-train offline only when drift
  * exceeds threshold).
  *
  * Determinism: cell assignment uses the FROZEN pretrained centroids
  * (same literals as q91), per-element values are rounded to 6dp then
  * summed as DECIMAL, so the final (cell, dim, n, centroid) table is
  * the exact batch answer no matter how microbatches split — and the
  * DuckDB oracle recomputes it bit-for-bit.
  */
object EmbedStreams {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The embeddings corpus replayed as a file-source stream. */
  private def embStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream.schema(embSchema)
      .parquet(graft.tools.Staging.streamSource(sfDir, "embeddings"))

  /** The refresh transform: assign each vector to its (frozen) cell,
    * explode to (cell, dim, value), keep running per-(cell, dim) count
    * and exact decimal sum. Works identically on a streaming or batch
    * source.
    */
  def refreshTransform(emb: DataFrame, model: graft.similarity.IVF.Model): DataFrame =
    emb
      .select(model.cell(col("embedding")).as("cell"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("cell"), col("dim"),
        graft.functions.Num.rnd(col("v").cast("double"), 6)
          .cast("decimal(20,6)").as("vr"))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"), sum(col("vr")).as("s"))

  /** Run the refresh over the replayed corpus; returns
    * (cell, dim, n, centroid) — the per-dimension refreshed centroid.
    */
  def centroidRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embStream(spark, sfDir)
    val model = graft.similarity.IVF.Model(graft.similarity.IVFCentroids.pretrained)
    centroids(DocStreams.run(spark, refreshTransform(emb, model),
      "graft_stream_ivf_refresh", "complete"))
  }

  /** Ingest-time PQ encoding (the vector twin of the BPE stream): each
    * arriving vector is coded against the FROZEN codebooks — a pure
    * stateless scan-stage map, append mode, microbatch-invariant by
    * construction. Output matches q238's batch shape so the same
    * oracle gates both.
    */
  def pqEncodeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embStream(spark, sfDir)
    val pq = graft.similarity.PQ.Model(graft.similarity.PQCodebooks.pretrained)
    val out = emb.select(
      col("vec_id") +:
        (0 until pq.m).map(s => pq.code(col("embedding"), s).as(s"code_$s")): _*)
    DocStreams.run(spark, out, "graft_stream_pq_encode", "append")
  }

  /** Ingest-time int8 encode (the streaming twin of q375/q376's batch
    * quantization): per-dim scales are FIT ONCE on the reference corpus
    * (the production contract — a drifting scale would make old and new
    * codes incomparable) and frozen into the stream as 64 literals; the
    * encode itself is a stateless scan-stage map, so stream output ==
    * batch output row-for-row. Emits (vec_id, pos, code) exploded rows
    * so the oracle compares scalars.
    */
  def int8EncodeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = spark.read.schema(embSchema).parquet(s"$sfDir/embeddings.parquet")
    val scales: Array[Double] = graft.similarity.Int8.scales(corpus)
      .orderBy("pos").collect().map(_.getDouble(1))
    val sc = typedlit(scales.toSeq)
    val emb = embStream(spark, sfDir)
    val out = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        greatest(lit(-127), least(lit(127),
          round(graft.functions.Num.rnd(col("v").cast("double"), 6)
            / element_at(sc, col("pos").cast("int") + 1)).cast("int")))
          .as("code"))
    DocStreams.run(spark, out, "graft_stream_int8_encode", "append")
  }

  /** STREAMING incremental embedding dedup against a PERSISTED cell
    * index — the embedding twin of DocStreams.incrementalDedup (q195):
    * the corpus is indexed ONCE batch-side (R sign-signature tables +
    * frozen fold modulus, `Similarity.embedCellIndex`); embedding
    * batches stream in, hash with the index's frozen modulus, and only
    * same-cell candidates pay the exact-cosine verify (stream-static
    * joins — the index and corpus sides are loaded once per executor,
    * each microbatch pays only its own banding + bucket join). One
    * stateful aggregation collapses per-table candidate repeats (sim is
    * identical per repeat — max is just the collapse), state keyed by
    * the verified pair set. Emits (new_id, corpus_id, sim ≥ threshold):
    * the live-crawl dup-pair feed; `mergeEmbedIndex` appends the
    * accepted remainder between batches (q384's contract).
    */
  def probeIndexStream(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4): DataFrame = {
    import graft.similarity.Similarity
    val em = graft.Tables.embeddings(spark, sfDir)
    val corpus = em.filter(col("vec_id") % 97 =!= 0)
    val idx = Similarity.embedCellIndex(corpus, tables = 4).cache()
    // modulus AND table count from the index itself (indexMeta — same
    // guard as the batch probe: empty index errors clearly, a wrong
    // caller-supplied table count can't silently degrade recall)
    val (c, tables) = Similarity.indexMeta(idx)
    val stream = embStream(spark, sfDir)
      .filter(col("vec_id") % 97 === 0)
    val probes = (0 until tables).map { t =>
      stream.select(col("vec_id").as("new_id"), col("embedding").as("nb"),
        lit(t).as("t"), Similarity.signCell(col("embedding"), t, lit(c)).as("cell"))
    }.reduce(_.unionByName(_))
    val verified = probes
      .join(idx.select(col("t"), col("cell"), col("vec_id").as("corpus_id")),
        Seq("t", "cell"))
      .filter(col("new_id") =!= col("corpus_id"))
      .join(corpus.select(col("vec_id").as("corpus_id"),
        col("embedding").as("cb")), Seq("corpus_id"))
      .withColumn("sim",
        graft.functions.Num.rnd(Similarity.cosine(col("nb"), col("cb")), 6))
      .filter(col("sim") >= lit(threshold))
      .groupBy(col("new_id"), col("corpus_id"))
      .agg(max(col("sim")).as("sim"))
    val out = DocStreams.run(spark, verified, "graft_stream_embed_probe", "complete")
    idx.unpersist(blocking = false)
    out
  }

  /** (cell, dim, n, s) → (cell, dim, n, centroid = s/n rounded). */
  def centroids(counts: DataFrame): DataFrame =
    counts.select(col("cell").cast("long").as("cell"),
      col("dim").cast("long").as("dim"), col("n"),
      graft.functions.Num.rnd(col("s").cast("double") / col("n"), 6).as("centroid"))
}
