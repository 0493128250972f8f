package graft

import org.apache.spark.sql.functions._
import graft.streaming.DocStreams

/** Streaming curation must be INCREMENTAL: dedup state has to carry
  * across microbatches, not just within one.
  */
class DocStreamsSpec extends SparkSpec {

  test("curation state accumulates across microbatches (2 files, 1 per trigger)") {
    val docs = Tables.documents(spark, sf).cache()
    val dir = "/root/repo/target/tmp/doc_stream_spec"
    // two halves as separate files; duplicates of a fingerprint can
    // land in DIFFERENT microbatches, so only cross-batch state
    // produces the right counts
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val streamed = spark.readStream.schema(DocStreams.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
    val got = DocStreams.run(spark,
        DocStreams.curateTransform(streamed, minQuality = 0.5),
        "doc_stream_spec", "complete")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = DocStreams.curateTransform(docs, minQuality = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("streaming incremental dedup equals the batch index probe across microbatches") {
    val docs = Tables.documents(spark, sf).cache()
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val dir = "/root/repo/target/tmp/doc_stream_incr_spec"
    // the batch arrives in two microbatches — pairs must not depend on
    // which microbatch carried the new document (static index, so no
    // cross-batch state is even needed; this pins that invariant)
    batch.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    batch.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val streamed = spark.readStream.schema(DocStreams.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
    val got = DocStreams.run(spark,
        DocStreams.incrementalDedupTransform(streamed, corpus),
        "doc_stream_incr_spec", "complete")
      .select(col("new_id"), col("corpus_id"),
        graft.functions.Num.rnd(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val idxPath = "target/tmp/lsh_index_stream_spec"
    graft.text.MinHash.bucketIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").partitionBy("band").parquet(idxPath)
    val want = graft.text.MinHash
      .probeIndex(spark.read.parquet(idxPath), batch, corpus,
        "doc_id", "text", threshold = 0.5)
      .select(col("new_id"), col("corpus_id"),
        graft.functions.Num.rnd(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("streaming near-dup pair set equals batch LSH across microbatches") {
    val docs = Tables.documents(spark, sf).cache()
    val dir = "/root/repo/target/tmp/doc_stream_neardup_spec"
    // near-dup PAIRS can straddle the file split: only cross-batch
    // bucket state recovers them
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val streamed = spark.readStream.schema(DocStreams.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
    val staticShingles = docs
      .select(col("doc_id"), graft.text.Shingles.shingles(col("text"), 3).as("sh"))
    val name = "doc_stream_neardup_spec"
    val q = DocStreams.nearDupTransform(streamed, staticShingles, 3, 0.5, 64, 4)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.text.MinHash
      .nearDuplicates(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select(col("id1"), col("id2"), graft.functions.Num.rnd(col("jaccard"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("streamed chunk election equals batch rewrite across microbatches") {
    import graft.text.ChunkDedup
    val docs = Tables.documents(spark, sf).cache()
    val dir = "/root/repo/target/tmp/doc_stream_chunk_spec"
    // duplicates of a chunk land in DIFFERENT microbatches; the
    // election must still pick the global (doc_id, idx) minimum
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val streamed = spark.readStream.schema(DocStreams.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
    val elected = DocStreams.run(spark,
      ChunkDedup.elect(ChunkDedup.chunks(streamed, "doc_id", "text", 10), "doc_id"),
      "doc_stream_chunk_spec", "complete")
    val got = ChunkDedup.assemble(docs,
        ChunkDedup.chunks(docs, "doc_id", "text", 10), elected, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = ChunkDedup.rewrite(docs, "doc_id", "text", 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    assert(want.exists(_._3 != 0))
  }

  test("streaming BPE encode equals batch encode across microbatches") {
    import graft.text.{Bpe, BpeMerges}
    val docs = Tables.documents(spark, sf).cache()
    val dir = "/root/repo/target/tmp/doc_stream_bpe_spec"
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/a")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/b")
    val streamed = spark.readStream.schema(DocStreams.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
    val model = Bpe.Model(BpeMerges.pretrained)
    val got = DocStreams.run(spark,
        Bpe.encodeKernel(streamed, "doc_id", "text", model),
        "doc_stream_bpe_spec", "append")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Bpe.encodeKernel(docs, "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.size === docs.count())
  }
}
