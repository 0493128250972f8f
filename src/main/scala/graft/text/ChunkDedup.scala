package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chunk-level corpus deduplication — the C4/RefinedWeb curation step
  * that REWRITES documents instead of dropping them: every k-token
  * chunk that already occurred earlier in the corpus (global order:
  * (doc_id, chunk index)) is removed, and each document is reassembled
  * from its surviving chunks. Distinct from near-dup detection
  * (MinHash/SimHash report PAIRS; this transforms the text) and from
  * SubstringDup (which scores overlap but does not rewrite).
  *
  * Scale shape: one explode to (chunk, doc, idx), one hash-keyed
  * partial-aggregatable min to elect each chunk's first occurrence
  * (the shuffle carries an 8-byte hash + a (long,int) struct — never
  * the chunk text twice), one equi-join back, and one per-doc
  * reassembly groupBy. No windows, no driver-side state; every stage
  * is a plain hash shuffle that scales with corpus size.
  *
  * The stages are exposed separately so the election can also run over
  * a STREAM ([[graft.streaming.DocStreams.chunkDedupStream]]): `min`
  * is order-independent, so the streamed election converges to the
  * batch answer regardless of microbatch boundaries.
  */
object ChunkDedup {

  /** Explode to one row per chunk: (idCol, idx, chunk, h) where h is
    * the 64-bit xxhash64 of the chunk text, fused into the native
    * one-pass [[SlidingChunkSet]] kernel that tokenizes and chunks; at
    * stride = k its chunks tile the document in k-token runs, the last
    * possibly shorter. The hash is an 8-byte shuffle/state key (the
    * same 2^-64 collision odds as the md5-prefix key it replaced, at a
    * fraction of the cost). Stateless — works identically on a batch
    * frame or a streaming source.
    */
  def chunks(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    df.select(col(idCol), explode(ColumnBridge.column(
        SlidingChunkSet(ColumnBridge.expression(col(textCol)), k, k))).as("c"))
      .select(col(idCol), col("c.idx").as("idx"),
        col("c.chunk").as("chunk"), col("c.h").as("h"))
  }

  /** First global occurrence per chunk hash: partial-aggregatable
    * lexicographic min over (doc_id, idx) — no window sort. On a
    * stream this is the one stateful operator (state = 8-byte key +
    * one (long,int) struct per distinct chunk).
    */
  def elect(chunksDf: DataFrame, idCol: String): DataFrame =
    chunksDf.groupBy(col("h").as("kh"))
      .agg(min(struct(col(idCol), col("idx"))).as("keep"))

  /** Join the election back to the (batch) chunk set and reassemble
    * each document from its surviving chunks, in order.
    */
  def assemble(df: DataFrame, chunksDf: DataFrame, elected: DataFrame,
               idCol: String): DataFrame = {
    val kept = chunksDf.join(elected,
      col("h") === col("kh") &&
        col(idCol) === col(s"keep.$idCol") && col("idx") === col("keep.idx"))
      .select(col(idCol), col("idx"), col("chunk"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(expr("transform(sort_array(collect_list(struct(idx, chunk))), x -> x.chunk)"),
          " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
    val totals = chunksDf.groupBy(col(idCol)).agg(count(lit(1)).as("n_total"))
    df.select(col(idCol))
      .join(totals, Seq(idCol), "left_outer")
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_total"), lit(0L)).as("n_total"))
  }

  /** Rewrite `df` keeping only globally-first occurrences of each
    * `k`-token chunk.
    *
    * Output: (idCol, text_clean, n_kept, n_total) — one row per input
    * document; a document whose every chunk is a repeat survives with
    * empty text (n_kept = 0), mirroring C4's span removal (the
    * downstream length filter is a separate policy decision).
    *
    * Batch plan (r12 reshape): the election carries the chunk TEXT
    * along with the winner (all chunks sharing an xxhash64 key are
    * identical text, collision odds 2^-64), so the winning rows ARE the
    * kept set — no join back to the exploded chunks, and the explode
    * runs ONCE instead of three times (elect + join side + totals).
    * `n_total` falls out of token counts in the base scan
    * (ceil(n_tokens/k)), not a second explode. Two shuffles total
    * (by chunk hash, then by winning doc) + one 1-row-per-doc join —
    * each a plain hash exchange that scales with corpus size. The
    * staged `chunks`/`elect`/`assemble` operators remain for the
    * streaming twin, whose state must not carry chunk text.
    */
  def rewrite(df: DataFrame, idCol: String, textCol: String, k: Int = 10): DataFrame = {
    val c = chunks(df, idCol, textCol, k)
    val elected = c.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("idx"))).as("keep"),
        first(col("chunk")).as("chunk"))
    val rebuilt = elected.groupBy(col(s"keep.$idCol").as(idCol))
      .agg(
        array_join(expr("transform(sort_array(collect_list(struct(keep.idx as idx, chunk))), x -> x.chunk)"),
          " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
    val nToks = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(TokenCountWs(ColumnBridge.expression(col(textCol))))
    }
    df.select(col(idCol),
        coalesce(
          ceil(nToks / lit(k.toDouble)).cast("long"),
          lit(0L)).as("n_total"))
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_total"))
  }
}
