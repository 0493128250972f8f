package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.multimodal.{GridLumaDecoder, ImageIoDecoder, Multimodal, SyntheticImages}

/** Real image decode through the MediaDecoder seam (round 6).
  *
  * Both queries run the JDK's actual PNG codec (`javax.imageio`) on
  * executors — encode AND decode — closing the "stub decode" gap from
  * earlier rounds. PNG is lossless and the synthetic raster is a pure
  * modular function of (doc_id, x, y), so DuckDB recomputes every
  * channel sum from the formula while the engine value has genuinely
  * round-tripped through the codec: any decoder bug (channel order,
  * raster orientation, color-space drift, truncation) breaks the hash
  * match.
  *
  * Scale shape: generation + decode are scan-stage `mapPartitions`
  * (zero shuffles before the final agg/sort); payloads never shuffle.
  * At 100 TB the same plan reads real files via binaryFile splits
  * (q183 exercises exactly that reader) and the decoder swaps for a
  * production embed model — the seam contract (reference has no
  * multimodal surface; this is the training-pipeline brief).
  */
object ImageQueries {

  private val SEL = 3L // every 3rd doc renders an image

  /** REAL-decode perceptual average-hash per rendered image (q248's
    * core, shared with the q352 hamming near-dup): 8×8 grid luma via
    * GridLumaDecoder, bit i set when luma·64 > total (integer-exact),
    * packed as two 32-bit halves.
    */
  private[queries] def ahashes(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, d).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(SEL)) === 0).as[Long]
    val bin = ids.mapPartitions(_.map(id => (id, SyntheticImages.pngFor(id))))
      .toDF("doc_id", "payload")
    val feat = Multimodal.decodeFeatures(bin, GridLumaDecoder)
    val lumas = (0 until 64).map(i => element_at(col("features"), i + 3))
    val total = lumas.reduce(_ + _)
    def half(lo: Int): Column =
      (lo until lo + 32).map { i =>
        when(lumas(i) * lit(64.0) > total, lit(1L << (i - lo))).otherwise(lit(0L))
      }.reduce(_ + _)
    feat.select(col("doc_id"),
      half(32).cast("long").as("ahash_hi"),
      half(0).cast("long").as("ahash_lo"))
  }

  /** q248's oracle CTEs ending in `hashes(doc_id, ahash_hi, ahash_lo)`
    * — shared with q352's near-dup oracle.
    */
  private[queries] val ahashOracleCtes: String =
    s"""sel AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
           FROM documents WHERE doc_id % $SEL = 0),
       g AS (SELECT doc_id, unnest(range(64)) AS i, w, h FROM sel),
       lum AS (SELECT doc_id, i,
           ((31*doc_id + 7*(((i % 8) * w) // 8) + 13*(((i // 8) * h) // 8)) % 256
          + (17*doc_id + 3*(((i % 8) * w) // 8) + 5*(((i // 8) * h) // 8)) % 256
          + (23*doc_id + 11*(((i % 8) * w) // 8) + 2*(((i // 8) * h) // 8)) % 256) AS luma
         FROM g),
       tot AS (SELECT doc_id, sum(luma) AS total FROM lum GROUP BY doc_id),
       hashes AS (SELECT lum.doc_id,
           CAST(sum(CASE WHEN lum.i >= 32 AND lum.luma * 64 > tot.total
             THEN CAST(pow(2, lum.i - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS ahash_hi,
           CAST(sum(CASE WHEN lum.i < 32 AND lum.luma * 64 > tot.total
             THEN CAST(pow(2, lum.i) AS BIGINT) ELSE 0 END) AS BIGINT) AS ahash_lo
         FROM lum JOIN tot ON lum.doc_id = tot.doc_id
         GROUP BY lum.doc_id)"""

  lazy val defs: Seq[(String, QueryDef)] = Seq(

    // in-memory codec round-trip: raster -> real PNG encode -> real
    // ImageIO decode -> per-channel sums; oracle = the pixel formula.
    "q182_image_decode" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val ids = Tables.documents(s, d).select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(SEL)) === 0).as[Long]
        val bin = ids.mapPartitions(_.map(id => (id, SyntheticImages.pngFor(id))))
          .toDF("doc_id", "payload")
        Multimodal.decodeFeatures(bin, ImageIoDecoder)
          .select(col("doc_id"),
            element_at(col("features"), 1).cast("long").as("img_w"),
            element_at(col("features"), 2).cast("long").as("img_h"),
            element_at(col("features"), 3).cast("long").as("r_sum"),
            element_at(col("features"), 4).cast("long").as("g_sum"),
            element_at(col("features"), 5).cast("long").as("b_sum"))
      },
      Some(s"""WITH sel AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
                 FROM documents WHERE doc_id % $SEL = 0),
             px AS (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM sel)
             SELECT doc_id, CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
               CAST(sum((31*doc_id + 7*(i % w) + 13*(i // w)) % 256) AS BIGINT) AS r_sum,
               CAST(sum((17*doc_id + 3*(i % w) + 5*(i // w)) % 256) AS BIGINT) AS g_sum,
               CAST(sum((23*doc_id + 11*(i % w) + 2*(i // w)) % 256) AS BIGINT) AS b_sum
             FROM px GROUP BY 1, 2, 3""")),

    // the real ingest path: stage one PNG FILE per doc (executor-
    // parallel writes), read back through Spark's binaryFile source
    // (the 100 TB reader — file splits fan across executors), decode,
    // and reduce to corpus-level channel totals.
    "q183_image_ingest" -> QueryDef(
      (s, d) => {
        import s.implicits._
        // NOTE: the staging dir is DRIVER-LOCAL and the foreachPartition
        // writers assume executors share the driver filesystem — true
        // only in local mode (fine here: the stage exists to exercise
        // the binaryFile reader). A real cluster stages to a shared
        // store (HDFS/S3) instead; the read side is already generic.
        val dir = graft.tools.Staging.dir("png", d)
        val p = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(p)) {
          val ls = java.nio.file.Files.list(p) // close: leaks a dir handle otherwise
          try ls.forEach(f => java.nio.file.Files.delete(f))
          finally ls.close()
        } else java.nio.file.Files.createDirectories(p)
        Tables.documents(s, d).select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(SEL)) === 0).as[Long]
          .foreachPartition { (it: Iterator[Long]) =>
            it.foreach { id =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(dir, s"img_$id.png"),
                SyntheticImages.pngFor(id))
            }
          }
        val bin = Multimodal.readBinaryDir(s, dir)
          .select(
            regexp_extract(col("path"), "img_(\\d+)\\.png", 1)
              .cast("long").as("doc_id"),
            col("content").as("payload"))
        Multimodal.decodeFeatures(bin, ImageIoDecoder)
          .agg(
            count(lit(1)).as("n_images"),
            sum(element_at(col("features"), 1)).cast("long").as("w_total"),
            sum(element_at(col("features"), 3)).cast("long").as("r_total"),
            sum(element_at(col("features"), 4)).cast("long").as("g_total"),
            sum(element_at(col("features"), 5)).cast("long").as("b_total"))
      },
      Some(s"""WITH sel AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
                 FROM documents WHERE doc_id % $SEL = 0),
             px AS (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM sel),
             per AS (SELECT doc_id, any_value(w) AS w,
                 sum((31*doc_id + 7*(i % w) + 13*(i // w)) % 256) AS rs,
                 sum((17*doc_id + 3*(i % w) + 5*(i // w)) % 256) AS gs,
                 sum((23*doc_id + 11*(i % w) + 2*(i // w)) % 256) AS bs
               FROM px GROUP BY doc_id)
             SELECT CAST(count(*) AS BIGINT) AS n_images,
               CAST(sum(w) AS BIGINT) AS w_total,
               CAST(sum(rs) AS BIGINT) AS r_total,
               CAST(sum(gs) AS BIGINT) AS g_total,
               CAST(sum(bs) AS BIGINT) AS b_total
             FROM per""")),

    // perceptual fingerprint from REAL decoded pixels: 8x8
    // nearest-neighbor grid sample (GridLumaDecoder through the same
    // seam) -> average-hash bits (luma*64 > total: integer-exact, no
    // division) packed as two 32-bit halves. The oracle derives the
    // IDENTICAL fingerprint from the pixel formula without decoding --
    // so the whole decode+hash path is value-gated. Dedup by
    // fingerprint is then a plain groupBy on (hi, lo); hamming-radius
    // blocking reuses q56's SimHash chunk machinery.
    "q248_image_ahash" -> QueryDef(
      (s, d) => ahashes(s, d),
      Some(s"""WITH sel AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
                 FROM documents WHERE doc_id % $SEL = 0),
             g AS (SELECT doc_id, unnest(range(64)) AS i, w, h FROM sel),
             lum AS (SELECT doc_id, i,
                 ((31*doc_id + 7*(((i % 8) * w) // 8) + 13*(((i // 8) * h) // 8)) % 256
                + (17*doc_id + 3*(((i % 8) * w) // 8) + 5*(((i // 8) * h) // 8)) % 256
                + (23*doc_id + 11*(((i % 8) * w) // 8) + 2*(((i // 8) * h) // 8)) % 256) AS luma
               FROM g),
             tot AS (SELECT doc_id, sum(luma) AS total FROM lum GROUP BY doc_id)
             SELECT lum.doc_id,
               CAST(sum(CASE WHEN lum.i >= 32 AND lum.luma * 64 > tot.total
                 THEN CAST(pow(2, lum.i - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS ahash_hi,
               CAST(sum(CASE WHEN lum.i < 32 AND lum.luma * 64 > tot.total
                 THEN CAST(pow(2, lum.i) AS BIGINT) ELSE 0 END) AS BIGINT) AS ahash_lo
             FROM lum JOIN tot ON lum.doc_id = tot.doc_id
             GROUP BY lum.doc_id"""))
  )
}
