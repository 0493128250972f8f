package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.Num

/** Round-39 additions: parquet codec round-trips, multiline-quoted
  * CSV round-trip.
  */
object Round39Queries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.1 parquet compression codecs: snappy / zstd / gzip writers
    // all round-trip to identical contents (codec choice is a pure
    // storage concern — the knob that trades scan CPU for bytes at
    // 100 TB).  One aggregate per codec over the re-read data.
    "q363_parquet_codecs" -> QueryDef(
      (s, d) => {
        val out = graft.tools.Staging.dir("codecs", d)
        val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        val codecs = Seq("snappy", "zstd", "gzip")
        codecs.foreach { c =>
          o.write.mode("overwrite").option("compression", c).parquet(s"$out/$c")
        }
        codecs.map { c =>
          s.read.parquet(s"$out/$c").agg(
            count(lit(1)).as("n_rows"),
            round(sum(Num.dec2(col("o_totalprice"))), 2).cast("double").as("total"))
            .withColumn("codec", lit(c))
        }.reduce(_.unionByName(_)).select("codec", "n_rows", "total")
      },
      Some("""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
                AS total
            FROM orders)
          SELECT c.codec, a.n_rows, a.total
          FROM a, (VALUES ('snappy'), ('zstd'), ('gzip')) c(codec)""")),

    // §2.1 multiline-quoted CSV round-trip: embedded newlines inside
    // quoted fields survive write → multiLine read — the parser edge
    // every real CSV lake hits.  Values are md5-pinned against the
    // source text after restoring the spaces.
    "q364_csv_multiline" -> QueryDef(
      (s, d) => {
        val out = graft.tools.Staging.dir("csv_ml", d)
        val src = Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(97)) === 0)
          .select(col("doc_id"), translate(col("text"), " ", "\n").as("t"))
        src.write.mode("overwrite").option("header", "true").csv(out)
        s.read.option("header", "true").option("multiLine", "true")
          .option("inferSchema", "false").csv(out)
          .select(col("doc_id").cast("long").as("doc_id"),
            md5(translate(col("t"), "\n", " ")).as("text_md5"))
      },
      Some("""SELECT doc_id, md5(text) AS text_md5 FROM documents
          WHERE doc_id % 97 = 0"""))
  )
}
