package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.io.CsvPandas
import graft.multimodal.Multimodal
import graft.streaming.EventStreams

/** Sources/sinks (SURVEY §2.1), multimodal plumbing, and streaming —
  * each verified by an oracle over the ORIGINAL parquet tables so the
  * round-trip itself is what's under test.
  */
object IoQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // §2.1 read_parquet with projection + pushed filter.
    "q61_read_parquet" -> QueryDef(
      (s, d) => Tables.part(s, d)
        .filter(col("p_size") >= 20)
        .select(col("p_partkey"), col("p_brand"), Num.rnd(col("p_retailprice"), 2).as("price")),
      Some("""SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
             FROM part WHERE p_size >= 20""")),

    // §2.1 to_csv → read_csv round-trip (header, explicit schema,
    // timestamp format); aggregate must match the original table.
    "q62_csv_roundtrip" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("csv_rt", d)
        val src = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"))
        CsvPandas.write(src, path, header = true, singleFile = false)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("o_orderdate", org.apache.spark.sql.types.TimestampType)))
        CsvPandas.read(s, path, CsvPandas.ReadOptions(
            header = true, schema = Some(schema),
            parseDatesFmt = Some("yyyy-MM-dd HH:mm:ss")))
          .groupBy(year(col("o_orderdate")).as("y"))
          .agg(count(lit(1)).as("n"), Num.sumMoney(col("o_totalprice")).as("total"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
             CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
             FROM orders GROUP BY 1""")),

    // ORC sink/source round-trip (beyond reference: another columnar
    // format Spark supports natively — same scan parallelism and
    // pushdown machinery as parquet). The oracle aggregates the
    // ORIGINAL table, so any loss/corruption in the round-trip breaks
    // the hash match.
    "q143_orc_roundtrip" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("orc_rt", d)
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
          .write.mode("overwrite").orc(path)
        s.read.orc(path)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            Num.rnd(sum(col("l_quantity")), 2).as("qty"),
            Num.sumMoney(col("l_extendedprice")).as("revenue"))
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             round(sum(l_quantity), 2) AS qty,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
             FROM lineitem GROUP BY 1""")),

    // JSON-lines sink/source round-trip (schema'd read — a single pass,
    // no sampling inference), same oracle-on-the-original pattern.
    "q144_json_roundtrip" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("json_rt", d)
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").json(path)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
        s.read.schema(schema).json(path)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
            min(col("doc_id")).as("first_doc"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS chars,
             min(doc_id) AS first_doc
             FROM documents GROUP BY 1""")),

    // §2.1 to_parquet → read_parquet round-trip.
    "q63_parquet_roundtrip" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("pq_rt", d)
        Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "N")
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path)
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("n"), Num.sumMoney(col("l_quantity")).as("qty"))
      },
      Some("""SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS qty
             FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1""")),

    // §2.1 in-memory import (createDataFrame ⇔ DataFrame(dict)) joined
    // against a broadcast dimension.
    "q64_mem_import" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val tiers = Seq((0, "t_low"), (1, "t_low"), (2, "t_mid"), (3, "t_mid"), (4, "t_high"))
          .toDF("r_regionkey", "tier")
        Tables.region(s, d)
          .join(broadcast(tiers), "r_regionkey")
          .select(col("r_regionkey"), col("r_name"), col("tier"))
      },
      Some("""SELECT r_regionkey, r_name, tier FROM region
             JOIN (VALUES (0,'t_low'),(1,'t_low'),(2,'t_mid'),(3,'t_mid'),(4,'t_high'))
               AS t(k, tier) ON r_regionkey = k""")),

    // §2.1 partitioned parquet sink + partition-pruned read-back: at
    // 100 TB the sink layout IS the first index — the read of one
    // partition value scans 1/|values| of the data (PartitionFilters
    // in the plan, no data filter at all).
    "q92_partitioned_write" -> QueryDef(
      (s, d) => {
        val path = graft.tools.Staging.dir("pq_part", d)
        Tables.lineitem(s, d)
          .write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
        s.read.parquet(path)
          .filter(col("l_returnflag") === "R")
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("n"), Num.sumMoney(col("l_extendedprice")).as("price"))
      },
      Some("""SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS price
             FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1""")),

    // multimodal: binary payload + metadata + frame-sampling stubs;
    // metadata and frame count are oracle-checked (byte-exact).
    "q65_multimodal_meta" -> QueryDef(
      (s, d) => {
        val bt = Multimodal.asBinaryTable(Tables.documents(s, d), "text")
        bt.select(col("doc_id"),
          col("meta.n_bytes").as("n_bytes"),
          md5(substring(col("payload"), 1, 16)).as("head_md5"),
          size(Multimodal.sampleFrames(col("payload"))).as("n_frames"))
      },
      Some("""SELECT doc_id,
             CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             md5(substr(text, 1, 16)) AS head_md5,
             CAST((octet_length(encode(text)) - 1) // 256 + 1 AS INTEGER) AS n_frames
             FROM documents""")),

    // multimodal feature extraction via mapPartitions (the mapInPandas
    // analogue) — STUB decode (deterministic 16-bin byte histogram),
    // real plumbing. The stub is pure math on bytes, so the oracle
    // recomputes the identical histogram from hex(encode(text)) high
    // nibbles — same counts, same double divisions, same left-fold sum.
    "q66_multimodal_features" -> QueryDef(
      (s, d) => Multimodal.fakeDecodeFeatures(
          Multimodal.asBinaryTable(Tables.documents(s, d), "text"))
        .select(col("doc_id"),
          Num.rnd(aggregate(col("features"), lit(0.0), (a, v) => a + v), 6).as("feat_sum"),
          Num.rnd(element_at(col("features"), 8), 6).as("f8")),
      Some("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                    octet_length(encode(text)) AS n FROM documents),
             nib AS (SELECT doc_id, n,
                       list_transform(range(n),
                         i -> substr(hx, CAST(2*i+1 AS INT), 1)) AS hi
                     FROM h),
             f AS (SELECT doc_id,
                     list_transform(range(16), b ->
                       CAST(len(list_filter(hi,
                         c -> c = substr('0123456789ABCDEF', CAST(b+1 AS INT), 1))) AS DOUBLE)
                       / CAST(greatest(n, 1) AS DOUBLE)) AS feats
                   FROM nib)
             SELECT doc_id,
               round(list_reduce(feats, (a, v) -> a + v) * 1e6) / 1e6 AS feat_sum,
               round(feats[8] * 1e6) / 1e6 AS f8
             FROM f""")),

    // streaming tumbling-window agg (complete mode, memory sink) —
    // oracle = the equivalent batch SQL over the same events.
    "q67_stream_window" -> QueryDef(
      (s, d) => EventStreams.windowedAgg(s, d),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws,
             event_type, CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS sv
             FROM events GROUP BY 1, 2""")),

    // streaming stateful dedup on event_id.
    "q68_stream_dedup" -> QueryDef(
      (s, d) => EventStreams.dedupCounts(s, d),
      Some("""SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
             FROM events GROUP BY 1""")),

    // sessionization (gaps-and-islands, 30-min inactivity gap).
    "q69_sessionize" -> QueryDef(
      (s, d) => EventStreams.sessionize(Tables.events(s, d), 30),
      Some("""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
             CAST(count(*) AS BIGINT) AS n_events
             FROM (SELECT user_id,
                   CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS new_session
                   FROM (SELECT user_id, epoch_us(ts) AS tus,
                         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS prev
                         FROM events))
             GROUP BY user_id"""))
  )
}
