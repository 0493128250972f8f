package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the events table.
  *
  * The reference has NO streaming capability (SURVEY §2.10) — this module
  * is part of the beyond-parity surface: watermarked windowed
  * aggregation and stateful dedup via Spark Structured Streaming.
  *
  * For deterministic verification, the static events parquet is replayed
  * through a file-source stream into a memory sink; the same transforms
  * run unchanged against a live source (kafka/files) at scale, where
  * state lives in the checkpointed state store, partitioned by group key.
  */
object EventStreams {

  /** Stream-source schema with `ts` as the given type — the file source
    * requires an explicit schema, so the ts dtype is probed from the
    * staged file (see [[eventsFrom]]) instead of hardcoded.
    */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The events corpus replayed as a file-source stream. */
  private def readEventStream(spark: SparkSession, sfDir: String): DataFrame =
    eventsFrom(spark, graft.tools.Staging.streamSource(sfDir, "events"))

  /** Stream reader over staged events files in `dir`. The parquet ts unit
    * has changed across corpus drops (int64-ns → TIMESTAMP(MICROS)), and
    * a wrong guess is the *silent* 1000×-mis-scale failure mode — so
    * probe the staged files' batch-read schema, declare exactly that
    * dtype to the stream source, and normalize `ts` with
    * [[graft.Tables.eventsTs]], the batch reader's own branch.
    */
  private def eventsFrom(spark: SparkSession, dir: String,
                         options: Map[String, String] = Map.empty): DataFrame = {
    val tsType = spark.read.parquet(dir).schema("ts").dataType
    graft.Tables.eventsTs(
      spark.readStream.schema(rawSchema(tsType)).options(options).parquet(dir))
  }

  /** Streaming data-quality monitor (the incremental twin of
    * operators/Profile): per event_type running row/null counts and
    * min/max/mean of `value`, maintained in complete mode — the state
    * is one row per group. The mean follows the cross-engine decimal
    * discipline (round 6dp per element, DECIMAL sum, divide at the
    * end) so the result is the exact batch answer no matter how
    * microbatches split, and the DuckDB oracle replays it.
    */
  def profileStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = readEventStream(spark, sfDir)
      .select(col("event_type"),
        col("value").isNull.as("vnull"),
        graft.functions.Num.rnd(col("value"), 6).cast("decimal(28,6)").as("vr"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("vnull"), 1L).otherwise(0L)).as("n_nulls"),
        min(col("vr")).cast("double").as("min_v"),
        max(col("vr")).cast("double").as("max_v"),
        count(col("vr")).as("nv"), sum(col("vr")).as("sv"))
    DocStreams.run(spark, agg, "graft_stream_profile", "complete")
      .select(col("event_type"), col("n_rows"), col("n_nulls"),
        col("min_v"), col("max_v"),
        graft.functions.Num.rnd(col("sv").cast("double") / col("nv"), 6).as("mean_v"))
  }

  /** Tumbling-window aggregation (complete mode → memory sink): per
    * (hour, event_type) counts and value sums. With a live unbounded
    * source this would run in append mode with the watermark bounding
    * state; the transform is identical.
    */
  def windowedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = readEventStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    DocStreams.run(spark, agg, "graft_stream_win", "complete")
      .select(unix_timestamp(col("window.start")).as("ws"), col("event_type"),
        col("n"), graft.functions.Num.rnd(col("sv"), 2).as("sv"))
  }

  /** Stateful streaming dedup on event_id, then per-type counts —
    * `dropDuplicates` backed by the state store (the streaming analogue
    * of the reference's drop_duplicates, SURVEY §2.7).
    */
  def dedupCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = readEventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
    DocStreams.run(spark, deduped, "graft_stream_dedup", "complete")
  }

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * evicts key state once the watermark passes — the production form
    * of [[dedupCounts]], whose plain `dropDuplicates` retains every key
    * forever. On the bounded replay (all duplicates arrive in-batch,
    * inside any watermark) the output equals batch DISTINCT, which is
    * what the oracle replays; on an unbounded source this is the only
    * formulation whose state does not grow with stream length.
    */
  def dedupCountsBounded(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = readEventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
    DocStreams.run(spark, deduped, "graft_stream_dedup_wm", "complete")
  }

  /** Streaming Count-Min frequency monitor: the q258 sketch maintained
    * INCREMENTALLY over the stream — the mergeable 4×256 grid is the
    * whole aggregation state (constant size on an unbounded source),
    * so per-key frequency estimates are always available without a
    * rescan.  Complete-mode memory sink as the deterministic gate
    * harness; point estimates are then probed from the final grid
    * (exact batch counts ride along, same contract as q258's oracle).
    */
  def cmsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CountMin
    val agg = readEventStream(spark, sfDir)
      .select(col("user_id").cast("string").as("k"))
      .select(CountMin.buckets(col("k")).as("bs"))
      .agg(CountMin.sketch(col("bs")).as("sk"))
    val sk = DocStreams.run(spark, agg, "graft_stream_cms", "complete")
    val probes = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("exact"))
    probes.crossJoin(broadcast(sk))
      .select(col("k").cast("long").as("user_id"), col("exact"),
        CountMin.estimate(col("sk"), col("k")).as("est"))
  }

  /** Streaming funnel: per-user first-touch timestamps maintained as a
    * running streaming aggregation (state = 3 min-timestamps per user,
    * bounded by the user population), finalized into the stage-count
    * report in batch.  Bounded replay ⇒ equals the batch funnel, which
    * is what q267's oracle replays.
    */
  def funnelStream(spark: SparkSession, sfDir: String): DataFrame = {
    def firstTs(t: String) =
      min(when(col("event_type") === t, col("ts")))
    val agg = readEventStream(spark, sfDir)
      .groupBy("user_id")
      .agg(firstTs("signup").as("fs"), firstTs("click").as("fc"),
        firstTs("purchase").as("fp"))
    DocStreams.run(spark, agg, "graft_stream_funnel", "complete").agg(
      sum(when(col("fs").isNotNull, 1L).otherwise(0L)).as("n_signup"),
      sum(when(col("fs") < col("fc"), 1L).otherwise(0L)).as("n_click"),
      sum(when(col("fs") < col("fc") && col("fc") < col("fp"), 1L)
        .otherwise(0L)).as("n_purchase"))
  }

  /** Streaming heavy hitters: the Misra-Gries sketch row
    * ([[graft.functions.MisraGries.fitSketch]] over `array(item)`)
    * maintained as the stream's aggregation state (bounded: ≤ sketchK
    * counters and the item total), then the batch certify pass of
    * [[graft.functions.MisraGries.topKFrequent]] over the events table.
    * The result is the EXACT top-k most active users in every case
    * (bounded replay ⇒ the stream saw the batch's items).
    */
  def heavyHittersStream(spark: SparkSession, sfDir: String,
                         k: Int = 10, sketchK: Int = 512): DataFrame = {
    import graft.functions.MisraGries
    def items(d: DataFrame) = d.select(array(col("user_id").cast("string")).as("item"))
    val sketch = MisraGries.sketchRow(DocStreams.run(spark,
      MisraGries.fitSketch(items(readEventStream(spark, sfDir)), col("item"), sketchK),
      "graft_stream_mg", "complete"))
    val events = items(graft.Tables.events(spark, sfDir))
    MisraGries.topKFrequent(events, col("item"), k, sketch)
      .select(col("word").cast("long").as("user_id"), col("cnt"))
  }

  /** Streaming anomaly monitor: per-type DECIMAL-exact running moments
    * (n, Σv, Σv²) as the stream's aggregation state — three numbers per
    * event_type, mergeable and order-independent — then the batch
    * z-score pass flags outliers against the final stats.  Bounded
    * replay ⇒ equals batch q277 (same oracle).
    */
  def anomalyStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = readEventStream(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        graft.functions.Num.rnd(col("value"), 6).cast("decimal(18,6)").as("vr"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("vr")).as("s"),
        sum(col("vr") * col("vr")).as("ss"))
    val stats = DocStreams.run(spark, agg, "graft_stream_anomaly", "complete")
      .select(col("event_type"),
        (col("s").cast("double") / col("n")).as("mean"),
        ((col("ss").cast("double")
          - col("s").cast("double") * col("s").cast("double") / col("n"))
          / (col("n") - 1)).as("variance"))
    graft.Tables.events(spark, sfDir).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        graft.functions.Num.rnd(col("value"), 6).cast("decimal(18,6)").as("vr"))
      .join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        ((col("vr").cast("double") - col("mean")) / sqrt(col("variance"))).as("z"))
      .filter(col("z") > 2.5 || col("z") < -2.5)
      .select(col("event_id"), col("event_type"),
        graft.functions.Num.rnd(col("z"), 6).as("z"))
  }

  /** Streaming OLS trend monitor: the q288 regression moments
    * (n, Σt, Σv, Σtv, Σt²) maintained as five DECIMAL-exact numbers of
    * stream state per event_type; slope/intercept finalized from the
    * last snapshot.  The time origin is anchored batch-side (a
    * production deployment anchors to a fixed epoch constant instead).
    * Bounded replay ⇒ equals batch q288 (same oracle).
    */
  def olsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Num
    val t0 = graft.Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .agg(min(expr("unix_micros(ts)"))).head().getLong(0)
    val agg = readEventStream(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr(s"(unix_micros(ts) - ${t0}L) div 60000000")
          .cast("decimal(18,0)").as("tm"),
        Num.rnd(col("value"), 6).cast("decimal(18,6)").as("vr"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("tm")).as("dst"),
        sum(col("vr")).as("dsv"), sum(col("tm") * col("vr")).as("dstv"),
        sum(col("tm") * col("tm")).as("dstt"))
    val m = DocStreams.run(spark, agg, "graft_stream_ols", "complete")
      .select(col("event_type"),
        col("cnt").cast("double").as("n"), col("dst").cast("double").as("st"),
        col("dsv").cast("double").as("sv"), col("dstv").cast("double").as("stv"),
        col("dstt").cast("double").as("stt"))
    m.select(col("event_type"),
      Num.rnd((col("n") * col("stv") - col("st") * col("sv"))
        / (col("n") * col("stt") - col("st") * col("st")), 12).as("slope"),
      Num.rnd((col("sv") - (col("n") * col("stv") - col("st") * col("sv"))
        / (col("n") * col("stt") - col("st") * col("st")) * col("st")) / col("n"), 6)
        .as("intercept"))
  }

  /** Streaming seasonality heatmap: running (dow × hod) cell state
    * (≤ 168 rows, decimal-exact means) — the q314 report maintained
    * incrementally; bounded replay ≡ batch (same oracle).
    */
  def seasonalityStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Num
    val agg = readEventStream(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
        Num.rnd(col("value"), 6).cast("decimal(18,6)").as("vr"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n"), sum(col("vr")).as("sv"))
    DocStreams.run(spark, agg, "graft_stream_seasonality", "complete")
      .select(col("dow"), col("hod"), col("n"),
        Num.rnd(col("sv").cast("double") / col("n"), 6).as("mean_v"))
  }

  /** Per-user carry for the streaming transition matrix: the last seen
    * event (by event time, id tiebreak) — O(1) state per user.
    */
  case class LastEvent(tus: Long, id: Long, typ: String)

  /** STREAMING Markov transitions: per-user (prev → next) event-type
    * pairs emitted incrementally from `flatMapGroupsWithState` (state =
    * the single last event per user; each microbatch's rows fold in
    * (tus, id) order like [[asofStreaming]]), then the pair counts
    * aggregate in batch.  Bounded replay ⇒ equals q270's exact counts.
    */
  def transitionsStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def us(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    val ev = readEventStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, String, java.time.Instant)]
    val pairs = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long, String, java.time.Instant)],
         state: GroupState[LastEvent]) =>
          val sorted = rows.map { case (_, id, t, i) => (id, t, us(i)) }
            .toSeq.sortBy(r => (r._3, r._1))
          var last = state.getOption
          val out = collection.mutable.ArrayBuffer.empty[(String, String)]
          sorted.foreach { case (id, typ, t) =>
            last.foreach(l => out += ((l.typ, typ)))
            last = Some(LastEvent(t, id, typ))
          }
          last.foreach(state.update)
          out.iterator
      }
    DocStreams.run(spark, pairs.toDF("src", "dst"), "graft_stream_transitions", "append")
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
  }

  /** Chronological 4-file staging for multi-batch replay: the events
    * split into two time-ordered halves plus two far-future `flush`
    * sentinel files. With `maxFilesPerTrigger=1` the file source
    * replays them as four ordered microbatches (mtimes set ascending —
    * the source orders by modification time): the halves exercise
    * cross-batch join state, and the sentinels advance the watermark
    * past every pending window (first flush moves the watermark, second
    * gives the engine the extra batch in which finalized outer/expired
    * state is actually emitted). Sentinel rows carry
    * event_type='flush', which both join sides drop AFTER their
    * watermark node, so they advance time without joining.
    */
  private def stageSplitDir(spark: SparkSession, sfDir: String): String = {
    val dir = Paths.get(graft.tools.Staging.dir("stream_events_split", sfDir))
    val srcFile = Paths.get(s"$sfDir/events.parquet")
    val stamp = dir.resolve("_staged_from")
    val tag = s"${Files.size(srcFile)}:${Files.getLastModifiedTime(srcFile)}"
    if (Files.exists(stamp) &&
        new String(Files.readAllBytes(stamp), "UTF-8") == tag) return dir.toString
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    Files.createDirectories(dir)
    val ev = graft.Tables.events(spark, sfDir)
    val Array(midTs, maxTs) = ev.agg(
      expr("percentile_approx(unix_micros(ts), 0.5)"),
      expr("max(unix_micros(ts))")).collect().head match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    def writeOne(df: DataFrame, name: String, order: Int): Unit = {
      val tmp = dir.resolve(s"tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p => p.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = dir.resolve(s"$name.parquet")
      Files.move(part, dst)
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      // mtime drives FileStreamSource batch order
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + order * 1000L))
    }
    writeOne(ev.filter(unix_micros(col("ts")) <= midTs), "part1", 0)
    writeOne(ev.filter(unix_micros(col("ts")) > midTs), "part2", 1)
    // sentinels must be REAL purchase/click rows (the optimizer pushes
    // the event-type filter below the watermark node, so a synthetic
    // type would be dropped before it could advance event time); the
    // negative user_id joins nothing and the consumer filters ids < 0
    def flush(order: Int): Unit = {
      val ts = timestamp_micros(lit(maxTs) + lit(86400000000L) * lit(10L * order))
      val one = ev.limit(1)
      writeOne(
        one.select(lit(-1L * order).as("event_id"), ts.as("ts"),
          lit(-1L).as("user_id"), lit("purchase").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .unionAll(one.select(lit(-1000L - order).as("event_id"), ts.as("ts"),
          lit(-2L).as("user_id"), lit("click").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))),
        s"flush$order", 1 + order)
    }
    flush(1); flush(2)
    Files.write(stamp, tag.getBytes("UTF-8"))
    dir.toString
  }

  /** STREAM-STREAM LEFT OUTER interval join, append mode: every
    * purchase emits — matched with each same-user click from its
    * preceding 30 minutes, or once with null click columns after the
    * watermark proves no match can still arrive. The watermark node
    * sits BELOW the event-type filter on each side, so the flush
    * sentinels (see [[stageSplitDir]]) advance event time without
    * joining; unmatched-side state is evicted exactly when its join
    * window closes — the bounded-state production formulation of an
    * outer enrichment join.
    */
  def streamStreamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageSplitDir(spark, sfDir)
    def side: DataFrame = eventsFrom(spark, dir, Map("maxFilesPerTrigger" -> "1"))
    val purchases = side
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), col("event_type").as("p_type"))
      .withWatermark("p_ts", "1 hour")
      .filter(col("p_type") === "purchase").drop("p_type")
    val clicks = side
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"), col("event_type").as("c_type"))
      .withWatermark("c_ts", "1 hour")
      .filter(col("c_type") === "click").drop("c_type")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("c_id"), col("user_id"))
    val sink = DocStreams.run(spark, joined, "graft_stream_outer_join", "append")
    // sentinel rows are dropped POST-sink: filtering p_id in-stream
    // gets pushed below the watermark node into the purchase-side scan
    // and silently re-kills the watermark advance (observed — the
    // whole reason the filter lives here)
    sink.filter(col("p_id") >= 0)
  }

  /** STREAM-STREAM inner interval join: each purchase matched with the
    * same user's clicks from the preceding 30 minutes. Both sides carry
    * watermarks and the join condition bounds event time on both ends,
    * so state for either side is evicted once the watermark passes its
    * join window — the unbounded-source-safe formulation (append mode).
    * One hash shuffle per side on user_id, exactly like a batch join.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val purchases = readEventStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = readEventStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"), col("user_id"))
    DocStreams.run(spark, joined, "graft_stream_join", "append")
  }

  /** Stream-static join: enrich the event stream with a static
    * dimension (broadcast per microbatch — the standard streaming
    * dimension-lookup; the static side can be swapped for a slowly
    * changing table without touching the stream).
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val dim = spark.range(0, 1000)
      .select(col("id").as("user_id"),
        (col("id") % 5).cast("int").as("cohort"))
    val joined = readEventStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy("cohort")
      .agg(count(lit(1)).as("n"))
    DocStreams.run(spark, joined, "graft_stream_static", "complete")
  }

  /** Per-user state for the streaming as-of join: recent clicks as
    * (tus, event_id, value), kept ascending by (tus, event_id). Bounded
    * by the tolerance horizon — everything older than
    * `watermark - tolerance` is evicted each microbatch.
    */
  case class AsofState(clicks: List[(Long, Long, Option[Double])])

  /** STREAMING as-of join (the unbounded-source counterpart of
    * operators/AsOfJoin.backward, which the reference lacks entirely —
    * SURVEY §2.3 lists equi-joins only): every purchase is matched with
    * the same user's most recent click at or before it, within
    * `toleranceMinutes`; no candidate → one row with null click columns
    * (left-outer asof).
    *
    * Spark's stream-stream interval join emits EVERY click in the
    * window; asof's pick-one-per-left needs per-key custom state, so
    * this is `flatMapGroupsWithState` keyed by user: the state holds
    * only the clicks still inside the tolerance horizon (evicted once
    * the event-time watermark passes them — bounded regardless of
    * stream length), and each purchase binary-searches that buffer.
    * Ties at equal click time resolve to the larger event_id; a click
    * at exactly the purchase time matches (inclusive, like
    * merge_asof(allow_exact_matches=True)).
    *
    * Determinism note (same contract as [[sessionizeStreaming]]): each
    * microbatch's rows are folded in (tus, kind, id) order with clicks
    * before purchases at equal tus; with the bounded replay arriving in
    * one batch the output equals the batch asof — which is what the
    * oracle replays. A click arriving in a LATER batch than a purchase
    * it precedes in event time is missed (the streaming asof tradeoff;
    * the watermark bounds how stale such arrivals can be).
    */
  def asofStreaming(spark: SparkSession, sfDir: String,
                    toleranceMinutes: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val tolUs = toleranceMinutes * 60L * 1000000L
    // the watermark's event-time ATTRIBUTE must survive into the grouped
    // dataset (dropping `ts` in favor of a derived micros column detaches
    // the watermark and getCurrentWatermarkMs throws), so `ts` rides along
    // as Instant and micros are derived inside the function
    def us(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    val ev = readEventStream(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), col("value"))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, String, java.time.Instant, Option[Double])]
    val out = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String, java.time.Instant, Option[Double])],
         state: GroupState[AsofState]) =>
          var clicks = state.getOption.map(_.clicks).getOrElse(Nil)
          val emitted = collection.mutable.ArrayBuffer
            .empty[(Long, Long, Option[Long], Option[Double])]
          val sorted = rows.map { case (u, id, kind, i, v) => (u, id, kind, us(i), v) }
            .toSeq.sortBy(r => (r._4, if (r._3 == "click") 0 else 1, r._2))
          sorted.foreach { case (_, id, kind, t, v) =>
            if (kind == "click") {
              // insert keeping ascending (tus, id) order
              val (before, after) = clicks.partition(c =>
                c._1 < t || (c._1 == t && c._2 < id))
              clicks = before ::: (t, id, v) :: after
            } else {
              val best = clicks.reverseIterator.find(c =>
                c._1 <= t && t - c._1 <= tolUs)
              emitted += ((id, user, best.map(_._2), best.flatMap(_._3)))
            }
          }
          // bounded state: drop clicks the watermark proves can never
          // match a future purchase (purchases older than the watermark
          // are themselves dropped by the engine)
          val horizonUs = state.getCurrentWatermarkMs() * 1000L - tolUs
          state.update(AsofState(clicks.filter(_._1 >= horizonUs)))
          emitted.iterator
      }
    DocStreams.run(spark, out.toDF("p_id", "user_id", "c_id", "c_value"),
      "graft_stream_asof", "append")
  }

  /** Per-user session state for the streaming sessionizer. */
  case class SessionState(lastTs: Long, nSessions: Long, nEvents: Long)

  /** STREAMING sessionization via `flatMapGroupsWithState` — custom
    * per-key state (SURVEY §2.10 beyond-parity surface). State is one
    * tiny record per user in the state store; each microbatch folds its
    * (locally sorted) events into it. With the bounded replay arriving
    * in a single microbatch the output equals the batch
    * [[sessionize]] — which is exactly what the oracle checks.
    */
  def sessionizeStreaming(spark: SparkSession, sfDir: String,
                          gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L
    val ev = readEventStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .as[(Long, Long, Long)]
    val out = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, t) =>
            val newSession = st.lastTs == Long.MinValue || t - st.lastTs > gapUs
            st = SessionState(t, st.nSessions + (if (newSession) 1L else 0L), st.nEvents + 1L)
          }
          state.update(st)
          Iterator.single((user, st.nSessions, st.nEvents))
      }
    DocStreams.run(spark, out.toDF("user_id", "n_sessions", "n_events"),
      "graft_stream_sessions", "update")
  }

  /** STREAMING A/B experiment monitor (q315's twin): the stream keeps
    * one (clicked, purchased) flag pair per user — a single stateful
    * aggregation whose state is bounded by the user population, never
    * by event volume — and the two-proportion z-test is computed in
    * batch over the sink.  Bounded replay ⇒ identical to the batch
    * q315 answer on the same corpus.
    */
  def abMonitorStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Num
    val flags = readEventStream(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicked"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
    val users = DocStreams.run(spark, flags, "graft_stream_ab", "complete")
      .filter(col("clicked") === 1L)
      .withColumn("grp",
        when(conv(substring(md5(concat(lit("ab:"), col("user_id"))), 1, 4),
          16, 10).cast("int") % 2 === 0, lit("A")).otherwise(lit("B")))
    val g = users.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("purchased")).as("c"))
    val a = g.filter(col("grp") === "A").select(col("n").as("n1"), col("c").as("c1"))
    val b = g.filter(col("grp") === "B").select(col("n").as("n2"), col("c").as("c2"))
    a.crossJoin(b).select(col("n1"), col("c1"), col("n2"), col("c2"),
      Num.rnd({
        val p1 = col("c1").cast("double") / col("n1").cast("double")
        val p2 = col("c2").cast("double") / col("n2").cast("double")
        val p = (col("c1") + col("c2")).cast("double") /
          (col("n1") + col("n2")).cast("double")
        val se = sqrt(p * (lit(1.0) - p) *
          (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double")))
        when(se === 0.0, lit(0.0)).otherwise((p1 - p2) / se)
      }, 6).as("z"))
  }

  /** STREAMING CUSUM changepoint monitor (q325's twin): the stream
    * keeps one exact decimal sum per (event_type, day) cell — state
    * bounded by the day-grid, not event volume — and the deviation
    * argmax replays q325's exact integer-scaled arithmetic in batch
    * over the sink.  Bounded replay ⇒ identical to the batch answer.
    */
  def cusumStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Num
    val cells = readEventStream(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        Num.rnd(col("value"), 6).cast("decimal(18,6)").as("vr"))
      .groupBy("event_type", "day")
      .agg(sum(col("vr")).as("sv"))
    val daily = DocStreams.run(spark, cells, "graft_stream_cusum", "complete")
      .select(col("event_type"), col("day"),
        col("sv").cast("decimal(18,6)").as("x"))
    graft.operators.Stats.cusumChangepoint(daily, "event_type", "day", "x")
  }

  /** STREAMING KMV distinct-user sketch per event type: the mergeable
    * k-minimum hashes behind [[graft.functions.KmvAgg.kmv]] ARE the
    * stream state — ≤ k sorted hashes per group, merged associatively
    * across microbatches — so the estimate after any arrival order
    * equals the batch sketch (q154's machinery).  Output (event_type,
    * est).
    */
  def kmvStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{KmvAgg, Num}
    val hashed = readEventStream(spark, sfDir)
      .select(col("event_type"),
        substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 12)
          .as("h"))
    val agg = hashed.groupBy("event_type")
      .agg(KmvAgg.kmv(col("h"), 64).as("raw"))
    DocStreams.run(spark, agg, "graft_stream_kmv", "complete")
      .select(col("event_type"), Num.rnd(col("raw"), 3).as("est"))
  }

  /** STREAMING Benford first-digit monitor over order totals staged as
    * a stream: state = 9 digit-count cells, with the χ² fold computed
    * in batch over the sink (q330's machinery).  The
    * wrong-digit-distribution alarm of a continuously-ingested money
    * feed.
    */
  def benfordStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Num
    val dir = graft.tools.Staging.streamSource(sfDir, "orders")
    val schema = spark.read.parquet(dir).schema
    val digs = spark.readStream.schema(schema).parquet(dir)
      .select(substring(Num.dec2(col("o_totalprice")).cast("string"), 1, 1)
        .cast("long").as("dig"))
      .groupBy("dig").agg(count(lit(1)).as("n"))
    val counts = DocStreams.run(spark, digs, "graft_stream_benford", "complete")
    val tot = counts.agg(sum(col("n")).as("nn"))
    val cells = counts.crossJoin(broadcast(tot))
      .select(col("dig"), col("n"),
        (col("n").cast("double") / col("nn").cast("double")).as("obs"),
        log10(lit(1.0) + lit(1.0) / col("dig").cast("double")).as("exp"),
        col("nn"))
    val withTerm = cells.withColumn("term",
      col("nn").cast("double") * (col("obs") - col("exp"))
        * (col("obs") - col("exp")) / col("exp"))
    val chi2 = withTerm
      .agg(sort_array(collect_list(struct(col("dig"), col("term")))).as("ts"))
      .select(Num.rnd(aggregate(col("ts"), lit(0.0),
        (a, x) => a + x.getField("term")), 6).as("chi2"))
    withTerm.crossJoin(broadcast(chi2))
      .select(col("dig"), col("n"), Num.rnd(col("obs"), 6).as("obs_share"),
        Num.rnd(col("exp"), 6).as("exp_share"), col("chi2"))
  }

  /** STREAMING approximate DAU: one KMV sketch per day (state =
    * day-grid × 64 hashes — bounded windowed distinct-count
    * profiling; the q343 sketch-as-state pattern keyed by time
    * bucket).
    */
  def dauKmvStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{KmvAgg, Num}
    val hashed = readEventStream(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 12)
          .as("h"))
    val agg = hashed.groupBy("day")
      .agg(KmvAgg.kmv(col("h"), 64).as("raw"))
    DocStreams.run(spark, agg, "graft_stream_dau", "complete")
      .select(col("day"), Num.rnd(col("raw"), 3).as("dau_est"))
  }

  /** Batch sessionization (gaps-and-islands): a new session starts after
    * `gapMinutes` of user inactivity. Windowed lag over (user, ts) —
    * one hash shuffle on user_id; integer-µs math so the oracle matches
    * exactly.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull || col("tus") - col("prev") > gapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
  }
}
