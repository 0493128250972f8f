package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Column pruning and predicate
  * pushdown reach the parquet scan because every query builds a declarative
  * plan on top of these readers (verify with `.explain("formatted")` —
  * `PushedFilters` / narrowed `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache (the catalog layer a deployment would have
    * via `spark.table`): `spark.read.parquet` re-runs schema inference —
    * a driver job + footer reads — on EVERY call, which a repeated
    * workload pays once per query construction (r13 probe: ~40 ms stage
    * + planning gap per rebuild). Keyed by (session UUID, path, file
    * modTime): data refreshed on disk re-resolves, a new session never
    * sees another session's plans (an identity hash could collide; a
    * weak key on the session would never clear, since each cached
    * DataFrame holds its session). DataFrames are immutable plans, so
    * sharing the instance is safe.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long), DataFrame]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val mt =
      try {
        val hp = new org.apache.hadoop.fs.Path(path)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(hp).getModificationTime
      } catch { case _: java.io.IOException => -1L }
    if (relCache.size > 256) relCache.clear() // plans are cheap to rebuild
    relCache.computeIfAbsent(
      (ColumnBridge.sessionUUID(spark), path, mt),
      _ => spark.read.parquet(path))
  }

  /** Loader that routes through per-table special handling (events' ns
    * timestamps) — use this when iterating over all tables.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else apply(spark, sfDir, name)

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  /** The events table, `ts` normalized by [[eventsTs]]. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(apply(s, d, "events"))
  }

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) (older
    * corpus drops) or TIMESTAMP(MICROS) (current). Branch on the dtype
    * the scan actually produces rather than assuming a unit:
    *  - int64 (ns under the legacy nanosAsLong conf) → truncate to µs,
    *    the same ns→µs truncation the reference's int64 timestamps imply
    *    (reference `legate/pandas/common/types.py:112-121` stores
    *    datetime64[ns] as int64);
    *  - TIMESTAMP / TIMESTAMP_NTZ (µs) → cast to the session type
    *    (session TZ is pinned to UTC, so the cast is value-stable).
    * Anything else fails loudly — a silently mis-scaled timestamp must
    * never reach a query. Applied to the batch scan and to the events
    * stream source alike (`EventStreams`).
    */
  def eventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported dtype $other (expected int64-ns, " +
          "TIMESTAMP or TIMESTAMP_NTZ) — refusing to guess the time unit")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Committed unsigned-int fixture (tools/make_uint_fixture.py): native
    * parquet UINT_8/16/32/64 annotations. Spark's scan widens them exactly
    * along the Types lattice (verified: uint8→short, uint16→int,
    * uint32→long, uint64→decimal(20,0)), so this is the data-path gate for
    * SURVEY §1.3's unsigned mapping (reference
    * `legate/pandas/common/types.py:72-104`).
    */
  val uintFixturePath = "/root/repo/fixtures/uint.parquet"
  def uintFixture(s: SparkSession): DataFrame = s.read.parquet(uintFixturePath)

  /** Spread a SMALL scan across the cluster when the file layout caps
    * its parallelism below the core count — CPU-heavy per-row kernels
    * (md5 bucketing, shingling, tokenization) otherwise run single-
    * threaded because a parquet scan parallelizes at row-group
    * granularity and a small corpus is one row group (this corpus: every
    * sf0.1 table is a single group, TESTDATA layout).
    *
    * The condition is decided from file bytes ÷ maxPartitionBytes — pure
    * driver-side metadata, no job. At scale the inequality flips
    * (thousands of splits ≥ cores) and the frame passes through
    * UNTOUCHED, so this never adds an exchange to a 100 TB input; at toy
    * scale it trades one exchange of megabytes for cores× kernel
    * parallelism — the same adaptive scan-width choice DuckDB/Trino make
    * inside their schedulers.
    */
  def fanout(df: DataFrame, sfDir: String, table: String): DataFrame = {
    val s = df.sparkSession
    val cores = s.sparkContext.defaultParallelism
    // Spark accepts byte-size suffixes here ("128m", "1g", "134217728b");
    // parse with Spark's own utility so a SPARK_GRAFT_CONF override in
    // any accepted form works (a bare stripSuffix("b").toLong threw on
    // "128m" and crashed every fanout-using query at construction).
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes =
      if (fs.exists(path)) fs.getContentSummary(path).getLength else Long.MaxValue
    val splits = math.max(1L, bytes / maxPart)
    // Fanout width is SIZE-DERIVED, capped at machine width (r14): a
    // flat repartition(cores) gave a 584 KB corpus 32 ~18 KB tasks whose
    // fixed scheduling/alloc cost exceeded the kernel parallelism — the
    // r13 scaling leg showed every fanout consumer (q232/q221/q217/q50)
    // running FASTER at 8 cores than 32. ~32 KB of compressed input per
    // task keeps the CPU-dense kernels (tokenize/shingle/md5 — CPU per
    // byte is 10-100x a columnar agg) at tens of ms per task; at scale
    // splits >= cores and the frame passes through untouched, so this
    // never affects the 100 TB path.
    val width = math.min(cores.toLong, math.max(1L, bytes / 32768L)).toInt
    // Repartitioning costs a full-row exchange; once the scan already
    // yields at least half the target width the imbalance it fixes is
    // smaller than the shuffle it pays (r13 A/B at the sf10 tier).
    if (splits * 2 < width) df.repartition(width) else df
  }
}
