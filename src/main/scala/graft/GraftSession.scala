package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * The reference (legate.pandas) sizes its run by `num_pieces` equal chunks
  * (reference `legate/pandas/core/runtime.py:347`); Spark's analogue is the
  * shuffle-partition count plus AQE coalescing. We default AQE on so that
  * runtime statistics re-plan skewed joins and coalesce small shuffle
  * partitions — the scale path for 100 TB inputs.
  *
  * Kernels are compiled once per JVM. Every query shape is a set of
  * Spark-generated classes held in one JVM-global LRU cache, sized by the
  * static conf `spark.sql.codegen.cache.maxEntries` (Spark's default 100).
  * One pass of graft's query sets needs more than that (about 161 distinct
  * classes for the perfbench `eager` set, 129 for `relational`, 536 for
  * the 30 headline queries at sf0.01), so at 100 the cache cycles with no
  * hits and every call recompiles its kernels (0.7-1.5 s of compile time
  * per pass of either perfbench set). 2000 holds about 3.7x the headline
  * working set; a cached class costs about 17-18 KB of heap (measured:
  * +7.3 MB live heap for the 436 extra headline classes), so the cap
  * bounds the cache near 36 MB.
  *
  * Spark reads the cap once, at the JVM's first code generation, so the
  * session this builder makes must be the first in the JVM to run a query:
  * a session built earlier by any other recipe fixes the cap at its own
  * value (100 by default) for the life of the JVM.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst stays at its default (true): a small-byte but
      // CPU-heavy shuffle (e.g. counting 1M+ distinct pair keys in ~10MB)
      // must keep all cores busy; coalescing it to one partition by size
      // alone serializes the aggregation. On a real cluster the same
      // default keeps reduce stages at executor parallelism.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // coalescePartitions.minPartitionSize and files.maxPartitionBytes
      // stay at their Spark defaults (r14, reverting r13's 64k floor +
      // 16m splits): both multiplied task counts ~4-8x to chase warm
      // same-session wins on the builder's box, and the driver's
      // cold-JVM run showed the opposite — 25/30 queries regressed and
      // 23/30 ran FASTER at 8 cores than 32 (per-task scheduling/alloc
      // overhead grows with core count; VERDICT r13). Scan width for
      // CPU-dense small scans is handled where it belongs, per-operator
      // via Tables.fanout, not by a global split-size constant.
      // Always use the sort-based (serialized) shuffle writer. The
      // default bypass-merge writer kicks in whenever reducers <= 200 —
      // i.e. EVERY shuffle at our 32-partition conf — and opens one
      // DiskBlockObjectWriter + LZ4 stream PER REDUCER PER MAP TASK
      // (32 x 32 = 1024 file opens + codec inits per shuffle; JFR r12
      // showed DiskBlockObjectWriter.open/lz4Factory as the hottest map
      // frames, ~0.25s of fixed cost per map task). The sort writer
      // produces one file + index per map task regardless of reducer
      // count — the same writer any >200-reducer cluster job uses, so
      // this only removes a small-fanout pathology, never changes the
      // scale path.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      // Read parquet INT64 TIMESTAMP(NANOS) columns as int64 nanoseconds
      // (older corpus drops store `events.ts` so; `Tables.eventsTs`
      // truncates them to µs). Set once here so that reading a table
      // never writes the caller's session conf.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props.getOrElse("user.dir", ".")}/target/spark-warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Experiment/deploy passthrough: "k=v;k=v" — lets perf A/B runs
      // (and a real cluster submit) override any SQL conf without a
      // rebuild. Ignored when unset.
      .applyExtraConf

  private implicit class ExtraConf(b: SparkSession.Builder) {
    def applyExtraConf: SparkSession.Builder =
      sys.env.get("SPARK_GRAFT_CONF").fold(b) { s =>
        s.split(';').filter(_.contains('=')).foldLeft(b) { (bb, kv) =>
          val Array(k, v) = kv.split("=", 2)
          bb.config(k.trim, v.trim)
        }
      }
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
