package graft.text

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{AbstractDataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership gate — the same Catalyst machinery Spark's
  * own runtime row-level filtering injects (`BloomFilterAggregate` +
  * `BloomFilterMightContain` over xxhash64), exposed as an operator
  * for PRE-FILTER → EXACT-VERIFY pipelines: the bloom cuts the
  * big-side rows entering a join by orders of magnitude, and an exact
  * join over the surviving candidates removes the false positives, so
  * the composed result is EXACT (oracle-checkable) while the shuffle
  * carries only candidates.
  *
  * This is the 100 TB decontamination shape: a 10⁹-gram eval set
  * doesn't broadcast as rows, but its bloom is a few hundred MB and
  * the corpus-side scan drops non-candidates before any shuffle.
  *
  * The build is fully distributed (partial sketches merge in the
  * aggregate buffer); only the final serialized filter (numBits/8
  * bytes) reaches the driver.
  */
object BloomGate {

  private val MaxItemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
  private val MaxBitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"

  /** Build a serialized bloom filter over `c`'s values (distributed
    * aggregate; one small sketch to the driver).
    *
    * `BloomFilterAggregate` silently CLAMPS its size arguments to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
    * (defaults 4M items / 64M bits). A clamped filter saturates on a
    * large build set and passes nearly everything — results stay exact
    * through the verify join, but the scan-side gating silently
    * disappears. So the build RAISES those confs to cover
    * `expectedItems × bitsPerItem` for the duration of the aggregate
    * (SQLConf propagates to the executors running it) and restores
    * them after. At 10⁹ grams × 10 bits that is a ~1.2 GB filter —
    * still broadcastable, but size `bitsPerItem` deliberately.
    */
  def build(df: DataFrame, c: Column, expectedItems: Long,
            bitsPerItem: Int = 10): Array[Byte] = {
    require(expectedItems > 0 && bitsPerItem > 0,
      s"bloom sizing must be positive: items=$expectedItems bits/item=$bitsPerItem")
    val numBits = expectedItems * bitsPerItem
    val conf = df.sparkSession.conf
    val oldItems = conf.getOption(MaxItemsKey)
    val oldBits = conf.getOption(MaxBitsKey)
    def restore(key: String, old: Option[String]): Unit =
      old match { case Some(v) => conf.set(key, v); case None => conf.unset(key) }
    try {
      if (oldItems.forall(_.toLong < expectedItems))
        conf.set(MaxItemsKey, expectedItems.toString)
      if (oldBits.forall(_.toLong < numBits))
        conf.set(MaxBitsKey, numBits.toString)
      val agg = BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(c)),
        Literal(expectedItems), Literal(numBits), 0, 0)
      df.agg(ColumnBridge.column(agg.toAggregateExpression()).as("bf"))
        .head.getAs[Array[Byte]](0)
    } finally {
      restore(MaxItemsKey, oldItems)
      restore(MaxBitsKey, oldBits)
    }
  }

  /** Membership predicate against a built filter — a codegen'd
    * Catalyst expression (no UDF); false positives possible, false
    * negatives not, so always pair with an exact verify join.
    *
    * The filter bytes travel as a TorrentBroadcast handle, NOT a plan
    * literal: Spark's own `BloomFilterMightContain` takes the bytes as
    * an expression, which embeds megabytes into the plan tree — every
    * AQE stage then re-serializes them into its task binary (observed
    * 5–10 MiB "large task binary" warnings, with inter-stage driver
    * time dwarfing the stage walls), and at the 100 TB sizing (a GB-
    * scale filter) a plan literal is simply not shippable. With the
    * broadcast handle the task binary stays KB-sized and each executor
    * fetches the bytes once (block manager) and parses them once (the
    * executor-wide [[BloomParseCache]] — the parse is per-executor, not
    * per-task, since each task deserializes its own expression instance
    * and an expression-local lazy val would re-parse per task).
    *
    * Identical filter CONTENT reuses one broadcast: eager bench passes
    * and the `perfbench.Main` scale-tier passes rebuild the gated query
    * per pass, and a fresh broadcast per construction accumulates
    * MB-scale blocks until the ContextCleaner happens to collect the
    * dropped plans. The driver-side
    * cache below keys on (length, content hash) + full content equality
    * and keeps the most recent few.
    */
  def mightContain(bloom: Array[Byte], c: Column): Column = {
    val bcast = broadcastCached(bloom)
    ColumnBridge.column(BloomMightContainBcast(bcast,
      ColumnBridge.expression(xxhash64(c))))
  }

  /** Driver-side broadcast reuse: same bytes → same TorrentBroadcast.
    * Bounded LRU; evicted entries are unpersisted (blocking=false) —
    * any still-running plan holding the evicted handle re-fetches
    * lazily, so eviction is safe.
    */
  private val bcastCache =
    new java.util.LinkedHashMap[(Int, Long), (Array[Byte], Broadcast[Array[Byte]])](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Long), (Array[Byte], Broadcast[Array[Byte]])]): Boolean = {
        val evict = size() > 4
        if (evict) e.getValue._2.unpersist(blocking = false)
        evict
      }
    }

  private def broadcastCached(bloom: Array[Byte]): Broadcast[Array[Byte]] =
    bcastCache.synchronized {
      val key = (bloom.length,
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          bloom, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bloom.length, 42).toLong)
      val hit = Option(bcastCache.get(key)).filter(v =>
        java.util.Arrays.equals(v._1, bloom))
      hit.map(_._2).getOrElse {
        val b = SparkSession.active.sparkContext.broadcast(bloom)
        bcastCache.put(key, (bloom, b))
        b
      }
    }
}

/** Executor-wide parsed-filter cache, keyed by broadcast id: the
  * deserialized long[] exists once per executor JVM regardless of task
  * count. Bounded — entries beyond the cap evict in access order (the
  * broadcast bytes stay in the block manager; a re-parse just costs the
  * readFrom again).
  */
private[text] object BloomParseCache {
  private val cache = new java.util.LinkedHashMap[Long, BloomFilter](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Long, BloomFilter]): Boolean =
      size() > 8
  }
  def get(b: Broadcast[Array[Byte]]): BloomFilter = cache.synchronized {
    val hit = cache.get(b.id)
    if (hit != null) hit
    else {
      val f = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b.value))
      cache.put(b.id, f)
      f
    }
  }
}

/** `mightContainLong` over a broadcast-shipped serialized BloomFilter
  * (see [[BloomGate.mightContain]]). Child must be an xxhash64 long.
  */
case class BloomMightContainBcast(bcast: Broadcast[Array[Byte]],
                                  child: Expression)
    extends UnaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an xxhash64 LONG child, got ${child.dataType}")
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bloom_might_contain_bcast"

  // per-task-instance handle, resolved through the executor-wide parse
  // cache exactly once (the per-row path then runs lock-free)
  @transient private lazy val filter: BloomFilter = BloomParseCache.get(bcast)

  def mightContain(h: Long): Boolean = filter.mightContainLong(h)

  override protected def nullSafeEval(h: Any): Any =
    mightContain(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomGate", this,
      classOf[BloomMightContainBcast].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $ref.mightContain($h);")
  }

  override protected def withNewChildInternal(c: Expression): BloomMightContainBcast =
    copy(child = c)
}
