package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{classic, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one loop discipline for every iterative graph operator (PageRank
  * family, HITS, LPA) — a Pregel-style superstep driver
  * (Malewicz et al., SIGMOD 2010; GraphX's `Pregel` is the Spark
  * precedent). An operator supplies only its edge projection, the frames
  * it derives from the edges, its initial state and its step; this object
  * alone owns the session, the width, the checkpoints and the releases:
  *
  *  - **Session.** Loops run on a dedicated AQE-off clone of the caller's
  *    session. Each iteration is a shape-pinned join + aggregate over a
  *    layout the loop derives itself; AQE cannot improve that plan but
  *    charges a driver re-planning round-trip per materialized stage
  *    (measured r13, q263 at sf0.1: 4.67 s with AQE on, 2.83 s off,
  *    identical stages and task times). A clone rather than a conf toggle
  *    because `newSession()` owns its SQLConf but shares the SparkContext
  *    and SharedState (CacheManager, block manager), so no concurrent
  *    query on the caller's session ever sees AQE flipped. One clone per
  *    parent, weakly keyed: a fresh clone per loop costs ~50 ms of
  *    SessionState construction, and a strong registry would pin every
  *    parent session forever.
  *  - **Edges.** The projection is checkpointed once, on the caller's
  *    (adaptive) session: the edge derivation is an ordinary query whose
  *    exchanges AQE coalesces, unlike the pinned supersteps. Its row count
  *    for [[layoutParts]] rides the same job as an `Observation`, and the
  *    checkpoint moves to the clone as a bare scan.
  *  - **Width.** The clone's `spark.sql.shuffle.partitions` is set from
  *    [[layoutParts]] for the whole loop, under the clone's lock, so two
  *    loops on one parent never race the width. With AQE off nothing
  *    re-coalesces; the pinned width also makes each iteration's
  *    aggregate land on the edge layout, so the next join reuses it.
  *  - **Iterations.** [[Graph.fixed]] checkpoints every state lazily (the
  *    plan is cut to a checkpoint scan at once, so planning never
  *    re-expands the chain) and only the last one eagerly, so all
  *    iterations run in one job.
  *  - **Releases.** Every frame the operator kept is unpersisted before
  *    the loop returns; checkpoint blocks die with their frames.
  */
object Iterative {
  private val Width = "spark.sql.shuffle.partitions"

  private val clones = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The AQE-off clone for `parent` (created once, then reused). Exposed
    * within graft so plan specs can listen on the session loops run on.
    */
  private[graft] def aqeOffSession(parent: SparkSession): SparkSession =
    clones.synchronized {
      clones.computeIfAbsent(parent, p => {
        val s = p.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s
      })
    }

  /** Size-then-width adaptive partition count for a loop's pinned
    * layout over `nRows` (edge) rows: ~1M rows/partition capped at 20k
    * partitions for the huge end, raised toward machine width only
    * while every partition keeps ≥32k rows. Never a bare machine
    * constant: a 300-edge graph gets 1 partition, a 100 TB edge list
    * gets the size term (r14: a loop at conf width paid 32+32 tasks per
    * round for ~300 edges).
    */
  def layoutParts(spark: SparkSession, nRows: Long): Int = {
    val sizeTerm = math.min(2L * nRows / 1000000L + 1L, 20000L)
    val widthTerm = math.min(spark.sparkContext.defaultParallelism.toLong,
      2L * nRows / 65536L + 1L)
    math.max(sizeTerm, widthTerm).toInt
  }

  /** Re-root `df`'s ANALYZED plan onto `session` (shared SparkContext,
    * so scans and RDDs are session-agnostic). Relations — temp views
    * included — stay resolved as the owning session saw them; only
    * optimization and planning run under `session`'s conf.
    */
  def inSession(session: SparkSession, df: DataFrame): DataFrame =
    ColumnBridge.ofRows(session, df.asInstanceOf[classic.DataFrame].queryExecution.analyzed)

  /** `ck`'s checkpoint scan without the output partitioning it inherited.
    * A kept frame read on both sides of a join sees its scan re-instanced
    * by the analyzer, and a re-instanced checkpoint scan whose partitioning
    * names its own columns no longer matches the CacheManager entry
    * (Spark 4.1): every iteration then recomputed the kept frames from
    * the edges (q302 at sf0.1: 30 s of construction). No loop relies on
    * the edges' incoming layout; each lays them out itself.
    */
  private def unpartitioned(session: SparkSession, ck: DataFrame): DataFrame = {
    val scan = ck.asInstanceOf[classic.DataFrame].queryExecution.analyzed.asInstanceOf[LogicalRDD]
    ColumnBridge.ofRows(session, LogicalRDD(scan.output, scan.rdd)(
      session.asInstanceOf[classic.SparkSession], Some(scan.stats)))
  }

  /** A loop in progress: the checkpointed edge projection on the loop
    * session and the layout width derived from its size.
    */
  final class Graph private[Iterative] (val edges: DataFrame, val parts: Int) {
    private val kept = ArrayBuffer[DataFrame]()

    /** Persist `df` for the loop's lifetime; released when it returns. */
    def keep(df: DataFrame): DataFrame = { kept += df.persist(); kept.last }

    /** Both orientations of every edge row, in one scan (explode, not a
      * two-scan union).
      */
    def bothWays(e: DataFrame = edges): DataFrame = {
      val flip = Map("src" -> "dst", "dst" -> "src")
      e.select(explode(array(struct(e.columns.toIndexedSeq.map(col): _*),
          struct(e.columns.toIndexedSeq.map(c => col(flip.getOrElse(c, c)).as(c)): _*))).as("e"))
        .select("e.*")
    }

    /** `iters` rounds of `steps` (one superstep each, applied in turn).
      * Every state is checkpointed lazily and the last one eagerly: one
      * job runs every superstep while the kept frames are still cached,
      * and a state read several times by the next step is computed once.
      */
    def fixed(init: DataFrame, iters: Int)(steps: (DataFrame => DataFrame)*): DataFrame = {
      require(iters >= 1, "at least one iteration")
      val all = Seq.fill(iters)(steps).flatten
      all.zipWithIndex.foldLeft(init.localCheckpoint(eager = false)) { case (s, (step, i)) =>
        step(s).localCheckpoint(eager = i == all.size - 1)
      }
    }

    private[Iterative] def release(): Unit = kept.foreach(_.unpersist(blocking = false))
  }

  /** Run `body` over `edges` (already projected to the columns the loop
    * reads) on the caller's AQE-off clone, and root its result back on
    * the caller's session. The result must be materialized by the loop
    * (a [[Graph.fixed]] state or a projection of one): kept frames are
    * released on return.
    */
  def loop(edges: DataFrame)(body: Graph => DataFrame): DataFrame = {
    val parent = edges.sparkSession
    val clone = aqeOffSession(parent)
    val obs = Observation()
    val e = edges.observe(obs, count(lit(1)).as("n")).localCheckpoint(eager = true)
    val parts = layoutParts(parent, obs.get("n").asInstanceOf[Long])
    val out = clone.synchronized {
      clone.conf.set(Width, parts.toString)
      val g = new Graph(unpartitioned(clone, e), parts)
      try body(g) finally g.release()
    }
    inSession(parent, out)
  }
}
