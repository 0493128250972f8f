package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run: a closed loop with one client that rebuilds every
  * query on every call, the way a pandas-surface caller does.
  *
  * Each call has three phases, each through a public entry point:
  *  - build: `SparkEntry.queries(name)(spark, dir)` (Dataset construction,
  *    including any driver jobs the operators fire while building);
  *  - plan:  `df.queryExecution.executedPlan` (Catalyst planning);
  *  - exec:  one executor-side consumption of that same physical plan
  *    (`executedPlan.execute().foreach`), with no driver fetch and no
  *    second planning pass.
  *
  * Usage: Main <workload> <dataDir> <q1,q2,...> <t1,t2,...> <seconds>
  *             <trace 0|1> <outDir> <slots> <passes>
  *
  * Writes `<outDir>/result.json` (raw per-call and per-pass records; the
  * `run.py` turns them into metrics), `<outDir>/check/<query>/`
  * (the warm-up call's output, for the oracle hash check),
  * `<outDir>/oracle_sql.json` and, when traced, `<outDir>/spans.jsonl`.
  */
object Main {
  /** Untimed passes between the check pass and the window. */
  val SettlePasses = 1
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  /** nanoTime → epoch milliseconds, the clock Spark stamps stages with. */
  def epochMs(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6

  final case class Call(pass: Int, query: String, traced: Boolean,
                        t0: Long, t1: Long, t2: Long, t3: Long,
                        error: Option[String]) {
    def id: String = s"$pass/$query"
    def ok: Boolean = error.isEmpty
    def seconds: Double = (t3 - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, data, qs, ts, secs, trace, out, slots, windowPasses) = argv
    val queries = qs.split(",").toSeq
    val tables = ts.split(",").toSeq
    val seconds = secs.toDouble
    val traced = trace == "1"
    val fns = graft.SparkEntry.queries
    val missing = queries.filterNot(fns.contains)
    require(missing.isEmpty, s"not in the SparkEntry registry: ${missing.mkString(",")}")
    val stagingRoot = graft.tools.Staging.root
    val jvmBootS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    /** One call. With `sink`, the output is written there as parquet
      * instead (a write plans the tree itself, so there is no plan phase).
      */
    def call(spark: SparkSession, q: String, pass: Int, trc: Boolean,
             sink: Option[String] = None): Call = {
      val sc = spark.sparkContext
      def phase[T](name: String)(body: => T): T = {
        if (trc) sc.setJobGroup(s"pb|$pass/$q|$name", s"perfbench $q $name", false)
        body
      }
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      val error =
        try {
          val df: DataFrame = phase("build")(fns(q)(spark, data))
          t1 = System.nanoTime()
          sink match {
            case Some(path) =>
              t2 = t1
              phase("exec")(df.write.mode("overwrite").parquet(path))
            case None =>
              val plan = phase("plan")(df.queryExecution.executedPlan)
              t2 = System.nanoTime()
              phase("exec")(plan.execute().foreach(_ => ()))
          }
          None
        } catch {
          case e: Throwable =>
            if (t1 == t0) t1 = System.nanoTime()
            if (t2 == t0) t2 = t1
            Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        } finally if (trc) sc.clearJobGroup()
      Call(pass, q, trc, t0, t1, t2, System.nanoTime(), error)
    }

    // ---- set-up: session start, table resolution and the warm-up passes.
    // The first warm-up pass (pass 0, the check pass) is the run's one
    // untimed call per query whose output is kept for the oracle check: it
    // writes each result under `<out>/check/<query>`. The settle passes
    // (-1, -2, ...) follow it untraced: the JIT is still compiling
    // hot paths over the first passes (a pass's process CPU time falls by a
    // quarter or more from the second to the fifth), and calls timed before
    // it settles drift down through the window. One session per JVM: a second
    // session in the same process trips engine state that outlives its
    // session (see perfbench/README.md). A traced run also traces the check
    // pass, so construction-job counts are seen on every traced pass, the
    // first included.
    val recorder = new Recorder
    def traceOn(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(recorder)
    def traceOff(spark: SparkSession): Unit = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
      recorder.settle()
    }
    val s0 = System.nanoTime()
    val spark = graft.GraftSession.builder(master = s"local[$slots]")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val s1 = System.nanoTime()
    if (traced) traceOn(spark)
    tables.foreach(t => graft.Tables.load(spark, data, t).schema)
    val s2 = System.nanoTime()
    val checkCalls = queries.map(q => call(spark, q, 0, traced, Some(s"$out/check/$q")))
    if (traced) traceOff(spark)
    val settleCalls = (1 to SettlePasses).flatMap(i => queries.map(q => call(spark, q, -i, false)))
    val warmCalls = checkCalls ++ settleCalls
    val s3 = System.nanoTime()
    val setup = Map(
      "jvm_boot_s" -> jvmBootS, "session_s" -> (s1 - s0) / 1e9,
      "tables_s" -> (s2 - s1) / 1e9, "warmup_s" -> (s3 - s2) / 1e9,
      "total_s" -> (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    val sc = spark.sparkContext

    // ---- timed window
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcTotals: (Long, Long) =
      (gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum,
        gcBeans.map(_.getCollectionCount).filter(_ >= 0).sum)
    val calls = ArrayBuffer[Call]()
    val passes = ArrayBuffer[Map[String, Any]]()
    // The workload's number of passes runs, and more start only while
    // `seconds` have not gone by. The fixed count is set to outlast
    // `seconds`, so every run has the same number of calls: the medians and
    // the tail percentile then do not jump when a run's speed moves the
    // pass count across a boundary (the tail would land in another query's
    // latency cluster).
    val minPasses = windowPasses.toInt
    val w0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) {
      pass += 1
      // a traced run traces every second pass, so the same process measures
      // its own tracing overhead against the untraced pass after each
      val trc = traced && pass % 2 == 1
      if (trc) traceOn(spark)
      val (gcT0, gcN0) = gcTotals
      val (cpu0, steal0) = (processCpuS, hostStealS)
      val p0 = System.nanoTime()
      val pcalls = queries.map(q => call(spark, q, pass, trc))
      val p1 = System.nanoTime()
      val (cpu1, steal1) = (processCpuS, hostStealS)
      val (gcT1, gcN1) = gcTotals
      calls ++= pcalls
      val rec = collection.mutable.Map[String, Any](
        "pass" -> pass, "traced" -> trc, "wall_s" -> (p1 - p0) / 1e9,
        "failed" -> pcalls.count(!_.ok),
        "gc_s" -> (gcT1 - gcT0) / 1e3, "gc_count" -> (gcN1 - gcN0),
        "cpu_s" -> (cpu1 - cpu0), "host_steal_s" -> (steal1 - steal0))
      if (trc) {
        traceOff(spark)
        val storage = sc.getRDDStorageInfo
        rec ++= Map(
          "cache_storage_mb" -> storage.map(r => r.memSize + r.diskSize).sum / 1048576.0,
          "cache_persisted_rdds" -> sc.getPersistentRDDs.size,
          "staging_written_mb" -> Main.writtenSince(stagingRoot, epochMs(p0)) / 1048576.0)
      }
      passes += rec.toMap
    }
    val windowS = (System.nanoTime() - w0) / 1e9

    // ---- live heap after a full collection at the end of the last pass
    System.gc()
    Thread.sleep(500) // let the context cleaner release what the GC freed
    System.gc()
    val liveHeapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val checkErrors = checkCalls.flatMap(c => c.error.map(c.query -> _)).toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    write(s"$out/oracle_sql.json", json(oracle))

    val tracedCalls = (warmCalls ++ calls).filter(_.traced)
    val layers = if (traced) recorder.perCall(tracedCalls.toSeq) else Map.empty[String, Map[String, Any]]
    if (traced) {
      val spans = tracedCalls.flatMap { c =>
        Seq(("call", "", c.t0, c.t3), ("build", "call", c.t0, c.t1),
          ("plan", "call", c.t1, c.t2), ("exec", "call", c.t2, c.t3)).map {
          case (name, parent, a, b) => json(Map("call" -> c.id, "name" -> name,
            "parent" -> parent, "start_ms" -> epochMs(a), "end_ms" -> epochMs(b)))
        }
      }
      write(s"$out/spans.jsonl", spans.mkString("", "\n", "\n"))
    }

    def callJson(c: Call): Map[String, Any] = Map(
      "pass" -> c.pass, "query" -> c.query, "traced" -> c.traced,
      "build_s" -> (c.t1 - c.t0) / 1e9, "plan_s" -> (c.t2 - c.t1) / 1e9,
      "exec_s" -> (c.t3 - c.t2) / 1e9, "total_s" -> c.seconds,
      "error" -> c.error.orNull, "layers" -> layers.getOrElse(c.id, null))
    write(s"$out/result.json", json(Map(
      "workload" -> workload, "data" -> data, "slots" -> slots.toInt,
      "setup" -> setup, "window_s" -> windowS,
      "warmup_calls" -> warmCalls.map(callJson), "calls" -> calls.map(callJson),
      "passes" -> passes, "live_heap_mb" -> liveHeapMb,
      "check_errors" -> checkErrors)))
    spark.stop()
  }

  /** CPU seconds this process has used, all threads. */
  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** CPU seconds the hypervisor has given to other guests, summed over this
    * host's CPUs (the `steal` column of /proc/stat, in 1/100 s); NaN where
    * the kernel does not report it.
    */
  def hostStealS: Double =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+")
      f(8).toDouble / 100
    } catch { case _: Exception => Double.NaN }

  /** Bytes of the files under `root` modified at or after `sinceMs`. */
  def writtenSince(root: String, sinceMs: Double): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .map(_.toFile)
        .filter(_.lastModified() >= sinceMs.toLong)
        .map(_.length()).sum
      finally s.close()
    }
  }

  def json(v: Any): String = compact(render(Extraction.decompose(v)(DefaultFormats)))

  def write(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s)
  }
}
