package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Collects the jobs, stages and tasks Spark runs while a traced call has
  * its job group set. The group is `pb|<pass>/<query>|<phase>`, so every
  * job, stage and task is attributed to one call and one phase (build,
  * plan or exec). Registered only around traced passes.
  */
final class Recorder extends SparkListener {
  import Recorder.Stage

  private val jobGroups = mutable.ArrayBuffer[String]()
  private val stageGroup = mutable.Map[Int, String]()
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val stages = mutable.ArrayBuffer[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    if (g.startsWith("pb|")) {
      jobGroups += g
      e.stageIds.foreach(stageGroup.getOrElseUpdate(_, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageGroup.contains(e.stageId) && e.taskMetrics != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageGroup.get(i.stageId).foreach { g =>
      val m = i.taskMetrics
      stages += Stage(g, i.numTasks, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L),
        taskMs.remove((i.stageId, i.attemptNumber())).map(_.toSeq).getOrElse(Nil),
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.diskBytesSpilled)
    }
  }

  /** Forget stage bookkeeping once a session's events are drained: stage
    * ids restart with every SparkContext.
    */
  def settle(): Unit = synchronized {
    stageGroup.clear()
    taskMs.clear()
  }

  /** Per-call layer counters, keyed by [[Main.Call.id]]. */
  def perCall(calls: Seq[Main.Call]): Map[String, Map[String, Any]] = synchronized {
    val jobsBy = jobGroups.groupBy(identity).view.mapValues(_.size).toMap
    val stagesBy = stages.toSeq.groupBy(_.group)
    calls.map { c =>
      def g(phase: String) = s"pb|${c.id}|$phase"
      val bs = stagesBy.getOrElse(g("build"), Nil)
      val ex = stagesBy.getOrElse(g("exec"), Nil)
      val (e0, e1) = (Main.epochMs(c.t2), Main.epochMs(c.t3))
      // exec wall time during which none of this call's stages ran
      val spans = ex.map(s => (math.max(e0, s.submitMs.toDouble), math.min(e1, s.doneMs.toDouble)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      val (covered, _) = spans.foldLeft((0.0, e0)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
      }
      // skew: max/median task time of the worst stage that did real work
      // (at least two tasks and 100 ms of task time)
      val skew = ex.filter(s => s.taskMs.size >= 2 && s.taskMs.sum >= 100).map { s =>
        val t = s.taskMs.sorted
        t.last.toDouble / math.max(1L, t(t.size / 2))
      }.maxOption.getOrElse(1.0)
      val heaviest = ex.maxByOption(_.taskMs.sum)
      def mb(f: Stage => Long) = ex.map(f).sum / 1048576.0
      c.id -> Map[String, Any](
        "build_jobs" -> jobsBy.getOrElse(g("build"), 0),
        "build_task_s" -> bs.flatMap(_.taskMs).sum / 1e3,
        "plan_jobs" -> jobsBy.getOrElse(g("plan"), 0),
        "exec_jobs" -> jobsBy.getOrElse(g("exec"), 0),
        "exec_stages" -> ex.size,
        "exec_tasks" -> ex.map(_.tasks).sum,
        "exec_task_s" -> ex.flatMap(_.taskMs).sum / 1e3,
        "exec_driver_gap_s" -> math.max(0.0, e1 - e0 - covered) / 1e3,
        "exec_skew" -> skew,
        "exec_shuffle_write_mb" -> mb(_.shuffleWrite),
        "exec_shuffle_read_mb" -> mb(_.shuffleRead),
        "exec_spill_mb" -> mb(_.spill),
        "heaviest_stage_tasks" -> heaviest.map(_.tasks).getOrElse(0),
        "heaviest_stage_task_s" -> heaviest.map(_.taskMs.sum / 1e3).getOrElse(0.0))
    }.toMap
  }
}

object Recorder {
  private final case class Stage(group: String, tasks: Int, submitMs: Long, doneMs: Long,
                                 taskMs: Seq[Long], shuffleWrite: Long, shuffleRead: Long,
                                 spill: Long)
}
