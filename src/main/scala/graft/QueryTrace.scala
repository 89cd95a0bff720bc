package graft

import org.apache.spark.graftshim.CoreShims
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainUtils, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.SqlShims

import scala.collection.mutable

/** What one call ran: its SQL executions (final plan, planning times,
  * `graft_*` counters) and the jobs, stages and tasks behind them, split
  * into task CPU, GC, spill, shuffle and scan, with the top stages.
  *
  * [[of]] is one `SparkListener` scoped to the call, never registered on
  * a session. It drains the listener bus, adds a fresh job tag to the
  * calling thread, runs `body`, drains again, and removes the tag and
  * the listener in a finally. Only tagged events count: an execution
  * whose start event lists the tag (`qe.id` is not the execution id),
  * a job whose `spark.job.tags` does, and its stages and tasks. So other
  * threads' jobs are not counted, and a thread `body` starts inherits
  * the tag.
  */
object QueryTrace {

  /** One SQL execution the call ran to completion, with its name
    * (`collect`, `save`, `localCheckpoint`, …) and `QueryExecution`. */
  final class Execution(val name: String, val qe: QueryExecution) {
    /** The final physical plan as `explain("formatted")` prints it, with
      * every adaptive plan replaced by its final plan, so each operator it
      * ran appears once; a cached relation's own plan, shown under each
      * scan that reads it, prints as Spark formats it. Formatted as the
      * end event is delivered, so a cached stage's statistics read the
      * cache as loaded or, if the call freed it already, as freed. */
    val plan: String = {
      val sb = new StringBuilder
      ExplainUtils.processPlan(
        qe.executedPlan.transform { case a: AdaptiveSparkPlanExec => a.executedPlan },
        (x: String) => sb.append(x): Unit)
      sb.toString
    }
    /** Seconds per planning phase (analysis, optimization, planning). */
    def phases: Seq[(String, Double)] = Seq("analysis", "optimization", "planning")
      .flatMap(p => qe.tracker.phases.get(p).map(s => p -> (s.endTimeMs - s.startTimeMs) / 1000.0))
    /** The `graft_*` observed counters with a non-zero field. */
    def counters: Seq[(String, Seq[(String, Long)])] =
      GraftMetrics.counters(qe).filter(_._2.exists(_._2 != 0L))
  }

  /** One stage's name and task totals, named as in [[Trace.totals]]. */
  final case class Stage(id: Int, name: String, metrics: Seq[(String, Double)])

  /** @param totals `t_start` (epoch s), `wall_s` of `body`, then the job,
    *   stage and task figures, named as perfbench's per-layer metrics
    *   (sizes in MB, 10^6 bytes)
    * @param topStages the five stages with the most task time */
  final case class Trace(executions: Seq[Execution], totals: Seq[(String, Double)], topStages: Seq[Stage]) {
    def apply(metric: String): Double = totals.toMap.apply(metric)
    /** `(name, plan)` of every execution, in completion order. */
    def plans: Seq[(String, String)] = executions.map(e => e.name -> e.plan)
    def summary: String = Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
      "spill_mb", "shuffle_write_mb").map(k => s"$k=${num(apply(k))}").mkString(" ")
    /** One JSON object: the totals, each execution's name, phase seconds
      * and counters (no plan), and the top stages. */
    def json: String = obj(nums(totals) ++ Seq(
      "executions" -> arr(executions.map(e => obj(("name" -> SparkEntry.jsonString(e.name)) +:
        nums(e.phases.map { case (p, s) => s"${p}_s" -> s }) :+ ("counters" -> obj(
          e.counters.map { case (c, fs) => c -> obj(fs.map { case (k, v) => k -> v.toString }) }))))),
      "top_stages" -> arr(topStages.map(s =>
        obj(Seq("id" -> s.id.toString, "name" -> SparkEntry.jsonString(s.name)) ++ nums(s.metrics))))))
  }

  private def num(v: Double): String =
    if (v.isWhole) v.toLong.toString else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def nums(kv: Seq[(String, Double)]): Seq[(String, String)] = kv.map { case (k, v) => k -> num(v) }
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${SparkEntry.jsonString(k)}:$v" }.mkString("{", ",", "}")

  /** `body`'s result and the trace of what it ran on `spark`'s context. */
  def of[A](spark: SparkSession)(body: => A): (A, Trace) = {
    val sc = spark.sparkContext
    val l = new Listener(s"graft-trace-${java.util.UUID.randomUUID}")
    CoreShims.drainListenerBus(sc)
    sc.addSparkListener(l)
    sc.addJobTag(l.tag)
    try {
      val t0 = System.currentTimeMillis() / 1000.0
      val n0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - n0) / 1e9
      CoreShims.drainListenerBus(sc)
      (out, l.trace(t0, wall))
    } finally {
      sc.removeJobTag(l.tag)
      sc.removeSparkListener(l)
    }
  }

  /** The task metrics summed per stage: name, unit divisor, reader. */
  private val TaskFields: Seq[(String, Double, TaskMetrics => Long)] = Seq(
    ("task_run_s", 1e3, _.executorRunTime), ("task_cpu_s", 1e9, _.executorCpuTime),
    ("gc_s", 1e3, _.jvmGCTime), ("task_deser_s", 1e3, _.executorDeserializeTime),
    ("spill_mb", 1e6, _.diskBytesSpilled),
    ("shuffle_write_mb", 1e6, _.shuffleWriteMetrics.bytesWritten),
    ("shuffle_read_mb", 1e6, _.shuffleReadMetrics.totalBytesRead),
    ("scan_mb", 1e6, _.inputMetrics.bytesRead))
  private def scaled(sums: Seq[Long]): Seq[(String, Double)] =
    TaskFields.zip(sums).map { case ((k, unit, _), v) => k -> v / unit }

  private final class StageAcc {
    var name = ""
    var attempts, tasks = 0
    val sums = new Array[Long](TaskFields.size)
  }

  // Every callback runs on the listener bus thread; `trace` reads on the
  // caller's thread after a drain. Both synchronize on the listener.
  private final class Listener(val tag: String) extends SparkListener {
    private val execIds = mutable.Set[Long]()
    private val executions = mutable.ArrayBuffer[Execution]()
    private val jobs = mutable.Map[Int, Seq[Int]]()
    private val stages = mutable.LinkedHashMap[Int, StageAcc]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) => execIds += s.executionId
        case s: SparkListenerSQLExecutionEnd if execIds(s.executionId) =>
          SqlShims.succeeded(s).foreach { case (name, qe) => executions += new Execution(name, qe) }
        case _ =>
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the value is the comma-joined tag set (Spark's SPARK_JOB_TAGS)
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      if (tags.exists(_.split(",").contains(tag))) {
        jobs(e.jobId) = e.stageIds
        e.stageIds.foreach(stages.getOrElseUpdate(_, new StageAcc))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { a =>
        a.attempts += 1
        a.name = e.stageInfo.name.takeWhile(_ != '\n').take(80)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (a <- stages.get(e.stageId)) {
        a.tasks += 1
        for (m <- Option(e.taskMetrics); ((_, _, read), i) <- TaskFields.zipWithIndex) a.sums(i) += read(m)
      }
    }

    def trace(tStart: Double, wallS: Double): Trace = synchronized {
      val ss = stages.values.toSeq
      Trace(executions.toSeq,
        Seq("t_start" -> tStart, "wall_s" -> wallS, "jobs" -> jobs.size.toDouble,
          "stages" -> ss.map(_.attempts).sum.toDouble,
          // per job, as perfbench counts them: its stages never submitted
          "stages_skipped" -> jobs.values.map(_.count(stages(_).attempts == 0)).sum.toDouble,
          "tasks" -> ss.map(_.tasks).sum.toDouble) ++
          scaled(TaskFields.indices.map(i => ss.map(_.sums(i)).sum)),
        stages.toSeq.filter(_._2.attempts > 0).sortBy(-_._2.sums(0)).take(5)
          .map { case (id, a) => Stage(id, a.name, scaled(a.sums.toSeq)) })
    }
  }
}
