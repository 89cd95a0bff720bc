package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import scala.jdk.CollectionConverters._

/** A closed interval the benchmark or Spark reported. Times are epoch
  * milliseconds (fractional for the benchmark's own spans, whole for
  * Spark's events), so both sides can be compared on one clock. */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans the benchmark records around each call into a layer, plus the
  * job, stage and SQL-execution intervals its listeners collect. Nothing
  * is recorded unless the run is traced; untraced runs pay one volatile
  * read per span.
  *
  * Per-layer figures cover only the timed window: the listener bus is
  * drained before [[open]] and before [[close]], so warm-up events never
  * land in the window and window events are all delivered when read. */
object Trace {
  @volatile private var enabled = false
  @volatile private[perfbench] var open = false

  private val ids = new AtomicLong(0)
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()

  /** Run `f` as a span; returns its result. The id passed to `f` is the
    * span's own, for children to name as their parent. */
  def span[T](name: String, op: Long, parent: Long)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    if (!enabled || !open) return f(id)
    val t0 = nowMs
    try f(id)
    finally spans.add(Span(id, parent, op, name, t0, nowMs))
  }
  def nextId(): Long = ids.incrementAndGet()

  // ---- listener-side accumulators (window only) ----
  final class Job(val id: Int, val start: Long, val desc: String, val group: String, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1
  }
  final class Exec(val id: Long, val start: Long, val desc: String, val group: String) {
    @volatile var end: Long = -1
  }
  val jobs = new ConcurrentLinkedQueue[Job]()
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  private val submittedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val stagesDone = new LongAdder
  val stagesSkipped = new LongAdder
  val stageSpans = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  val tasks = new LongAdder
  val tasksOk = new LongAdder
  val taskRunMs = new LongAdder
  val taskCpuNs = new LongAdder
  val gcMs = new LongAdder
  val deserMs = new LongAdder
  val schedDelayMs = new LongAdder
  val shuffleWriteB = new LongAdder
  val shuffleReadB = new LongAdder
  val shuffleWriteNs = new LongAdder
  val fetchWaitMs = new LongAdder
  val spillB = new LongAdder
  val scanB = new LongAdder
  val scanRows = new LongAdder
  val outB = new LongAdder
  val outRows = new LongAdder
  val unpersisted = new LongAdder
  val planMs = Map("analysis" -> new DoubleAdder, "optimization" -> new DoubleAdder, "planning" -> new DoubleAdder)
  val writeFiles = new LongAdder
  val commitMs = new LongAdder
  @volatile var storagePeakB = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (open) {
      val p = Option(e.properties)
      jobs.add(new Job(e.jobId, e.time,
        p.map(_.getProperty("spark.job.description")).orNull,
        p.map(_.getProperty("spark.jobGroup.id")).orNull, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (open) {
      jobs.asScala.find(_.id == e.jobId).foreach { j =>
        j.end = e.time
        stagesSkipped.add(j.stageIds.count(s => !submittedStages.contains(s)).toLong)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (open) submittedStages.add(e.stageInfo.stageId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (open) {
      val si = e.stageInfo
      stagesDone.increment()
      for (s <- si.submissionTime; c <- si.completionTime) stageSpans.add((si.stageId, s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (open) {
      tasks.increment()
      if (e.taskInfo.successful) tasksOk.increment()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.add(m.executorRunTime)
        taskCpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        deserMs.add(m.executorDeserializeTime)
        val d = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime
        schedDelayMs.add(math.max(0L, d))
        shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleWriteNs.add(m.shuffleWriteMetrics.writeTime)
        shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
        fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
        spillB.add(m.diskBytesSpilled)
        scanB.add(m.inputMetrics.bytesRead)
        scanRows.add(m.inputMetrics.recordsRead)
        outB.add(m.outputMetrics.bytesWritten)
        outRows.add(m.outputMetrics.recordsWritten)
      }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = if (open) unpersisted.increment()
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (open) e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, new Exec(s.executionId, s.time, s.description, s.jobGroupId.orNull))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.end = s.time)
      case _ =>
    }
  }

  private def onPlan(qe: QueryExecution): Unit = if (open) {
    qe.tracker.phases.foreach { case (phase, s) =>
      planMs.get(phase).foreach(_.add((s.endTimeMs - s.startTimeMs).toDouble))
    }
    qe.executedPlan.collect { case w: DataWritingCommandExec => w }.foreach { w =>
      def m(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
      writeFiles.add(m("numFiles"))
      commitMs.add(m("jobCommitTime") + m("taskCommitTime"))
    }
  }

  /** Registered on every session, including each JDBC connection's
    * `newSession()`, through `spark.sql.queryExecutionListeners`, which
    * run.py sets for traced runs only. */
  class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onPlan(qe)
  }

  private var poller: Thread = _

  def enable(sc: SparkContext): Unit = {
    enabled = true
    sc.addSparkListener(listener)
    poller = new Thread(() => {
      try while (true) {
        if (open) {
          val b = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
          if (b > storagePeakB) storagePeakB = b
        }
        Thread.sleep(100)
      } catch { case _: InterruptedException => }
    }, "perfbench-storage-poll")
    poller.setDaemon(true)
    poller.start()
  }

  def stop(): Unit = if (poller != null) { poller.interrupt(); poller.join() }
}

/** Largest heap occupancy left after any collection in the window, from
  * the collectors' own after-GC usage. */
object HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var on = false
  @volatile var peakB = 0L
  @volatile var collections = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val l = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized {
          collections += 1
          if (used > peakB) peakB = used
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(l, null, null)
    case _ =>
  }
  def start(): Unit = on = true
  def stop(): Unit = on = false

}

/** The machine's CPU counters from /proc/stat, read at both ends of the
  * timed window, so a window in which the hypervisor stole CPU time from
  * this machine can be told apart from a quiet one. */
object HostCpu {
  /** Jiffies stolen and jiffies in total since boot, over all cores. */
  def read(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      // cpu user nice system idle iowait irq softirq steal
      val v = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong) finally src.close()
      (v(7), v.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 <= from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)
}

/** Per-layer figures of one traced window, normalised per op (a pass of
  * llm_pipeline, one statement of wire_mix).
  * `ops` are the benchmark's op spans; `callNames` the child spans whose
  * durations should add up to each op's wall time. */
object Layers {
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def compute(
      nproc: Int, windowS: Double, opsPerUnit: Double, outRowsPerUnit: Double,
      ops: Seq[Span], callNames: Set[String]): Map[String, Double] = {
    import Trace._
    val units = math.max(ops.size / opsPerUnit, 1e-9)
    def per(v: Double) = v / units
    val all = spans.asScala.toSeq
    val byParent = all.groupBy(_.parent)
    val doneJobs = jobs.asScala.toSeq.filter(_.end >= 0)
    // attribute a job or execution to its op: by the statement tag the
    // wire clients put in the SQL text, else by the op whose span holds
    // the job's start (single-client workloads)
    val sortedOps = ops.sortBy(_.start)
    def opAt(t: Double): Option[Span] =
      sortedOps.find(o => o.start <= t && t <= o.end + 1)
    def owner(desc: String, t: Double): Option[Span] =
      Option(desc).flatMap(Workload.tagOf).flatMap(id => ops.find(_.op == id)).orElse(opAt(t))
    val jobsOf = doneJobs.groupBy(j => owner(j.desc, j.start.toDouble).map(_.id).getOrElse(-1L))
    val execsOf = execs.values.asScala.toSeq.filter(_.end >= 0)
      .groupBy(x => owner(x.desc, x.start.toDouble).map(_.id).getOrElse(-1L))

    var wall = 0.0; var calls = 0.0; var covered = 0.0; var gaps = 0.0; var serverMs = 0.0
    ops.foreach { o =>
      wall += o.dur
      val childCalls = byParent.getOrElse(o.id, Nil).filter(c => callNames(c.name)).map(_.dur).sum
      val iv = jobsOf.getOrElse(o.id, Nil).map(j => (j.start.toDouble, j.end.toDouble))
      val exIv = execsOf.getOrElse(o.id, Nil).map(x => (x.start.toDouble, x.end.toDouble))
      val server = if (exIv.isEmpty && iv.isEmpty) 0.0
        else (exIv ++ iv).map(_._2).max - (exIv ++ iv).map(_._1).min
      serverMs += server
      calls += (if (callNames.isEmpty) server else childCalls)
      // job-covered time (unclipped) and the gaps between jobs inside the
      // op are measured separately; their sum against the op's wall time
      // shows jobs that outlive their op or event-clock skew
      val cov = union(iv)
      covered += cov
      val clipped = iv.map { case (s, e) => (math.max(s, o.start), math.min(e, o.end)) }.filter(p => p._2 > p._1)
      gaps += o.dur - union(clipped)
    }
    val callS = (n: String) => all.filter(_.name == n).map(_.dur).sum / 1000
    val sqlN = execs.size.toDouble
    Map(
      "catalog_call_s" -> per(callS("catalog_call")),
      "sink_s" -> per(callS("sink")),
      "plan_analysis_s" -> per(planMs("analysis").sum / 1000),
      "plan_optimize_s" -> per(planMs("optimization").sum / 1000),
      "plan_physical_s" -> per(planMs("planning").sum / 1000),
      "sql_executions" -> per(sqlN),
      "jobs" -> per(doneJobs.size.toDouble),
      "stages" -> per(stagesDone.sum.toDouble),
      "stages_skipped" -> per(stagesSkipped.sum.toDouble),
      "tasks" -> per(tasks.sum.toDouble),
      "no_job_s" -> per(gaps / 1000),
      "sched_delay_s" -> per(schedDelayMs.sum / 1000.0),
      "slot_util" -> taskRunMs.sum / 1000.0 / (windowS * nproc),
      "task_run_s" -> per(taskRunMs.sum / 1000.0),
      "task_cpu_s" -> per(taskCpuNs.sum / 1e9),
      "gc_s" -> per(gcMs.sum / 1000.0),
      "task_deser_s" -> per(deserMs.sum / 1000.0),
      "task_attempt_ratio" -> (if (tasks.sum == 0) 1.0 else tasksOk.sum.toDouble / tasks.sum),
      "shuffle_write_mb" -> per(shuffleWriteB.sum / 1e6),
      "shuffle_read_mb" -> per(shuffleReadB.sum / 1e6),
      "shuffle_write_s" -> per(shuffleWriteNs.sum / 1e9),
      "fetch_wait_s" -> per(fetchWaitMs.sum / 1000.0),
      "spill_mb" -> per(spillB.sum / 1e6),
      "scan_mb" -> per(scanB.sum / 1e6),
      "scan_rows" -> per(scanRows.sum.toDouble),
      "scan_rows_per_out_row" -> {
        val out = if (outRows.sum > 0) per(outRows.sum.toDouble) else outRowsPerUnit
        if (out > 0) per(scanRows.sum.toDouble) / out else 0.0
      },
      "storage_mb_peak" -> storagePeakB / 1e6,
      "rdds_unpersisted" -> per(unpersisted.sum.toDouble),
      "output_mb" -> per(outB.sum / 1e6),
      "output_files" -> per(writeFiles.sum.toDouble),
      "commit_s" -> per(commitMs.sum / 1000.0),
      "server_exec_ms" -> (if (callNames.isEmpty) serverMs / math.max(ops.size, 1) else 0.0),
      "wire_overhead_ms" -> (if (callNames.isEmpty) (wall - serverMs) / math.max(ops.size, 1) else 0.0),
      "calls_unexplained_share" -> (if (wall > 0) (wall - calls) / wall else 0.0),
      "jobs_unexplained_share" -> (if (wall > 0) (covered + gaps - wall) / wall else 0.0)
    )
  }
}
