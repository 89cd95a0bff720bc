package perfbench

import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** What every workload gets: the one session, the machine's core count,
  * the seed and where its inputs and scratch space live. */
final case class Ctx(
    spark: SparkSession, nproc: Int, seed: Long,
    base: String, work: String, expected: Map[String, String])

/** One statement the workload completed in the window: its kind (a
  * catalog query, a wire template, a pipeline call), when it ended and
  * how long it took. */
final case class Stmt(kind: String, endNs: Long, latNs: Long)

/** Counts and timings a workload reports; shared by its client threads. */
final class Recorder {
  val stmts = new ConcurrentLinkedQueue[Stmt]()
  val passes = new ConcurrentLinkedQueue[Double]()
  val attempted = new AtomicInteger
  val failed = new AtomicInteger
  val checksRun = new AtomicInteger
  val checkFailures = new ConcurrentLinkedQueue[String]()
  val errors = new ConcurrentLinkedQueue[String]()

  def stmt(kind: String, t0: Long): Unit = {
    val t1 = System.nanoTime()
    stmts.add(Stmt(kind, t1, t1 - t0))
  }
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    checksRun.incrementAndGet()
    if (!ok) checkFailures.add(s"$what: $detail")
  }
  /** Forget the warm-up's timings; its failures still count. */
  def reset(): Unit = {
    stmts.clear(); passes.clear(); attempted.set(0)
  }
  /** Run one op; a throw counts it as failed and the run goes on. */
  def op(what: String)(f: => Unit): Unit = {
    attempted.incrementAndGet()
    try f
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        errors.add(s"$what: $e")
        System.err.println(s"[perfbench] $what failed: $e")
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

trait Workload {
  val rec = new Recorder
  /** Untimed: register inputs and warm up; batch workloads check their
    * outputs here. */
  def setup(): Unit
  /** The timed window: start ops until the deadline passes. */
  def window(deadlineNs: Long): Unit
  /** Untimed checks after the window. */
  def verify(): Unit = ()
  def close(): Unit = ()

  /** Op spans that make up the unit per-layer figures are given per: a
    * pass of the batch workloads, a single statement of the wire. */
  def opsPerUnit: Double
  /** Rows the workload's statements return per unit. */
  def outRowsPerUnit: Double
  /** Names of the child spans whose time should add up to an op's wall
    * time; empty for the wire, where the server's execution does. */
  def callSpans: Set[String]
  def opSpanName: String
  /** Pipeline stages loaded from a committed checkpoint, per pipeline op. */
  def stagesResumed: Double = 0.0

  def endToEnd(windowS: Double): Map[String, Double] = {
    val st = rec.stmts.asScala.toSeq
    val passes = rec.passes.asScala.toSeq
    val byKind = st.groupBy(_.kind).values.map(v => Stats.median(v.map(_.latNs / 1e9))).toSeq
    val lat = st.map(_.latNs / 1e6)
    Map(
      "pass_s" -> Stats.median(passes),
      "query_geomean_s" -> Stats.geomean(byKind),
      "stmt_per_s" -> st.size / windowS,
      "lat_p50_ms" -> Stats.quantile(lat, 0.5),
      "lat_p90_ms" -> Stats.quantile(lat, 0.9))
  }

  def samples: Map[String, Double] = {
    val n = rec.stmts.size
    Map("passes" -> rec.passes.size.toDouble, "statements" -> n.toDouble,
      "beyond_p90" -> math.floor(n * 0.1))
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "llm_pipeline" => new LlmPipeline(ctx)
    case "wire_mix" => new WireMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  /** The tag that ties a statement's jobs and SQL executions to its op:
    * in the SQL text on the wire, where the Thrift server makes the text
    * the job description, and as the job description in-process. */
  def tag(opId: Long): String = s"/* pb:$opId */"
  private val Tag = """/\* pb:(\d+) \*/""".r.unanchored
  /** The op a job or SQL execution belongs to, from its description. */
  def tagOf(desc: String): Option[Long] = desc match {
    case Tag(id) => Some(id.toLong)
    case _ => None
  }

  def tagged[T](spark: org.apache.spark.sql.SparkSession, opId: Long)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobDescription(tag(opId))
    try f finally sc.setJobDescription(null)
  }

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}
