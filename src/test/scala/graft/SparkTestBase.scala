package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite wall-time dominated by the queries, not session startup).
  *
  * `spark` transparently rebuilds if the active session was stopped —
  * a suite that needs its own SparkContext (e.g. SchedulerSpec's
  * `local[2,2]` retry master; Spark allows one context per JVM) must
  * call `reset()` first and again when done. */
object SparkTestBase {
  private var _spark: SparkSession = _

  def spark: SparkSession = synchronized {
    if (_spark == null || _spark.sparkContext.isStopped) _spark = build()
    _spark
  }

  /** Stop and discard the shared session (next `spark` call rebuilds). */
  def reset(): Unit = synchronized {
    if (_spark != null) {
      if (!_spark.sparkContext.isStopped) _spark.stop()
      _spark = null
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def build(): SparkSession = {
    val s = Engine.session("local[4]", 4, "graft-test")
    // Targeted test-log hygiene (round-12 ADVICE #8): two categories of
    // EXPECTED warnings drowned real ones in `sbt test` stderr (round-12
    // count: 934 WindowExec "no partition defined" lines on the
    // documented metadata-sized frames — k-row model grids, certified
    // scalar rollups — whose single-partition shape PlanShapeSpec pins
    // deliberately; 71 ResolveWriteToStream temp-checkpoint notices from
    // StreamingSpec's intentionally-ephemeral sinks). Silence exactly
    // those two loggers, TEST sessions only — Bench/Verify keep them.
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream", Level.ERROR)
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  /** Janino compilations while `body` runs. The codegen counter is
    * JVM-wide, so a compile on any thread (an executor task, a wire
    * handler) counts. */
  def compilesDuring(body: => Any): Long = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }

  /** `(path under src/main/scala, content)` of every main Scala source,
    * sorted by path — for pins on what the engine's code may contain. */
  lazy val mainSources: Seq[(String, String)] = {
    import java.nio.file.{Files, Path, Paths}, scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
      .toSeq.sortBy(_._1)
    finally walk.close()
  }
}

abstract class GraftSuite extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf
}
