package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.jdk.CollectionConverters._

/** Stage-level profiler for local iteration: runs the named catalog
  * queries once (on [[Engine.session]], like [[Bench]]) with a listener that
  * aggregates, per query, the stage-metric axes that separate the three
  * failure modes a wall clock conflates —
  *
  *   - `gc`      JVM GC time summed over tasks (heap pressure),
  *   - `spill`   memory+disk bytes spilled (working set > execution pool),
  *   - `cpu`     executor run time summed over tasks (real work; a
  *               super-linear `cpu` is a plan problem, a super-linear
  *               wall over flat `cpu` is an environment problem),
  *   - `shuffle` bytes written (data motion; the 100 TB cost driver).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile q_a,q_b"`.
  * Prints one line per (query, run) plus the per-query top-5 stages by
  * task time, so a nondeterministic slow run is attributable to the
  * specific stage that moved. Repeats each query
  * `SPARK_GRAFT_PROFILE_RUNS` times (default 2) because the variance
  * itself is usually the signal being chased.
  */
object Profile {
  private final case class StageAgg(
      var taskMs: Long = 0, var gcMs: Long = 0, var cpuMs: Long = 0,
      var spill: Long = 0, var shufW: Long = 0, var shufR: Long = 0,
      var name: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.catalog.map(_.name))
    val spark = Engine.session(s"local[$cpus]", cpus.toInt, "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")

    // Written on the listener-bus thread, read/cleared on main: a plain
    // map would drop or misattribute trailing stage-completion events
    // (the main thread must also drain the bus before reading — see
    // waitUntilEmpty below), corrupting the very attribution this tool
    // exists for.
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        val a = stages.computeIfAbsent(e.stageInfo.stageId, _ => StageAgg())
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.cpuMs += m.executorCpuTime / 1000000L
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.name = e.stageInfo.name.takeWhile(_ != '\n').take(80)
      }
    })

    def mb(b: Long): String = f"${b / 1048576.0}%.0fM"
    for (name <- names; r <- 1 to runs) {
      // drain stragglers from the PREVIOUS query before clearing, and
      // again before reading this run's aggregates — stage completions
      // are delivered asynchronously on the bus thread
      org.apache.spark.graftshim.CoreShims.drainListenerBus(spark.sparkContext)
      stages.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      org.apache.spark.graftshim.CoreShims.drainListenerBus(spark.sparkContext)
      val tot = stages.values.asScala
      println(f"[profile] $name run$r wall=$wall%.1fs stages=${stages.size} " +
        f"task=${tot.map(_.taskMs).sum / 1000.0}%.0fs cpu=${tot.map(_.cpuMs).sum / 1000.0}%.0fs " +
        f"gc=${tot.map(_.gcMs).sum / 1000.0}%.0fs spill=${mb(tot.map(_.spill).sum)} " +
        f"shufW=${mb(tot.map(_.shufW).sum)}")
      for ((id, a) <- stages.asScala.toSeq.sortBy(-_._2.taskMs).take(5))
        println(f"[profile]   stage$id task=${a.taskMs / 1000.0}%.1fs cpu=${a.cpuMs / 1000.0}%.1fs " +
          f"gc=${a.gcMs / 1000.0}%.1fs spill=${mb(a.spill)} shufR=${mb(a.shufR)} " +
          f"shufW=${mb(a.shufW)} ${a.name}")
    }
    spark.stop()
  }
}
