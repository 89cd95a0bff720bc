package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Engine, SparkEntry}
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The benchmark's JVM. `perfbench/run.py` builds it, pins the inputs
  * and launches it; see perfbench/README.md.
  *
  * Modes:
  *  - `run`: one workload, warm-up then a timed window, result as JSON;
  *  - `expected`: the reference digests and row counts the output
  *    checks compare against, plus each batch result as parquet for the
  *    DuckDB cross-check in `oracle.py`. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a.getOrElse("mode", "run") match {
      case "run" => run(a)
      case "expected" => writeExpected(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def write(path: String, v: Any): Unit =
    json.writerWithDefaultPrettyPrinter().writeValue(new File(path), v)

  private def readExpected(path: String): Map[String, String] =
    if (!new File(path).exists()) Map.empty
    else json.readValue(new File(path), classOf[Map[String, String]])

  private def session(nproc: Int): SparkSession = Engine.session(s"local[$nproc]", nproc)

  private def run(a: Map[String, String]): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors
    val seconds = a("seconds").toDouble
    val spark = session(nproc)
    val traced = a("trace") == "1"
    if (traced) Trace.enable(spark.sparkContext)
    val ctx = Ctx(spark, nproc, a("seed").toLong, a("base"), a("work"),
      readExpected(a("expected")))
    val wl = Workload(a("workload"), ctx)
    try {
      wl.setup()
      val setupS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1000.0
      SparkInternals.drainListeners(spark.sparkContext)
      Trace.open = true
      HeapPeak.start()
      val cpu0 = HostCpu.read()
      val t0 = System.nanoTime()
      wl.window(t0 + (seconds * 1e9).toLong)
      val windowS = (System.nanoTime() - t0) / 1e9
      val windowSteal = HostCpu.stealShare(cpu0, HostCpu.read())
      HeapPeak.stop()
      SparkInternals.drainListeners(spark.sparkContext)
      Trace.open = false
      Trace.stop()
      wl.verify()

      val e2e = wl.endToEnd(windowS) + ("setup_s" -> setupS)
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val ops = Trace.spans.asScala.toSeq.filter(_.name == wl.opSpanName)
          Layers.compute(nproc, windowS, wl.opsPerUnit, wl.outRowsPerUnit, ops, wl.callSpans) +
            ("stages_resumed" -> wl.stagesResumed) + ("live_heap_peak_mb" -> HeapPeak.peakB / 1e6)
        }
      if (traced) {
        val spanFile = new java.io.PrintWriter(a("spans"))
        try {
          val jobSpans = Trace.jobs.asScala.map(j =>
            Map("kind" -> "job", "id" -> j.id, "start" -> j.start, "end" -> j.end,
              "description" -> j.desc, "group" -> j.group))
          val execSpans = Trace.execs.values.asScala.map(x =>
            Map("kind" -> "sql_execution", "id" -> x.id, "start" -> x.start, "end" -> x.end,
              "description" -> x.desc, "group" -> x.group))
          val stageSpans = Trace.stageSpans.asScala.map { case (id, s, e) =>
            Map("kind" -> "stage", "id" -> id, "start" -> s, "end" -> e) }
          Trace.spans.asScala.foreach(s => spanFile.println(json.writeValueAsString(Map(
            "kind" -> "span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
            "start" -> s.start, "end" -> s.end))))
          (jobSpans ++ execSpans ++ stageSpans).foreach(m => spanFile.println(json.writeValueAsString(m)))
        } finally spanFile.close()
      }
      val failures = wl.rec.checkFailures.asScala.toSeq
      write(a("out"), Map(
        "workload" -> a("workload"), "seed" -> ctx.seed, "seconds" -> seconds, "trace" -> traced,
        "nproc" -> nproc, "window_s" -> windowS,
        "attempted" -> wl.rec.attempted.get, "failed" -> wl.rec.failed.get,
        "checks_run" -> wl.rec.checksRun.get, "check_failures" -> failures,
        "errors" -> wl.rec.errors.asScala.toSeq,
        "gc_collections_in_window" -> HeapPeak.collections,
        "samples" -> wl.samples, "pass_times_s" -> wl.rec.passes.asScala.toSeq,
        "statements" -> wl.rec.stmts.asScala.toSeq.sortBy(_.endNs).map(st =>
          Seq(st.kind, (st.endNs - t0) / 1e9, st.latNs / 1e6)),
        "window_steal_share" -> windowSteal,
        "end_to_end" -> e2e, "per_layer" -> layers,
        "spark_conf" -> spark.sparkContext.getConf.getAll.toMap,
        "session_conf" -> spark.conf.getAll,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq))
    } finally {
      wl.close()
      spark.stop()
    }
  }

  private def writeExpected(a: Map[String, String]): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = session(nproc)
    try {
      val base = a("base")
      val dump = a("dump")
      val llm = LlmPipeline.rows.map { q =>
        SparkEntry.queries(q)(spark, base).write.mode("overwrite").parquet(s"$dump/$q")
        s"llm_pipeline/$q" -> Digest.of(SparkEntry.queries(q)(spark, base))
      }
      write(s"$dump/oracle_sql.json",
        LlmPipeline.rows.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
      // the pipeline op's counts come from an op of the workload itself
      val etl = new EtlOp(Ctx(spark, nproc, 1L, base, a("work"), Map.empty), new Recorder)
      etl.run(0L)
      val counts = Seq("enrich", "redact", "rollup").zipWithIndex.map { case (s, i) =>
        s"pipeline_op/$s" -> spark.read.parquet(f"${etl.lastDir}/$i%02d_$s").count().toString
      }
      etl.close()
      write(a("out"), (llm ++ counts).toMap)
    } finally spark.stop()
  }
}
