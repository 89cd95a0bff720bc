package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftshim.CoreShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** [[QueryTrace]]: one listener scoped to one call, counting exactly the
  * jobs, stages and tasks that call ran — its own threads' included,
  * other threads' not — and leaving nothing registered behind. */
class QueryTraceSpec extends GraftSuite {

  /** The trace `traced` returns, and the (jobs, stages, tasks) an
    * untagged listener saw meanwhile: every job, whoever started it. */
  private def untagged(traced: => QueryTrace.Trace): (QueryTrace.Trace, (Int, Int, Int)) = {
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet(): Unit
    }
    CoreShims.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try (traced, (jobs.get, stages.get, tasks.get)) // `traced` drains the bus before it returns
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def counts(tr: QueryTrace.Trace) = (tr("jobs").toInt, tr("stages").toInt, tr("tasks").toInt)

  private def row(name: String): QueryTrace.Trace = QueryTrace.of(spark)(
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save())._2

  test("q_agg_weighted_percentile: the sketch job run from its own thread is counted") {
    val (tr, seen) = untagged(row("q_agg_weighted_percentile"))
    // the sketch's localCheckpoint runs on the query's single-use thread
    assert(tr.executions.exists(e => e.name == "localCheckpoint" &&
      e.qe.analyzed.toString.contains("WeightedPercentile")), tr.executions.map(_.name))
    assert(counts(tr) == seen)
    assert(tr("jobs") >= 3 && tr("task_cpu_s") > 0, tr.summary)
  }

  test("a job another thread starts during the body is not counted") {
    val other = Executors.newSingleThreadExecutor()
    try {
      other.submit((() => ()): Runnable).get() // its thread exists before the tag does
      val alone = QueryTrace.of(spark)(spark.range(10).collect())._2
      val (tr, seen) = untagged(QueryTrace.of(spark) {
        other.submit((() => spark.range(1000).repartition(3).count(): Unit): Runnable).get()
        spark.range(10).collect()
      }._2)
      assert(counts(tr) == counts(alone))
      assert(seen._1 > tr("jobs"), s"the other thread's job did not run: $seen")
      assert(tr.executions.map(_.name) == Seq("collect"))
    } finally other.shutdown()
  }

  test("a body run alone: the tagged counts equal what an untagged listener sees") {
    // broadcast joins, AQE shuffle stages, eager localCheckpoints
    for (q <- Seq("q_join_inner_agg", "q1_pricing_summary", "q_dedup_ngram_jaccard", "q_cur_pack_sequences")) {
      val (tr, seen) = untagged(row(q))
      assert(counts(tr) == seen, s"$q: ${tr.summary}")
      assert(tr("jobs") >= 1 && tr("tasks") >= 1, s"$q: ${tr.summary}")
    }
  }

  test("the listener and the tag are gone after a body that throws") {
    val sc = spark.sparkContext
    // LiveListenerBus.listeners is private[spark] to Scala, public in bytecode
    def listeners: Int = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
    }
    val n = listeners
    intercept[IllegalStateException](QueryTrace.of(spark) {
      assert(listeners == n + 1 && sc.getJobTags().size == 1)
      spark.range(3).collect()
      throw new IllegalStateException("body failed")
    })
    assert(listeners == n && sc.getJobTags().isEmpty)
  }

  test("only QueryTrace and GraftMetrics implement a Spark listener in src/main") {
    // Engine.session keeps the one listener it registers (GraftMetrics'
    // stderr counters); every other view of what ran is a QueryTrace
    val impl = """\b(extends|new|with)\s+(SparkListener|SparkListenerInterface|QueryExecutionListener|StreamingQueryListener)\b|addSparkListener\(|listenerManager\.register\(""".r
    val files = SparkTestBase.mainSources.collect { case (f, src) if impl.findFirstIn(src).nonEmpty => f }
    assert(files == Seq("graft/GraftMetrics.scala", "graft/QueryTrace.scala"), files)
  }
}
