package graft

import org.apache.spark.{SparkContext, TaskContext}

/** Scheduler-behavior parity (SURVEY.md §5 item d): the reference fails
  * the WHOLE job on any task failure (execution_graph.rs:292-293); Spark
  * retries tasks up to spark.task.maxFailures — strictly better, and
  * this suite pins that the engine actually inherits it. Uses the
  * `local[N, maxFailures]` master which enables task retries locally. */
class SchedulerSpec extends GraftSuite {

  test("a task that fails once is retried and the job succeeds") {
    // needs its own SparkContext (special master) — one context per JVM,
    // so park the shared one; it rebuilds lazily for later suites
    SparkTestBase.reset()
    // 2 threads, maxFailures=2 → one retry
    val s2 = Engine.session("local[2, 2]", 2, "graft-retry")
    assert(s2.sparkContext.master == "local[2, 2]",
      s"expected a fresh local[2,2] context, got ${s2.sparkContext.master}")
    try {
      SchedulerSpec.firstAttemptFailed.set(false)
      import s2.implicits._
      val out = s2.range(0, 100, 1, 4).as[Long]
        .mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
            !SchedulerSpec.firstAttemptFailed.getAndSet(true)) {
            throw new RuntimeException("injected task failure (attempt 0)")
          }
          it
        }
        .count()
      assert(out == 100)
      assert(SchedulerSpec.firstAttemptFailed.get(), "failure was never injected")
    } finally {
      s2.stop()
      SparkTestBase.reset() // next suite rebuilds the shared session
    }
  }

  test("job-level failure surfaces the task error (no silent data loss)") {
    val e = intercept[Exception] {
      spark.range(10).selectExpr("raise_error('boom') AS x").collect()
    }
    assert(String.valueOf(e.getMessage).contains("boom"))
  }
}

object SchedulerSpec {
  // static so the injected failure happens exactly once per suite run,
  // across task retries (same JVM in local mode)
  val firstAttemptFailed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
