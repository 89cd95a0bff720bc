package graft

import org.apache.spark.sql.SparkSession

/** Spill-path evidence (SURVEY §4.4): the reference models per-operator
  * spill accounting in its stage metrics (ballista.proto:240-241); on
  * Spark the same surface is SQLMetrics `spillSize`. This suite drives a
  * real sort and a real hash aggregation through memory regimes that
  * FORCE external spilling and asserts (a) the executed plan's metrics
  * record a positive spill and (b) the results are still exactly
  * correct — i.e. the engine degrades to disk, not to wrong answers,
  * which is the property that matters at 100 TB where some stage always
  * exceeds executor memory.
  *
  * Mechanism: `spark.shuffle.spill.numElementsForceSpillThreshold` (the
  * sort) and `spark.sql.TungstenAggregate.testFallbackStartsAt` (the
  * agg) are the knobs Spark's own test suites use to make spills
  * deterministic — a tight memory fraction spills too, but whether it
  * trips depends on heap size and GC timing (flaky across machines).
  * Both are read at env/plan level, so each test builds its own context
  * (the SchedulerSpec convention) with small shuffle partitions and a
  * tight memory fraction per the round-10 verdict's framing. The
  * fallback cadence must stay COARSE: a per-handful-of-keys fallback
  * creates thousands of spill files whose merge-time read buffers OOM
  * the JVM — itself a useful lesson in spill hygiene. */
class SpillSpec extends GraftSuite {

  /** Fully dispose a private context: stop + clear the active/default
    * session slots, so a later suite's getOrCreate can never pick up a
    * half-stopped session (reset() alone only handles the shared one). */
  private def dispose(s2: SparkSession): Unit = {
    s2.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkTestBase.reset()
  }

  private def freshSession(app: String): SparkSession = {
    SparkTestBase.reset() // own context: the spill knobs are env-level
    // own builder, not Engine.session: it needs static memory + force-spill confs
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.memory.fraction", "0.2")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "1000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s2.sparkContext.setLogLevel("WARN")
    s2
  }

  test("sort past the memory threshold spills to disk and stays correct") {
    val s2 = freshSession("graft-spill-sort")
    try {
      val engine = new Engine(s2)
      val n = 50000L
      // scrambled keys so the ascending sort genuinely reorders; 1
      // shuffle partition concentrates all rows in one external sorter,
      // which force-spills every 1000 inserted rows (50 spill files)
      val df = s2.range(n)
        .selectExpr("(id * 1103515245 + 12345) % 100000 AS k", "id AS v")
        .orderBy("k", "v")
      val analyzed = engine.explainAnalyze(df)
      // (a) the executed Sort recorded a real spill
      val spilled = analyzed.linesIterator.exists(l =>
        l.trim.startsWith("Sort") && l.contains("spillSize=") &&
          "spillSize=(\\d+)".r.findFirstMatchIn(l).exists(_.group(1).toLong > 0))
      assert(spilled, s"no positive Sort spillSize in:\n$analyzed")
      // (b) spilling changed nothing: full result equals the driver-side
      // sort of the same keys
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = (0L until n).map(i => ((i * 1103515245L + 12345L) % 100000L, i))
        .sortBy(identity)
      assert(got.length == want.length)
      assert(got.toSeq == want, "spilled sort produced different rows/order")
    } finally dispose(s2)
  }

  test("sort-fallback aggregation spills and still aggregates exactly") {
    val s2 = freshSession("graft-spill-agg")
    try {
      val engine = new Engine(s2)
      // force the hash map into its sort-based fallback every 2000
      // entries — the path a real executor takes when the agg map can't
      // get memory. 5000 groups over 20k rows -> the map overflows ~10
      // times, each overflow spilling the sorted map to disk; the final
      // merge aggregates across spill files
      s2.conf.set("spark.sql.TungstenAggregate.testFallbackStartsAt", "1000, 2000")
      val df = s2.range(20000L)
        .selectExpr("id % 5000 AS g", "id AS v")
        .groupBy("g").sum("v")
        .orderBy("g")
      val analyzed = engine.explainAnalyze(df)
      val spilled = "spillSize=(\\d+)".r.findAllMatchIn(analyzed)
        .exists(_.group(1).toLong > 0)
      assert(spilled, s"no positive spillSize anywhere in:\n$analyzed")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = (0L until 20000L).groupBy(_ % 5000).toSeq
        .map { case (g, vs) => (g, vs.sum) }.sortBy(_._1)
      assert(got.toSeq == want, "spilled aggregation produced wrong sums")
    } finally dispose(s2)
  }

  test("unbounded-state object agg past the raised 2^17 threshold still falls back to sort") {
    // Round-15 ADVICE: every graft session raises
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold to 2^17
    // for the BOUNDED-state typed aggregates (bounded_min_*, sketches —
    // ~600 B/group by design, ≈75 MB worst per task). The threshold is
    // key-count-based, not memory-based, so the safety valve for
    // genuinely UNBOUNDED-state aggregates (collect_list-style postings)
    // is that they still trip the sort fallback once a task's partial
    // agg exceeds 2^17 groups. Regression-pin exactly that: a
    // collect_list over >2^17 per-task groups under the raised threshold
    // must (a) record numTasksFallBacked > 0 on an ObjectHashAggregate
    // node — i.e. the graceful-degradation path still engages — and
    // (b) aggregate exactly.
    SparkTestBase.reset()
    // the shipped session: the threshold under test is Engine.session's
    val s2 = Engine.session("local[2]", 2, "graft-objagg-fallback")
    try {
      val engine = new Engine(s2)
      // 2 input tasks x 300k distinct groups per task (id % 300000 hits
      // every group once per 300k-id half, so each task's partial map
      // alone crosses 131072), 2 rows/group, a 64-char payload per row —
      // the fat-state shape the threshold analysis does NOT cover.
      val df = s2.range(0L, 600000L, 1L, 2)
        .selectExpr("id % 300000 AS g", "repeat('x', 64) AS v")
        .groupBy("g").agg(org.apache.spark.sql.functions.collect_list("v").as("vs"))
        .selectExpr("g", "size(vs) AS n")
      val analyzed = engine.explainAnalyze(df)
      val fellBack = analyzed.linesIterator.exists(l =>
        l.contains("ObjectHashAggregate") &&
          "numTasksFallBacked=(\\d+)".r.findFirstMatchIn(l).exists(_.group(1).toLong > 0))
      assert(fellBack,
        s"no ObjectHashAggregate sort fallback under the raised threshold in:\n$analyzed")
      val counts = df.groupBy("n").count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(counts == Map(2 -> 300000L),
        s"fallback aggregation lost/duplicated rows: $counts")
    } finally dispose(s2)
  }
}
