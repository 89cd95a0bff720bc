package graft

/** Per-round benchmark: runs every catalog query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  *
  * Each query executes its REAL physical plan into the noop sink —
  * `count()` would let Catalyst prune projections and most of the query
  * body, benchmarking a row count instead of the query. A failed query
  * records `-1` rather than a bogus wall-time. Every run is a
  * [[QueryTrace]]: stderr gets its job/stage/task split, and the dump
  * file keeps each row's record from the run whose time is reported.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = SparkEntry.sfDir
    val spark = SparkEntry.mainSession("graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    val cpus = spark.sparkContext.defaultParallelism // local[N]: N

    // One run: its wall time (-1 on failure) and its trace record. The
    // stderr line per run also shows the last row a hung run finished.
    def traced(name: String)(body: => Unit): (Double, String) =
      try {
        val (_, tr) = QueryTrace.of(spark)(body)
        System.err.println(String.format(java.util.Locale.ROOT, "[bench] done  %s %.2f s ",
          name, Double.box(tr("wall_s"))) + tr.summary)
        (tr("wall_s"), tr.json)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          (-1.0, "")
      } finally {
        // localCheckpoint blocks are otherwise freed only when the
        // ContextCleaner GCs the dead RDD; across a full run they crowd
        // storage memory and force recomputes in the checkpoint-heavy
        // dedup/graph family (round 8). The result is in the noop sink,
        // so nothing live references them.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    def runOnce(name: String): (Double, String) = traced(name) {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    // Best-of-N (default 2) damps JIT/GC noise; a failure in any run
    // marks the row failed.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    def best(run: => (Double, String)): (Double, String) = {
      val rs = (1 to runs).map(_ => run)
      if (rs.exists(_._1 < 0)) (-1.0, "") else rs.minBy(_._1)
    }

    // Optional subset, SPARK_GRAFT_ONLY (local iteration; a full run
    // times all). It may name only the artifact-build row `buildRow`:
    // then the run is just its timed rebuild, with no warm-up or sentinel.
    val buildRow = "q_dedup_minhash_build"
    val only = SparkEntry.only(extra = Set(buildRow))
    val names = SparkEntry.catalog.map(_.name).filter(n => only.forall(_.contains(n)))
    val withBuild = only.forall(_.contains(buildRow))
    // UNTIMED warm-up pass over the whole run set: JIT/codegen warm-up,
    // and every persisted one-time artifact (LSH, IVF/PQ indexes, day
    // sketches, source copies) built OUTSIDE the timed loop — a rebuild
    // inside a timed run reads as a phantom >2× regression (round 12).
    // Running the queries themselves keeps it complete as artifacts are
    // added.
    val t0 = System.nanoTime()
    names.foreach(runOnce)
    System.err.println(
      f"[bench] warm-up pass: ${names.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
    // LOAD SENTINEL (round 14): one fixed, cheap, plan-stable query is
    // re-timed every `sentinelEvery` rows and once at the end, so
    // tools/bench_flags.py can attribute a flag in a window where the
    // sentinel itself read >2× its minimum to box load, not to the plan.
    // Each reading is best-of-2 like the rows it adjudicates (round 15):
    // a lone GC/JIT blip would load-attribute two whole windows.
    val sentinelName = "q1_pricing_summary"
    val sentinelEvery = 30
    if (names.nonEmpty && !names.contains(sentinelName)) runOnce(sentinelName) // warm it under subsets too
    val sentinel = scala.collection.mutable.ArrayBuffer[Double]()
    def sentinelReading(): Double = {
      val a = runOnce(sentinelName)._1; val b = runOnce(sentinelName)._1
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }
    val timed = names.zipWithIndex.map { case (n, i) =>
      if (i % sentinelEvery == 0) sentinel += sentinelReading()
      n -> best(runOnce(n))
    }
    if (names.nonEmpty) sentinel += sentinelReading() // closing reading bounds the last window
    // Artifact-build visibility (round 17): the LSH pair artifact is
    // built once per corpus fingerprint, so its cost appears in no timed
    // row. This added row wipes and times a full rebuild, LAST so it
    // cannot perturb a timed consumer; the rebuild is
    // fingerprint-identical, leaving the artifact as the warm-up left it.
    val rows =
      if (!withBuild) timed
      else timed :+ (buildRow -> best(traced(buildRow) {
        graft.queries.PipelineQueries.rebuildLshIndex(spark, sfDir)
      }))
    val results = rows.map { case (n, (t, _)) => n -> t }
    // Locale.ROOT: the default-locale f-interpolator would print decimal
    // commas on e.g. a de_DE JVM and corrupt the JSON line.
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val total = ok.map(_._2).sum
    val sentJson = "{\"name\":\"" + sentinelName + "\",\"every\":" + sentinelEvery +
      ",\"times\":" + sentinel.map(num).mkString("[", ",", "]") + "}"
    // Explicit run order (round 15): bench_flags.py maps rows to
    // sentinel windows by run index, not by JSON key order.
    val orderJson = results.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    // Each row's trace record; a failed row has none.
    val traceJson = rows.collect { case (n, (t, rec)) if t >= 0 => "\"" + n + "\":" + rec }
      .mkString("{", ",", "}")
    // The harness that parses stdout keeps only a ~2000-char tail, and
    // the per-query map alone is ~7 KB: the PRINTED line carries only the
    // contract scalars (~120 chars). The full record goes to the dump
    // file below, which tools/bench_flags.py and tools/adjudicate.py
    // read. The sentinel line goes to stderr first, so the contract line
    // stays the final stdout line.
    System.err.println(s"""[bench] sentinel $sentJson""")
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec","sf":"$sfDir","n_ok":${ok.size},"n_fail":${results.size - ok.size}}""")
    val fullLine =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"order":$orderJson,"sf":"$sfDir","n_ok":${ok.size},"n_fail":${results.size - ok.size},"sentinel":$sentJson,"trace":$traceJson}"""
    // Subset runs must not clobber the committed full-catalog record, and
    // a non-default core count (the driver's scaling run) gets its own
    // file: in round 17 the 8-CPU run overwrote the 32-core record.
    val outFile =
      if (only.isDefined) "bench_scratch.json"
      else if (cpus == 32) "bench_last.json"
      else s"bench_last_c$cpus.json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullLine + "\n") // UTF-8
    catch { case e: Throwable => System.err.println(s"[bench] file dump failed: $e") }
    spark.stop()
  }
}
