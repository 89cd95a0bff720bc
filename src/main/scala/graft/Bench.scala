package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every catalog query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  *
  * Each query executes its REAL physical plan into the noop sink —
  * `count()` would let Catalyst prune projections and most of the query
  * body, benchmarking a row count instead of the query. A failed query
  * records `-1` rather than a bogus wall-time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Graft's TypedImperativeAggregates (bounded_min_pairs/set, the
      // sketches) all carry BOUNDED per-group state by design (the caps
      // convention) — with Spark's default 128-key limit their partial
      // aggregation falls back to SORT-based after the first 128 groups,
      // turning a map-side k-reduction into a sort of the whole input
      // stream (the mutual-NN sf10 candidate stream: ~1.4G rows, the
      // round-15 decade wall). 2^17 keys x the designed worst ~600 B
      // state is ~75 MB per task — inside the execution budget — while
      // genuinely unbounded-cardinality groupings (gram postings) still
      // fall back past the threshold as they should.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftMetrics.register(spark) // graft_* drop counters go to stderr, not the JSON line

    // Per-query progress to stderr (SPARK_GRAFT_BENCH_PROGRESS=1): decade
    // runs at 100× SF hang SILENTLY on a scale wall otherwise — the
    // warm-up pass prints nothing and the JSON line only exists at exit.
    val progress = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROGRESS", "0") == "1"
    def runOnce(name: String): Double = {
      if (progress) System.err.println(s"[bench] start $name")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        if (progress)
          System.err.println(String.format(java.util.Locale.ROOT, "[bench] done  %s %.2f s", name, Double.box(t)))
        t
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      } finally {
        // Checkpoint hygiene: materializedWith/localCheckpoint blocks are
        // otherwise freed only when the ContextCleaner GCs the dead RDD —
        // across a 180+-query run the dead blocks crowd storage memory
        // and force recomputes in exactly the checkpoint-heavy
        // dedup/graph family (round-8 verdict hypothesis). Every query's
        // result is fully in the noop sink by now, so nothing live
        // references these blocks; drop them deterministically.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }

    // Optional comma-separated subset (local iteration; the driver runs all).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.catalog.map(_.name)
      .filter(n => only.forall(_.contains(n)))
    require(names.nonEmpty,
      s"SPARK_GRAFT_BENCH_ONLY=${only.map(_.mkString(",")).getOrElse("")} matches no catalog query")
    // UNTIMED warm-up pass over the whole run set before any timing. This
    // serves two distinct purposes: (a) JVM/codegen JIT warm-up, and
    // (b) building every persisted one-time artifact (LSH index, day
    // sketches, IVF/PQ indexes, derived-source caches, bucketed tables)
    // OUTSIDE the timed loop — a fingerprint-format change or a wiped
    // /tmp/graft_src used to pay the rebuild inside a timed run and read
    // as a phantom >2× regression (round-12 verdict: the
    // q_events_active_incremental 3.25× flag was exactly this). Running
    // the queries themselves, rather than an enumerated artifact list,
    // keeps the warm-up complete by construction as new artifacts are
    // added. Disable with SPARK_GRAFT_BENCH_WARM=0 to measure cold-start.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") != "0") {
      val t0 = System.nanoTime()
      names.foreach(runOnce)
      System.err.println(
        f"[bench] warm-up pass: ${names.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
    } else runOnce(names.head) // minimal JIT warm-up on the flagship
    // Best-of-N (default 2) damps JIT/GC noise; a failure in any run
    // marks the query failed.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // LOAD SENTINEL (round-14 verdict #4): three rounds have burned
    // adjudication time on phantom >2× flags that were co-run box load,
    // not code (rounds 2, 8/9, 14 — all reproduced at ≤2× on a quiet
    // box). Re-time one fixed, cheap, plan-stable query every
    // `sentinelEvery` queries and once more at the end; the series goes
    // into the JSON line so tools/bench_flags.py can machine-attribute
    // a flag to load: a query flagged inside a window where the
    // SENTINEL itself read >2× its own series minimum was measured on a
    // loaded box, not by a plan regression.
    val sentinelName = "q1_pricing_summary"
    val sentinelEvery = 30
    if (!names.contains(sentinelName)) runOnce(sentinelName) // warm it under subsets too
    val sentinel = scala.collection.mutable.ArrayBuffer[Double]()
    // Each sentinel reading is best-of-2 like the queries it adjudicates
    // (round-15 ADVICE): a single GC/JIT blip in a lone reading would
    // inflate both adjacent windows past 2× and bench_flags would then
    // LOAD-attribute every flag in them — a genuine regression could ride
    // a noisy sentinel through the gate.
    def sentinelReading(): Double = {
      val a = runOnce(sentinelName); val b = runOnce(sentinelName)
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }
    val results0 = names.zipWithIndex.map { case (n, i) =>
      if (i % sentinelEvery == 0) sentinel += sentinelReading()
      val times = (1 to runs).map(_ => runOnce(n))
      n -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    sentinel += sentinelReading() // closing reading bounds the last window
    // Artifact-build visibility (round-17 verdict item #7): the LSH pair
    // artifact is built once per corpus fingerprint and served from disk
    // thereafter, so its build cost never appeared in any timed row. This
    // ADDED row (additions are allowed by the driver contract; existing
    // rows are untouched) wipes the artifact and times a full rebuild.
    // It runs LAST so the wipe/rebuild cannot perturb any timed consumer,
    // and the rebuild is fingerprint-identical, leaving the artifact
    // exactly as the warm-up pass left it. Subset runs skip it unless
    // asked for, like any other row.
    val buildRow = "q_dedup_minhash_build"
    val results =
      if (only.forall(_.contains(buildRow))) {
        def buildOnce(): Double = {
          if (progress) System.err.println(s"[bench] start $buildRow (cold rebuild)")
          val t0 = System.nanoTime()
          try {
            graft.queries.PipelineQueries.rebuildLshIndex(spark, sfDir)
            val t = (System.nanoTime() - t0) / 1e9
            if (progress) System.err.println(
              String.format(java.util.Locale.ROOT, "[bench] done  %s %.2f s", buildRow, Double.box(t)))
            t
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $buildRow FAILED: ${e.getMessage}")
              -1.0
          } finally {
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
          }
        }
        val times = (1 to runs).map(_ => buildOnce())
        results0 :+ (buildRow -> (if (times.exists(_ < 0)) -1.0 else times.min))
      } else results0
    // Locale.ROOT: the default-locale f-interpolator would print decimal
    // commas on e.g. a de_DE JVM and corrupt the JSON line.
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val total = ok.map(_._2).sum
    val sentJson = "{\"name\":\"" + sentinelName + "\",\"every\":" + sentinelEvery +
      ",\"times\":" + sentinel.map(num).mkString("[", ",", "]") + "}"
    // Explicit run order (round-15 ADVICE): bench_flags.py maps queries to
    // sentinel windows by run index — give it the order outright instead
    // of relying on JSON-object key order surviving every parser.
    val orderJson = (names ++ results.drop(names.size).map(_._1))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Only a ~2000-char stdout TAIL is kept by the harness that parses
    // this line, and even the per-query map alone is ~7 KB at 289 rows,
    // so the tail would start mid-JSON. The PRINTED line carries only the
    // contract scalars (metric/value/unit/sf/n_ok/n_fail, ~120 chars);
    // the per-query map, run order and sentinel go to the dump file
    // below, which is what tools/bench_flags.py and tools/adjudicate.py
    // read. The sentinel line prints BEFORE the contract line (stderr),
    // so the contract line stays the final stdout line.
    System.err.println(s"""[bench] sentinel $sentJson""")
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec","sf":"$sfDir","n_ok":${ok.size},"n_fail":${results.size - ok.size}}""")
    val fullLine =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"order":$orderJson,"sf":"$sfDir","n_ok":${ok.size},"n_fail":${results.size - ok.size},"sentinel":$sentJson}"""
    // Persist the full record (with order + sentinel) to a file so the
    // numbers always survive the driver's tail window. Subset runs (local
    // iteration) must not clobber the committed full-catalog record —
    // route them to a scratch file. A non-default core count (the
    // driver's scaling run) gets its own file too: in round 17 the 8-CPU
    // scaling run OVERWROTE the 32-core record and destroyed the round's
    // only per-query evidence (r17 verdict item #2).
    val outFile =
      if (only.isDefined) "bench_scratch.json"
      else if (cpus == "32") "bench_last.json"
      else s"bench_last_c$cpus.json"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] file dump failed: $e") }
    spark.stop()
  }
}
