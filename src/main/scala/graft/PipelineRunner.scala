package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Checkpointed multi-stage pipeline execution with resume.
  *
  * A corpus-prep job at 100 TB is hours of chained stages; a failure in
  * stage k must not recompute stages 1..k-1 on retry. Each stage's
  * output is committed once to `<root>/NN_<name>/` through Spark's
  * atomic `_SUCCESS` job-commit protocol; on (re)run, any stage whose
  * marker exists is LOADED instead of recomputed, so execution resumes
  * at the first missing stage. This lifts the reference's stage-
  * materialization model — Ballista's shuffle files ARE the restart
  * point between stages (reference execution_graph.rs:254-456 feeds
  * completed stage outputs to dependents; a resubmitted job reuses
  * nothing above the failed stage) — from shuffle granularity to
  * pipeline granularity, which is the right unit when stages are whole
  * queries.
  *
  * Checkpointing also BOUNDS LINEAGE: each stage reads the previous
  * stage's parquet, not a 40-stage logical plan, so Catalyst planning
  * cost and recovery cost stay constant as pipelines grow.
  *
  * Read contract: a resumed stage and every stage's read-back go through
  * [[Tables.parquet]] — one footer read on the driver and no Spark job,
  * so a fully resumed run launches no job at all. Stage outputs are flat
  * directories; a partitioned layout would keep Spark's partition
  * discovery (`spark.read.parquet`).
  *
  * A half-written stage directory (failure before commit) has no
  * `_SUCCESS`; the next run's `SaveMode.Overwrite` clears the partial
  * files before rewriting — the same convention the derived-source
  * caches use (SourceQueries.materialize).
  */
object PipelineRunner {

  /** One run's audit: which stages were computed vs resumed-from-disk. */
  final case class Report(computed: Seq[String], loaded: Seq[String])

  /** Per-root run serialization: two concurrent runs sharing a root
    * would otherwise both see a stage's marker missing and race the
    * same output directory (same hazard SourceQueries.materialize
    * guards with cacheLock). JVM-local striped locks — cross-JVM
    * coordination is the deployment's scheduler's job, as it is for
    * the reference's scheduler-owned job state. */
  private val rootLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `stages` over `source`, checkpointing each under `root`.
    * Returns the final stage's frame (read back from its checkpoint —
    * downstream consumers see the committed data, never a live plan)
    * plus the compute/load audit. */
  def run(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      stages: Seq[(String, DataFrame => DataFrame)]): (DataFrame, Report) = {
    require(stages.nonEmpty, "empty pipeline")
    require(stages.map(_._1).distinct.size == stages.size, "duplicate stage names")
    // Resolve _SUCCESS through Hadoop's FileSystem, not java.io.File:
    // a java.io probe silently never matches on HDFS/S3 roots (the
    // 100 TB deployment), so resume would quietly recompute every
    // stage there (round-7 ADVICE).
    val hadoopConf = spark.sessionState.newHadoopConf()
    rootLocks.computeIfAbsent(root, _ => new Object).synchronized {
      var cur = source
      val computed = Seq.newBuilder[String]
      val loaded = Seq.newBuilder[String]
      stages.zipWithIndex.foreach { case ((name, f), i) =>
        val dir = f"$root/$i%02d_$name"
        val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
        val fs = marker.getFileSystem(hadoopConf)
        if (fs.exists(marker)) {
          loaded += name
          cur = Tables.parquet(spark, dir)
        } else {
          f(cur).write.mode(SaveMode.Overwrite).parquet(dir)
          computed += name
          cur = Tables.parquet(spark, dir)
        }
      }
      (cur, Report(computed.result(), loaded.result()))
    }
  }
}
