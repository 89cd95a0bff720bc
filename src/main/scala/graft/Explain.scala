package graft

import org.apache.spark.sql.SparkSession
import graft.queries.Qh

/** Plan-audit utility: prints the formatted physical plan of catalog
  * queries. Usage: Explain <sfDir> [queryName ...] (default: a headline
  * subset). */
object Explain {
  def main(args: Array[String]): Unit = {
    // --exec: run the query first, then print the FINAL adaptive plan —
    // AQE stamps [codegen id :] only on the executed plan, so this is
    // the only way to audit WholeStageCodegen coverage from the CLI
    val exec = args.contains("--exec")
    val rest = args.filterNot(_ == "--exec")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else Seq("q1_pricing_summary", "q_join_inner_agg", "q_dedup_minhash",
        "q_ann_bruteforce", "q_topk")
    val spark = Engine.session("local[4]", 4, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    // Inner-plan probes (the *PlanProbe convention): several catalog
    // queries eagerly checkpoint, so their PUBLIC plan is a checkpoint
    // scan — `probe_<name>` prints the pre-checkpoint pipeline plan the
    // plan-shape pins (and the r17 plan files) actually audit.
    val probes: Map[String, (SparkSession, String) => String] = Map(
      "probe_pagerank" -> graft.queries.PipelineQueries.pageRankPlanProbe,
      "probe_minhash" -> graft.queries.PipelineQueries.minhashPlanProbe,
      "probe_ngram" -> graft.queries.PipelineQueries.ngramPlanProbe,
      "probe_sweep" -> graft.queries.PipelineQueries.sweepPlanProbe,
      "probe_containment" -> graft.queries.PipelineQueries.containmentPlanProbe,
      "probe_editdist" -> graft.queries.PipelineQueries.editDistPlanProbe,
      "probe_boilerplate" -> graft.queries.PipelineQueries.boilerplatePlanProbe,
      "probe_weighted_median" -> graft.queries.AggregateQueries.weightedMedianPlanProbe,
      "probe_mad_outliers" -> graft.queries.CurationQueries.madOutliersPlanProbe,
      "probe_bloom_decontam" -> ((s: SparkSession, d: String) =>
        Qh.formattedPlan(graft.queries.CurationQueries.bloomDecontam(s, d, materialize = false))),
      "probe_mutual_nn" -> graft.queries.PipelineQueries.mutualNnPlanProbe)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      probes.get(n) match {
        case Some(p) => println(p(spark, sfDir))
        case None =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          // Execute the SAME QueryExecution that gets explained (round-16
          // ADVICE): a noop write wraps the logical plan in a NEW
          // QueryExecution, so the explain below would print the
          // never-executed adaptive plan (isFinalPlan=false, no codegen-id
          // stamps) — defeating --exec's purpose. toRdd.foreach finalizes
          // THIS plan without materializing the frame on the driver
          // (OOM-safe, the Engine.explainAnalyze discipline).
          if (exec) df.queryExecution.toRdd.foreach(_ => ())
          println(Qh.formattedPlan(df))
      }
    }
    spark.stop()
  }
}
