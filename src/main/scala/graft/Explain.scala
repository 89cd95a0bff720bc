package graft

/** Plan-audit utility: prints the formatted physical plan of catalog
  * queries. Usage: Explain [--exec] <sfDir> [queryName ...] (default: a
  * headline subset). */
object Explain {
  def main(args: Array[String]): Unit = {
    // --exec: run the query into the noop sink and print the final plan
    // of EVERY SQL execution it ran, the eager localCheckpoints that a
    // checkpointed query's public plan hides included. AQE stamps
    // [codegen id :] only on executed plans, so this is also how to
    // audit WholeStageCodegen coverage from the CLI.
    val exec = args.contains("--exec")
    val rest = args.filterNot(_ == "--exec")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else Seq("q1_pricing_summary", "q_join_inner_agg", "q_dedup_minhash",
        "q_ann_bruteforce", "q_topk")
    val spark = SparkEntry.mainSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      if (exec)
        QueryTrace.of(spark)(SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save())
          ._2.plans.zipWithIndex.foreach { case ((f, p), i) => println(s"---- execution $i: $f\n$p") }
      else SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
