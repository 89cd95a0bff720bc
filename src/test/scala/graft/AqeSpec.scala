package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** AQE runtime re-optimization (SURVEY §4.3: the reference re-runs
  * JoinSelection + AggregateStatistics at stage boundaries; Spark's AQE
  * is the same mechanism). These tests pin that the behaviors actually
  * ENGAGE under the engine's session config — not just that the flag is
  * set. */
class AqeSpec extends GraftSuite {

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p                        => p.toString
    }
  }

  test("AQE splits a skewed partition in a sort-merge join (skew=true)") {
    val s = spark
    import s.implicits._
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 95% of the fact rows share key 0 → one reducer partition dwarfs
      // the median; AQE must split it instead of letting one task carry
      // the join.
      val fact = spark.range(0, 200000).map { i =>
        (if (i % 20 != 0) 0L else i.toLong, s"payload_$i")
      }.toDF("k", "pay")
      val dim = spark.range(0, 5000).map(i => (i, s"dim_$i")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      val plan = executedPlan(joined)
      assert(plan.contains("skew=true"), s"skew split did not engage:\n$plan")
    }
  }

  test("AQE skew split fires on real derived skew; result equals the manual salted join") {
    import org.apache.spark.sql.functions._
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // Adversarial skew derived from the driver corpus (not spark.range):
      // ~30% of lineitem rows remapped onto ONE hot order key — the
      // boilerplate-document / default-value key every 100 TB corpus has.
      // Thresholds above are scaled to sf0.001 the same way the 256MB
      // defaults are scaled to production partitions.
      val hot = Tables.df(spark, sf, "orders").agg(min("o_orderkey")).head.getLong(0)
      // repartition(8) first: AQE splits a skewed reduce partition along
      // its MAP-task boundaries, and sf0.001's lineitem is one tiny file
      // = one map task = nothing to split. Production scans have
      // thousands of map tasks; this recreates that precondition.
      val fact = Tables.df(spark, sf, "lineitem").repartition(8)
        .withColumn("k",
          when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(10)) < 3, lit(hot))
            .otherwise(col("l_orderkey")))
      val dim = Tables.df(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))

      val joined = fact.join(dim, col("k") === col("o_orderkey"))
      val plan = executedPlan(joined)
      assert(plan.contains("skew=true"), s"skew split did not engage on derived skew:\n$plan")

      // Metrics-level evidence (round-13 verdict item #3), beyond the
      // plan marker: the finalized AQE shuffle readers must carry
      // PartialReducerPartitionSpec entries — the hot reduce partition
      // actually split into multiple map-range sub-reads, so no single
      // task carried the hot key's whole probe side.
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }
      // SparkPlan.collect stops at QueryStageExec boundaries (the wrapped
      // plan is a field, not a child), so walk through them explicitly.
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect { case n => n }.flatMap {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            q +: allNodes(q.plan)
          case n => Seq(n)
        }
      val partialSpecs = allNodes(finalPlan).collect {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
          r.partitionSpecs.count(
            _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])
      }.sum
      assert(partialSpecs >= 2,
        s"expected the hot partition split into >=2 partial reducer reads, got $partialSpecs:\n$finalPlan")

      // The same derived-skew join answered two ways — AQE's automatic
      // partition split vs q_join_salted's manual (key, salt) spread —
      // must agree exactly.
      def summarize(j: org.apache.spark.sql.DataFrame) =
        j.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).as("total"))
          .orderBy("l_returnflag").collect().toSeq
      val salts = 8
      val sFact = fact.withColumn("salt",
        pmod(xxhash64(col("l_linenumber")), lit(salts)).cast("int"))
      val sDim = dim.withColumn("salt", explode(array((0 until salts).map(lit): _*)))
      val salted = sFact.join(sDim,
        col("k") === col("o_orderkey") && sFact("salt") === sDim("salt"))
      assert(summarize(joined) == summarize(salted))
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      import org.apache.spark.sql.functions._
      val orders = Tables.df(spark, sf, "orders").filter(col("o_totalprice") > 400000)
      val lineitem = Tables.df(spark, sf, "lineitem")
      val j = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"bloom filter not injected:\n$opt")
    }
  }

  test("dynamic partition pruning injects a runtime filter on the partitioned scan") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // partitioned layout (shared with q_partitioned_scan's cache)
    val path = graft.queries.SourceQueries.ordersPart(spark, sf)
    withConf(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100") {
      val fact = spark.read.parquet(path)
      // dim must be file-backed: a filtered LocalRelation collapses into
      // LocalTableScan before the pruning rule can see the selective
      // predicate it requires
      val dim = Tables.df(spark, sf, "orders")
        .filter(col("o_totalprice") > 400000) // selective → DPP subquery
        .select(col("o_orderpriority").as("prio"), col("o_orderkey"))
      val j = fact.join(dim, col("o_orderpriority") === col("prio"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"), s"DPP not injected:\n$p")
    }
  }

  test("AQE coalesces small shuffle partitions (fewer than configured)") {
    withConf("spark.sql.shuffle.partitions" -> "64") {
      val df = Tables.df(spark, sf, "nation").groupBy("n_regionkey").count()
      df.collect()
      val n = df.rdd.getNumPartitions
      assert(n < 64, s"expected AQE to coalesce 64 shuffle partitions, got $n")
    }
  }
}
