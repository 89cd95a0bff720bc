package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.CoreShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** [[Tables.parquet]], the engine's parquet read path: the schema it
  * reads from one footer on the driver equals the one Spark's inference
  * job produces, opening tables and resuming pipelines launch no Spark
  * job, and the paths it does not serve fail the documented way. */
class ParquetReadSpec extends GraftSuite {

  /** The three fixture scale factors, siblings of the suite default. */
  private val sfs: Seq[String] = {
    val root = new java.io.File(sf).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(n => s"$root/$n")
  }

  private def assertSameSchema(p: String): Unit = {
    val ours = Tables.parquet(spark, p).schema
    val spark0 = spark.read.parquet(p).schema
    assert(ours == spark0, s"$p:\n  footer   $ours\n  inferred $spark0")
    assert(ours.json == spark0.json, p)
  }

  /** `f`'s result and the Spark jobs it launched on this thread (tagged
    * by a job group, so jobs other threads run meanwhile are not counted). */
  private def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-read-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    CoreShims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ParquetReadSpec job count")
    val out =
      try f
      finally {
        sc.clearJobGroup()
        CoreShims.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.get())
  }

  test("footer schema equals spark.read.parquet's for every table at three scale factors") {
    // events.ts is TIMESTAMP(NANOS) in some fixtures: inference can only
    // read it with nanosAsLong, which Tables.df sets for the session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (d <- sfs; t <- Tables.all) assertSameSchema(s"$d/$t.parquet")
  }

  test("footer schema equals spark.read.parquet's on a Spark-written directory") {
    val dir = Files.createTempDirectory("graft_parquet_schema").resolve("t").toString
    spark.range(0, 40, 1, 4).select(
      col("id"),
      struct(col("id").as("a"), struct((col("id") * 2).as("c")).as("b")).as("nested"),
      array(col("id"), col("id") + 1).as("arr"),
      map(col("id").cast("string"), col("id").cast("double")).as("m"),
      (col("id") / 7).cast("decimal(18,4)").as("dec"),
      timestamp_seconds(col("id")).as("ts"),
      timestamp_seconds(col("id")).cast("timestamp_ntz").as("ts_ntz"),
      lit(null).cast("string").as("null_str"),
      lit(null).cast("decimal(10,2)").as("null_dec"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("string")).as("sparse")
    ).write.parquet(dir)
    assertSameSchema(dir)
    assert(Tables.parquet(spark, dir).count() == 40)
  }

  test("Tables.df and a fully resumed 3-stage PipelineRunner.run launch no Spark job") {
    val table = s"$sf/lineitem.parquet"
    // the control: Spark's own inference does launch a job for the footer
    assert(withJobCount(spark.read.parquet(table))._2 >= 1)
    assert(withJobCount(Tables.all.map(Tables.df(spark, sf, _)))._2 == 0)

    val root = Files.createTempDirectory("graft_pipe_jobless").toString
    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ship" -> (_.select("l_orderkey", "l_shipdate", "l_quantity")),
      "big" -> (_.filter(col("l_quantity") > 10)),
      "daily" -> (_.groupBy("l_shipdate").agg(count(lit(1)).as("n"))))
    val (first, computed) = PipelineRunner.run(spark, root, Tables.df(spark, sf, "lineitem"), stages)
    assert(computed.computed.size == 3)
    val ((resumed, report), jobs) =
      withJobCount(PipelineRunner.run(spark, root, Tables.df(spark, sf, "lineitem"), stages))
    assert(jobs == 0)
    assert(report.loaded == stages.map(_._1) && report.computed.isEmpty)
    assert(resumed.schema == first.schema)
    assert(resumed.count() == first.count())
  }

  test("missing, empty and partitioned paths fail the documented way") {
    def sparkError(p: String) = intercept[AnalysisException](spark.read.parquet(p))
    def ourError(p: String) = intercept[AnalysisException](Tables.parquet(spark, p))

    val base = Files.createTempDirectory("graft_parquet_errors")
    val missing = base.resolve("missing").toString
    val empty = Files.createDirectory(base.resolve("empty")).toString
    val onlyMarker = Files.createDirectory(base.resolve("marker_only"))
    Files.createFile(onlyMarker.resolve("_SUCCESS"))
    for (p <- Seq(missing, empty, onlyMarker.toString)) {
      val (ours, theirs) = (ourError(p), sparkError(p))
      assert(ours.getClass == theirs.getClass, p)
      assert(ours.getCondition == theirs.getCondition, s"$p: ${ours.getMessage}")
      assert(ours.getMessage == theirs.getMessage, p)
    }
    assert(ourError(missing).getCondition == "PATH_NOT_FOUND")
    assert(ourError(empty).getCondition == "UNABLE_TO_INFER_SCHEMA")

    val parts = base.resolve("parts").toString
    spark.range(10).withColumn("p", col("id") % 2).write.partitionBy("p").parquet(parts)
    val e = intercept[IllegalArgumentException](Tables.parquet(spark, parts))
    assert(e.getMessage.contains("partitioned layout"))
    assert(spark.read.parquet(parts).count() == 10) // Spark's discovery still serves it
  }
}
