package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetShims

/** Access to the driver-provided parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's external-table catalog surface
  * (`CREATE EXTERNAL TABLE ... STORED AS PARQUET LOCATION ...`,
  * reference README.md:34, datafusion.proto:99-115): a table is a
  * file-backed parquet relation registered under a bare name. Schemas are
  * self-described by parquet footers, read once on the driver by
  * [[parquet]] and pinned into the read, so opening a table launches no
  * Spark job; Catalyst gets filter/column pushdown and partition pruning
  * for free on these scans.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  /** Non-TPC-H driver tables: `events` (streaming-ish), `documents` +
    * `embeddings` (training-data pipeline ops). */
  val extra: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extra

  /** The engine's parquet read path for a file or a flat directory.
    *
    * The schema comes from one footer read on the driver
    * ([[org.apache.spark.sql.execution.datasources.parquet.ParquetShims.schemaOf]]),
    * not from the Spark job `spark.read.parquet` launches to infer it —
    * like the reference, which pins each table's schema in the plan
    * instead of running distributed work to learn it
    * (datafusion.proto:104). No cache: every call re-reads the footer,
    * so a rewritten directory is seen as it is. Hive-partitioned layouts
    * (subdirectories) are rejected; they keep `spark.read.parquet` for
    * its partition discovery. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ParquetShims.schemaOf(spark, path)).parquet(path)

  /** Read one table. Single parquet file today; at 100 TB this would be a
    * directory of many files — [[parquet]] handles both, splitting by
    * `spark.sql.files.maxPartitionBytes`, so no code change at scale.
    *
    * `events.ts` has shipped as both parquet TIMESTAMP(NANOS) — which
    * Spark's vectorized reader rejects, so we read it as raw nanos via
    * `nanosAsLong` and truncate to micros ourselves — and as plain
    * TIMESTAMP(MICROS), which reads natively. Branch on the footer schema
    * so either fixture vintage lands on the same TIMESTAMP_NTZ column
    * (naive micros — exactly what DuckDB's oracle sees). */
  def df(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquet(spark, s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw
        case org.apache.spark.sql.types.TimestampType =>
          // Instant -> naive is only value-preserving when the session
          // renders instants in UTC; every entry point pins it, but the
          // cast must not silently depend on that.
          require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
            "events.ts is TIMESTAMP(isAdjustedToUTC): reading it as naive " +
              "micros requires spark.sql.session.timeZone=UTC, found " +
              spark.conf.get("spark.sql.session.timeZone"))
          raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
        case other =>
          throw new IllegalStateException(
            s"events.ts: expected INT64 nanos or a parquet timestamp, got $other")
      }
    } else parquet(spark, s"$dir/$name.parquet")

  /** Register every table as a temp view (idempotent), so both the
    * DataFrame API and `spark.sql` can address them by bare name. */
  def register(spark: SparkSession, dir: String): Unit =
    all.foreach(n => df(spark, dir, n).createOrReplaceTempView(n))
}
