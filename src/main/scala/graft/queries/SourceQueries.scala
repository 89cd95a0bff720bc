package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Source-format parity (SURVEY.md §2.2): CSV with delimiter+header,
  * JSON, listing/multi-file scans, repartition as a user-visible op.
  *
  * The reference's TPC-H path is `|`-delimited CSV (reference
  * datafusion.proto:1163-1167, scheduler/src/test_utils.rs:134-140). The
  * driver ships only parquet, so each format query materializes a small
  * derived copy of `nation`/`region` in that format under /tmp once, then
  * queries it — proving the scan path (schema, delimiter, header,
  * pushdown) end-to-end. The oracle reads the original parquet: results
  * must agree exactly, which is the point.
  */
object SourceQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.df(s, d, n)

  /** Bump when any derived-source layout below changes (columns,
    * format, partitioning): stale /tmp caches from an earlier code
    * version would otherwise be read with the new schema. */
  private val CacheVersion = "v2"

  /** Collision-free cache dir per source sfDir: the readable sanitized
    * name alone is lossy ('sf0.1' and 'sf0_1' collide), so the exact
    * path's hash is appended, plus the layout version. */
  def cacheDir(d: String): String =
    s"/tmp/graft_src/${CacheVersion}_${d.replaceAll("[^a-zA-Z0-9]", "_")}_${Integer.toHexString(d.hashCode)}"

  /** One-time cache materialization, safe under concurrent first use
    * from multiple sessions/threads in this JVM: the check-then-write is
    * serialized behind a single lock (cheap — it only ever guards the
    * one-time write), and SaveMode.Overwrite clears any partial files a
    * previously-failed write left behind before _SUCCESS existed. */
  /** Create-once catalog table: table/bucket/stats metadata lives in the
    * (in-memory) session catalog, so a fresh session must recreate the
    * table — and first drop any stale warehouse directory a previous JVM
    * left, which CTAS refuses to overwrite for a table the catalog
    * doesn't know. Call under [[cacheLock]]. */
  private[graft] def freshCatalogTable(s: SparkSession, name: String)(build: => Unit): Unit =
    if (!s.catalog.tableExists(name)) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      rm(new java.io.File(wh, name.toLowerCase))
      build
    }

  private[graft] val cacheLock = new Object
  private[queries] def materialize(path: String)(write: => Unit): String =
    cacheLock.synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) write
      path
    }

  /** Write `nation` as |-delimited headerless CSV (mirroring the
    * reference's .tbl layout) once per (sfDir) and return its path. */
  private def nationCsv(s: SparkSession, d: String): String =
    materialize(s"${cacheDir(d)}/nation_csv") {
      t(s, d, "nation").coalesce(1).write.mode(SaveMode.Overwrite)
        .option("delimiter", "|").option("header", "false")
        .csv(s"${cacheDir(d)}/nation_csv")
    }

  private def ordersJson(s: SparkSession, d: String): String =
    materialize(s"${cacheDir(d)}/orders_json") {
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .coalesce(1).write.mode(SaveMode.Overwrite).json(s"${cacheDir(d)}/orders_json")
    }

  /** Events re-laid-out by a sort key, range-partitioned into 32 files
    * with small parquet row groups (32 KiB here so layout effects are
    * measurable at test SF; production uses the default 128 MiB — the
    * pruning argument is per-row-group either way). Shared by the
    * Z-order and single-column layouts so LayoutSpec compares footers
    * of structurally identical writes. */
  private[graft] def eventsLayout(
      s: SparkSession, d: String, name: String)(key: DataFrame => Column): String =
    materialize(s"${cacheDir(d)}/$name") {
      // INT96 (Spark's legacy default timestamp encoding) carries no
      // row-group statistics — min/max pruning on ts requires the modern
      // INT64 micros encoding.
      val tsType = "spark.sql.parquet.outputTimestampType"
      val prev = s.conf.get(tsType)
      s.conf.set(tsType, "TIMESTAMP_MICROS")
      try {
        val ev = t(s, d, "events").withColumn("ts", col("ts").cast("timestamp"))
        ev.withColumn("zz", key(ev))
          .repartitionByRange(32, col("zz"))
          .sortWithinPartitions("zz")
          .drop("zz")
          .write.mode(SaveMode.Overwrite)
          .option("parquet.block.size", 32 * 1024)
          .parquet(s"${cacheDir(d)}/$name")
      } finally s.conf.set(tsType, prev)
    }

  /** Z-ordered events: 8-bit (user_id, time) Morton key. Bucket bounds
    * come from one metadata-sized agg at write time (layout decisions
    * may read stats; queries never do). */
  private[graft] def zorderedEvents(s: SparkSession, d: String): String =
    eventsLayout(s, d, "events_zorder") { ev =>
      val b = ev.agg(min("user_id"), max("user_id"),
        min(unix_millis(col("ts"))), max(unix_millis(col("ts")))).head()
      graft.functions.ZOrder.zkey(
        graft.functions.ZOrder.bucket(col("user_id"), b.getLong(0), b.getLong(1), 8),
        graft.functions.ZOrder.bucket(unix_millis(col("ts")), b.getLong(2), b.getLong(3), 8),
        8)
    }

  /** The single-dimension strawman: same write, sorted by time only. */
  private[graft] def tsSortedEvents(s: SparkSession, d: String): String =
    eventsLayout(s, d, "events_tsorted")(_ => unix_millis(col("ts")))

  val all: Seq[Q] = Seq(

    Q("q_csv_scan",
      """SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, d) =>
      // CSV scan with explicit delimiter + declared schema (reference
      // CsvScanExecNode header/delimiter, datafusion.proto:1163-1167).
      // Schema is pinned like the reference's serialized plans (§1.3).
      val src = nationCsv(s, d)
      s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("delimiter", "|").option("header", "false")
        .csv(src)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), min("n_name").as("first_name"))
        .orderBy("n_regionkey")
    },

    Q("q_json_scan",
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM orders WHERE o_totalprice > 150000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // JSON lines scan via format string (reference generic format
      // support, Engine.createExternalTable path).
      val src = ordersJson(s, d)
      s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING")
        .json(src)
        .filter(col("o_totalprice") > 150000)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    Q("q_avro_scan",
      """SELECT n_regionkey, COUNT(*) AS n, MAX(n_name) AS last_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, d) =>
      // Avro scan (reference AvroScanExecNode, datafusion.proto:1169-1171).
      // This deployment's spark-sql jar carries AvroFileFormat but not the
      // "avro" DataSourceRegister alias, so address it by class name.
      val fmt = "org.apache.spark.sql.avro.AvroFileFormat"
      val path = materialize(s"${cacheDir(d)}/nation_avro") {
        t(s, d, "nation").coalesce(1).write.mode(SaveMode.Overwrite)
          .format(fmt).save(s"${cacheDir(d)}/nation_avro")
      }
      s.read.format(fmt).load(path)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), max("n_name").as("last_name"))
        .orderBy("n_regionkey")
    },

    Q("q_listing_scan",
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      // Listing-table scan (reference ListingTableScanNode,
      // datafusion.proto:99-115): a DIRECTORY of parquet files read as
      // one relation — at 100 TB every table is this shape, split by
      // spark.sql.files.maxPartitionBytes.
      val path = materialize(s"${cacheDir(d)}/customer_multi") {
        t(s, d, "customer").repartition(4).write.mode(SaveMode.Overwrite)
          .parquet(s"${cacheDir(d)}/customer_multi")
      }
      Tables.parquet(s, path)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    Q("q_partitioned_scan",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // Hive-style partition pruning (reference table_partition_cols,
      // datafusion.proto:107, 1153): data laid out as
      // o_orderpriority=<v>/ dirs; the IN filter prunes partitions at
      // planning time — at 100 TB only 2 of 5 directory trees are read
      // (PartitionFilters in the scan node, asserted in PlanShapeSpec).
      val path = materialize(s"${cacheDir(d)}/orders_part") {
        t(s, d, "orders").write.mode(SaveMode.Overwrite)
          .partitionBy("o_orderpriority").parquet(s"${cacheDir(d)}/orders_part")
      }
      // Hive-partitioned: Spark's partition discovery, not Tables.parquet
      s.read.parquet(path)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Qh.dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },

    Q("q_orc_scan",
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""".stripMargin) { (s, d) =>
      // ORC via format string (reference generic format support §2.2).
      val path = materialize(s"${cacheDir(d)}/region_orc") {
        t(s, d, "region").coalesce(1).write.mode(SaveMode.Overwrite)
          .orc(s"${cacheDir(d)}/region_orc")
      }
      s.read.orc(path).select("r_regionkey", "r_name").orderBy("r_regionkey")
    },

    Q("q_bucketed_join",
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // Co-located fact-fact join via bucketing: both tables are written
      // ONCE bucketed (and sorted) on the join key, so the join itself
      // needs no exchange on either side — at 100 TB this turns the
      // biggest shuffle in the pipeline into a per-bucket merge. The
      // oracle is the identical join over the unbucketed tables: layout
      // must never change results. Plan assertion (no hashpartitioning
      // on the join keys) lives in PlanShapeSpec.
      val tag = Integer.toHexString(d.hashCode)
      val ot = s"graft_bkt_orders_$tag"
      val lt = s"graft_bkt_lineitem_$tag"
      cacheLock.synchronized {
        freshCatalogTable(s, ot)(
          t(s, d, "orders").select("o_orderkey", "o_orderpriority")
            .write.mode(SaveMode.Overwrite)
            .bucketBy(16, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot))
        freshCatalogTable(s, lt)(
          t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
            .write.mode(SaveMode.Overwrite)
            .bucketBy(16, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt))
      }
      s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Qh.dsum(col("l_extendedprice")).as("total"))
        .orderBy("o_orderpriority")
    },

    Q("q_join_stats_broadcast",
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |       ${Qh.sqlDsum("o_totalprice")} AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      // q_join_inner_agg with the broadcast() hint REMOVED: join
      // selection comes from ANALYZE'd catalog statistics instead. The
      // dimension table is PARTITIONED on purpose — a partitioned
      // catalog table without stats planes to sizeInBytes=Long.Max (no
      // broadcast possible), so the BroadcastHashJoin this query gets
      // (asserted in PlanShapeSpec, with AND without AQE) is provably
      // stats-driven, not hint- or file-listing-driven. This is the
      // reference's exact-stats JoinSelection re-run
      // (execution_stage.rs:240-261) expressed through the catalog: at
      // 100 TB you ANALYZE dims once and every query picks the right
      // join without per-query hints.
      val tag = Integer.toHexString(d.hashCode)
      val ct = s"graft_stats_customer_$tag"
      val ot = s"graft_stats_orders_$tag"
      cacheLock.synchronized {
        freshCatalogTable(s, ct) {
          t(s, d, "customer").write.mode(SaveMode.Overwrite)
            .partitionBy("c_mktsegment").saveAsTable(ct)
          s.sql(s"ANALYZE TABLE $ct COMPUTE STATISTICS"): Unit
        }
        freshCatalogTable(s, ot) {
          t(s, d, "orders").write.mode(SaveMode.Overwrite).saveAsTable(ot)
          s.sql(s"ANALYZE TABLE $ot COMPUTE STATISTICS"): Unit
        }
      }
      s.table(ot)
        .join(s.table(ct), col("o_custkey") === col("c_custkey")) // no hint
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), Qh.dsum(col("o_totalprice")).as("total_price"))
        .orderBy("c_mktsegment")
    },

    Q("q_join_cbo_reorder",
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${Qh.sqlDsum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // Declared in the WORST order — the two fact tables joined first,
      // the selective dimension last. The three catalog tables carry
      // column statistics (NDVs) from ANALYZE ... FOR COLUMNS, so with
      // `spark.sql.cbo.enabled` + `cbo.joinReorder.enabled`
      // CostBasedJoinReorder estimates |orders ⋈ σ(customer)| ≪
      // |lineitem ⋈ orders| and rewrites the join tree to put the
      // selective join first — PlanShapeSpec asserts the flip (and the
      // declared order without CBO). The stats story one level deeper
      // than q_join_stats_broadcast: at 100 TB, ANALYZE'd NDVs mean the
      // user can write joins in any order and the optimizer finds the
      // cheap tree, which is the reference's exact-stats re-planning
      // (execution_stage.rs:240-261) applied to join ORDER, not just
      // join STRATEGY. Tables are pruned to the joined/aggregated
      // columns so the one-time copy stays small.
      val tag = Integer.toHexString(d.hashCode)
      val lt = s"graft_cbo_lineitem_$tag"
      val ot = s"graft_cbo_orders_$tag"
      val ct = s"graft_cbo_customer_$tag"
      cacheLock.synchronized {
        freshCatalogTable(s, lt) {
          t(s, d, "lineitem").select("l_orderkey", "l_extendedprice")
            .write.mode(SaveMode.Overwrite).saveAsTable(lt)
          s.sql(s"ANALYZE TABLE $lt COMPUTE STATISTICS FOR COLUMNS l_orderkey, l_extendedprice"): Unit
        }
        freshCatalogTable(s, ot) {
          t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
            .write.mode(SaveMode.Overwrite).saveAsTable(ot)
          s.sql(s"ANALYZE TABLE $ot COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_custkey, o_orderpriority"): Unit
        }
        freshCatalogTable(s, ct) {
          t(s, d, "customer").select("c_custkey", "c_mktsegment")
            .write.mode(SaveMode.Overwrite).saveAsTable(ct)
          s.sql(s"ANALYZE TABLE $ct COMPUTE STATISTICS FOR COLUMNS c_custkey, c_mktsegment"): Unit
        }
      }
      s.table(lt)
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .join(s.table(ct).filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Qh.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderpriority")
    },

    Q("q_schema_evolution",
      s"""WITH v1 AS (SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
         |            FROM orders WHERE o_orderkey % 2 = 0),
         |v2 AS (SELECT o_orderkey, o_totalprice, o_orderpriority
         |       FROM orders WHERE o_orderkey % 2 = 1),
         |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         |SELECT COALESCE(o_orderpriority, '<legacy>') AS priority,
         |       COUNT(*) AS n, ${Qh.sqlDsum("o_totalprice")} AS total
         |FROM u GROUP BY priority ORDER BY priority""".stripMargin) { (s, d) =>
      // Schema evolution across ingest batches — the normal state of a
      // long-lived 100 TB table: batch 1 was written before the
      // o_orderpriority column existed, batch 2 carries it. One
      // mergeSchema read reconciles the footers (absent columns read as
      // NULL — exactly the oracle's CAST(NULL) union), so downstream
      // queries never special-case old files. Merge cost is per-FOOTER
      // at planning time, data is never rewritten — the alternative
      // (backfill-rewrite the old batches) is the thing you cannot
      // afford at scale.
      val base = s"${cacheDir(d)}/orders_evolve"
      val path = materialize(base) {
        val o = t(s, d, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode(SaveMode.Overwrite).parquet(s"$base/batch=1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode(SaveMode.Overwrite).parquet(s"$base/batch=2")
        // materialize() checks for a root _SUCCESS marker
        java.nio.file.Files.createFile(java.nio.file.Paths.get(base, "_SUCCESS")): Unit
      }
      // batch=N/ partitions with merged schemas: Spark's partition
      // discovery and schema merge, not Tables.parquet
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>")).as("priority"))
        .agg(count(lit(1)).as("n"), Qh.dsum(col("o_totalprice")).as("total"))
        .orderBy("priority")
    },

    Q("q_nested_prune",
      s"""SELECT o_orderpriority AS priority, COUNT(*) AS n,
         |       ${Qh.sqlDsum("o_totalprice")} AS total
         |FROM orders GROUP BY priority ORDER BY priority""".stripMargin) { (s, d) =>
      // Nested-column pruning: the table stores rich structs (the shape
      // of real event/feature tables), the query touches two leaf
      // fields — and the scan must read ONLY those leaves, not the
      // enclosing structs. Catalyst's nested schema pruning pushes the
      // field selection into the parquet ReadSchema
      // (struct<cust:struct<priority>,fin:struct<price>> — asserted in
      // PlanShapeSpec), so at 100 TB a 50-field struct costs what the 2
      // used fields cost. The oracle reads the equivalent flat columns:
      // nesting must never change results.
      val base = s"${cacheDir(d)}/orders_nested"
      val path = materialize(base) {
        t(s, d, "orders").select(
          col("o_orderkey"),
          struct(col("o_custkey").as("key"),
            col("o_orderpriority").as("priority")).as("cust"),
          struct(col("o_totalprice").as("price"),
            col("o_orderdate").as("odate")).as("fin"))
          .write.mode(SaveMode.Overwrite).parquet(base)
      }
      Tables.parquet(s, path)
        .groupBy(col("cust.priority").as("priority"))
        .agg(count(lit(1)).as("n"), Qh.dsum(col("fin.price")).as("total"))
        .orderBy("priority")
    },

    Q("q_zorder_scan",
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE user_id BETWEEN 10 AND 19
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // Multi-dimensional Z-order layout: events rewritten once sorted by
      // the Morton interleave of (user_id, time) buckets, then a 2-D
      // selective box (10 of the users × 2 of the 30 days). Both
      // predicates reach the parquet scan as PushedFilters, and because
      // every row group covers a small (user_id, ts) BOX — not a full
      // user range like a time-sorted layout — row-group min/max prunes
      // on both dimensions: at 100 TB the scan reads ~box-fraction of
      // the table instead of every row group in the time range.
      // LayoutSpec counts overlapping row groups from the footers of
      // this layout vs the time-sorted strawman; the oracle reads the
      // ORIGINAL events table — layout must never change results.
      val path = zorderedEvents(s, d)
      Tables.parquet(s, path)
        .filter(col("user_id").between(10, 19) &&
          col("ts") >= expr("timestamp'2024-01-10 00:00:00'") &&
          col("ts") < expr("timestamp'2024-01-12 00:00:00'"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Qh.dsum(col("value")).as("total"))
        .orderBy("event_type")
    },

    Q("q_repartition",
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // User-visible repartition (reference RepartitionNode hash
      // partitioning, datafusion.proto:154-165): hash-distribute on the
      // group key, then aggregate. AQE may still coalesce tiny partitions.
      t(s, d, "lineitem")
        .repartition(8, col("l_returnflag"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
  )
}
