package perfbench

import graft.{PipelineRunner, SparkEntry, Tables}
import graft.server.WireServer
import graft.streaming.DocStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** An LLM data-prep pipeline, one closed-loop client. A pass runs the
  * dedup and curation rows of the catalog into the noop sink plus one
  * committed `PipelineRunner` op, in a seeded order. A row's time is
  * mostly fixed per-stage cost and eager `localCheckpoint` jobs inside
  * the catalog call; the op's goes to scan, shuffle, parquet encoding and
  * output commit. */
final class LlmPipeline(ctx: Ctx) extends Workload {
  import ctx._
  private val rows = LlmPipeline.rows
  private val Etl = "pipeline_op"
  private val etl = new EtlOp(ctx, rec)
  private val rnd = new Random(seed)
  private val outRows = mutable.Map[String, Long]()

  def opsPerUnit: Double = rows.size + 1
  def outRowsPerUnit: Double = outRows.values.sum.toDouble
  def callSpans: Set[String] = Set("catalog_call", "sink", "pipeline_run")
  def opSpanName: String = "op"
  override def stagesResumed: Double = etl.stagesResumed

  // Drop the blocks that checkpointing rows leave behind once their
  // result is in the sink, as the repo's own Bench does between rows;
  // blocking, so the removal does not overlap the next statement.
  private def cleanup(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Warm-up, untimed: every row once through the result digest, which is
    * the output check, one pipeline op, then [[LlmPipeline.warmPasses]]
    * ordinary passes. */
  def setup(): Unit = {
    rnd.shuffle(rows).foreach { q =>
      try {
        val d = Digest.of(SparkEntry.queries(q)(spark, base))
        outRows(q) = Digest.rows(d)
        rec.check(q, expected.get(s"llm_pipeline/$q").contains(d),
          s"digest $d, expected ${expected.getOrElse(s"llm_pipeline/$q", "none")}")
      } catch { case e: Exception => rec.check(q, ok = false, e.toString) }
      finally cleanup()
    }
    etl.warmUp()
    (1 to LlmPipeline.warmPasses).foreach(_ => pass())
    rec.reset()
    etl.reset()
  }

  /** Whole passes only: a pass started before the deadline runs to its
    * end, so every statement counted belongs to a complete pass. */
  def window(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) pass()

  private def pass(): Unit = Trace.span("pass", Trace.nextId(), 0L) { pid =>
    val p0 = System.nanoTime()
    rnd.shuffle(rows :+ Etl).foreach(q => if (q == Etl) etl.run(pid) else runRow(q, pid))
    rec.passes.add((System.nanoTime() - p0) / 1e9)
  }

  private def runRow(q: String, parent: Long): Unit = {
    val opId = Trace.nextId()
    rec.op(q) {
      Workload.tagged(spark, opId) {
        Trace.span("op", opId, parent) { sid =>
          val t0 = System.nanoTime()
          try {
            val df = Trace.span("catalog_call", opId, sid)(_ => SparkEntry.queries(q)(spark, base))
            Trace.span("sink", opId, sid)(_ => df.write.format("noop").mode("overwrite").save())
            rec.stmt(q, t0)
          } finally cleanup()
        }
      }
    }
  }

  override def verify(): Unit = etl.checkCounts()
  override def close(): Unit = etl.close()
}

object LlmPipeline {
  /** Dedup and curation rows whose time is mostly per-stage cost, few
    * enough that the window holds five or more passes. Rows that persist
    * artifacts outside the working directory (`q_dedup_minhash`,
    * `q_ann_ivfpq`) are left out, and so is `q_dedup_containment`: its
    * latency is bimodal (about 1.1 s or 2.1 s, alternating within one
    * JVM), and with it in the pass `pass_s` spread by a fifth or more
    * between runs. */
  val rows: Seq[String] = Seq("q_dedup_editdist", "q_cur_decontaminate")
  /** Pass times keep falling while the JIT compiles the engine's hot
    * paths; four passes before the window take out the steepest part. */
  val warmPasses = 4
}

/** JDBC clients against `WireServer` on the benchmark's session, one per
  * core, each closed-loop: it sends its next statement once the previous
  * result is fully fetched. Scans are small, so planning, job launch and
  * the Thrift round trip dominate, and the clients contend for the task
  * slots. */
final class WireMix(ctx: Ctx) extends Workload {
  import ctx._
  private val clients = nproc
  private var endpoint: WireServer.Endpoint = _
  private var conns: Seq[Connection] = Nil
  private var orderKeys: Array[Long] = _
  private var custKeys: Array[Long] = _
  private var nations: Array[Int] = _
  private var liMin, liMax = 0L
  private val fetched = new ConcurrentLinkedQueue[(Long, String, Seq[String])]()

  private case class Template(name: String, gen: Random => String)
  private val templates = Seq(
    Template("orders_lookup", r =>
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS d " +
        s"FROM pb_orders WHERE o_orderkey = ${orderKeys(r.nextInt(orderKeys.length))}"),
    Template("customer_status", r =>
      s"SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total " +
        s"FROM pb_orders WHERE o_custkey = ${custKeys(r.nextInt(custKeys.length))} GROUP BY o_orderstatus"),
    Template("lineitem_range", r => {
      val w = (liMax - liMin) / 50
      val a = liMin + (r.nextDouble() * (liMax - liMin - w)).toLong
      s"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, " +
        s"round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM pb_lineitem " +
        s"WHERE l_orderkey BETWEEN $a AND ${a + w} GROUP BY l_returnflag, l_linestatus"
    }),
    Template("nation_top10", r =>
      s"SELECT c.c_custkey, c.c_name, round(sum(o.o_totalprice), 2) AS spend " +
        s"FROM pb_customer c JOIN pb_orders o ON c.c_custkey = o.o_custkey " +
        s"WHERE c.c_nationkey = ${nations(r.nextInt(nations.length))} " +
        s"GROUP BY c.c_custkey, c.c_name ORDER BY spend DESC, c.c_custkey LIMIT 10"),
    Template("event_users", r =>
      s"SELECT event_type, count(DISTINCT user_id) AS users FROM pb_events " +
        s"WHERE user_id % 16 = ${r.nextInt(16)} GROUP BY event_type"))

  def opsPerUnit: Double = 1.0
  def outRowsPerUnit: Double =
    fetched.asScala.map(_._3.size.toDouble).sum / math.max(fetched.size, 1)
  def callSpans: Set[String] = Set.empty
  def opSpanName: String = "statement"

  def setup(): Unit = {
    // catalog tables, not temp views: each connection gets its own
    // newSession(), which shares only the catalog
    Seq("orders", "lineitem", "customer", "events").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS pb_$t")
      spark.sql(s"CREATE TABLE pb_$t USING parquet LOCATION '$base/$t.parquet'")
    }
    orderKeys = spark.sql("SELECT o_orderkey FROM pb_orders ORDER BY 1").collect().map(_.getLong(0))
    custKeys = spark.sql("SELECT DISTINCT o_custkey FROM pb_orders ORDER BY 1").collect().map(_.getLong(0))
    nations = spark.sql("SELECT DISTINCT c_nationkey FROM pb_customer ORDER BY 1").collect()
      .map(r => r.get(0).toString.toInt)
    val mm = spark.sql("SELECT min(l_orderkey), max(l_orderkey) FROM pb_lineitem").head()
    liMin = mm.getLong(0); liMax = mm.getLong(1)
    endpoint = WireServer.start(spark)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    conns = (0 until clients).map(_ => DriverManager.getConnection(endpoint.jdbcUrl, "perfbench", ""))
    // warm-up: every client runs every template four times, which takes
    // out the steepest part of the JIT warm-up; statement latency keeps
    // falling slowly for a minute after that
    parallel { c =>
      val r = new Random(seed * 7919L + c)
      val st = conns(c).createStatement()
      try for (_ <- 1 to 4; t <- r.shuffle(templates)) fetch(st, t.gen(r)) finally st.close()
    }
  }

  /** Run `f(client)` on one thread per client; rethrows the first error. */
  private def parallel(f: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until clients).map { c =>
      val t = new Thread(() => try f(c) catch { case e: Throwable => errors.add(e) }, s"perfbench-client-$c")
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  private def fetch(st: java.sql.Statement, sql: String): Seq[String] = {
    val rs = st.executeQuery(sql)
    try {
      val n = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer[String]()
      while (rs.next()) out += (1 to n).map(i => WireMix.render(rs.getObject(i))).mkString("|")
      out.sorted.toSeq
    } finally rs.close()
  }

  def window(deadlineNs: Long): Unit = parallel { c =>
    val r = new Random(seed * 1000003L + c)
    val st = conns(c).createStatement()
    try while (System.nanoTime() < deadlineNs) {
      r.shuffle(templates).foreach { t =>
        if (System.nanoTime() < deadlineNs) {
          val sql = t.gen(r)
          val opId = Trace.nextId()
          rec.op(t.name) {
            Trace.span("statement", opId, 0L) { _ =>
              val t0 = System.nanoTime()
              val rows = fetch(st, s"${Workload.tag(opId)} $sql")
              rec.stmt(t.name, t0)
              fetched.add((opId, sql, rows))
            }
          }
        }
      }
    } finally st.close()
  }

  /** A pass is one statement per template per client; its time is read
    * off the completion sequence, so the clients never wait for each
    * other. */
  override def endToEnd(windowS: Double): Map[String, Double] = {
    val ends = rec.stmts.asScala.toSeq.map(_.endNs).sorted
    val k = clients * templates.size
    (0 until ends.size / k).map(i => ends(math.min((i + 1) * k, ends.size - 1)) - ends(i * k))
      .map(_ / 1e9).foreach(rec.passes.add)
    super.endToEnd(windowS)
  }

  /** Re-run a seeded sample of the window's statements in-process and
    * compare with what the clients fetched. */
  override def verify(): Unit = {
    val all = fetched.asScala.toSeq.sortBy(_._1)
    new Random(seed).shuffle(all).take(6).foreach { case (_, sql, rows) =>
      val local = spark.sql(sql).collect().toSeq
        .map(_.toSeq.map(WireMix.render).mkString("|")).sorted
      rec.check(s"wire: $sql", local == rows, s"fetched ${rows.take(3)}, in-process ${local.take(3)}")
    }
  }

  override def close(): Unit = {
    conns.foreach(c => try c.close() catch { case _: Exception => })
    if (endpoint != null) endpoint.stop()
  }
}

object WireMix {
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => "%.9g".format(d)
    case f: Float => "%.9g".format(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case other => other.toString
  }
}

/** One pipeline op: a `PipelineRunner.run` into a fresh root with three
  * committed stages (a lineitem-orders enrichment, `DocStreams.redactPii`
  * over the documents, a per-day rollup read back from the first stage),
  * then the same call again, which must resume every stage from its
  * `_SUCCESS` marker. */
final class EtlOp(ctx: Ctx, rec: Recorder) {
  import ctx._
  private val root = s"$work/etl"
  private lazy val lineitem = Tables.df(spark, base, "lineitem")
  private lazy val orders = Tables.df(spark, base, "orders")
  private lazy val documents = Tables.df(spark, base, "documents")
  private val names = Seq("enrich", "redact", "rollup")
  private var n = 0
  private var ops = 0
  private var resumed = 0L

  private def stages(dir: String): Seq[(String, DataFrame => DataFrame)] = Seq(
    "enrich" -> (li => li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), to_date(col("l_shipdate")).as("ship_day"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))),
    "redact" -> (_ => DocStreams.redactPii(documents)),
    "rollup" -> (_ => spark.read.parquet(s"$dir/00_enrich").groupBy("ship_day")
      .agg(count(lit(1)).as("lines"), sum("l_quantity").as("qty"), sum("revenue").as("revenue"))))

  private def dirOf(i: Int) = s"$root/op$i"
  def lastDir: String = dirOf(n - 1)

  def run(parent: Long): Unit = {
    val dir = dirOf(n)
    Workload.rmTree(new File(dir))
    val opId = Trace.nextId()
    rec.op("pipeline op") {
      Workload.tagged(spark, opId)(Trace.span("op", opId, parent) { sid =>
        val t0 = System.nanoTime()
        val (_, first) = Trace.span("pipeline_run", opId, sid)(_ =>
          PipelineRunner.run(spark, dir, lineitem, stages(dir)))
        rec.stmt("pipeline_compute", t0)
        val t1 = System.nanoTime()
        val (_, again) = Trace.span("pipeline_run", opId, sid)(_ =>
          PipelineRunner.run(spark, dir, lineitem, stages(dir)))
        rec.stmt("pipeline_resume", t1)
        resumed += again.loaded.size
        ops += 1
        rec.check("pipeline computed", first.computed == names, s"computed ${first.computed}")
        rec.check("pipeline resumed", again.loaded == names, s"loaded ${again.loaded}")
      })
      names.zipWithIndex.foreach { case (s, i) =>
        rec.check(s"pipeline $s _SUCCESS", new File(f"$dir/$i%02d_$s/_SUCCESS").exists(), "missing")
      }
    }
    if (n > 0) Workload.rmTree(new File(dirOf(n - 1)))
    n += 1
  }

  /** Per-stage row counts of the last op against the reference. */
  def checkCounts(): Unit = names.zipWithIndex.foreach { case (s, i) =>
    val rows = spark.read.parquet(f"$lastDir/$i%02d_$s").count()
    val want = expected.get(s"pipeline_op/$s")
    rec.check(s"pipeline $s rows", want.contains(rows.toString),
      s"$rows rows, expected ${want.getOrElse("none")}")
  }

  /** One untimed op; its stage row counts are checked with the last. */
  def warmUp(): Unit = {
    Workload.rmTree(new File(root))
    run(0L)
  }

  def reset(): Unit = { ops = 0; resumed = 0 }

  def stagesResumed: Double = if (ops == 0) 0.0 else resumed.toDouble / ops

  def close(): Unit = Workload.rmTree(new File(root))
}
