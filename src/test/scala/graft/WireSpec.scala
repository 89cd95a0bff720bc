package graft

import graft.server.WireServer
import org.scalatest.BeforeAndAfterAll

import java.sql.{Connection, DriverManager}

/** End-to-end wire front-end evidence (the reference's Flight SQL
  * surface, flight_sql.rs:445-670): a REAL Thrift/JDBC round trip —
  * server mounted on the engine session, a stock `java.sql` client
  * connecting over a TCP socket, SQL text crossing the wire, typed
  * results coming back. Each test pins one RPC family the reference
  * serves: statement execution, metadata discovery, prepared
  * statements, and per-connection session isolation. */
class WireSpec extends GraftSuite with BeforeAndAfterAll {

  private var endpoint: WireServer.Endpoint = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    // shared persistent-catalog tables — visible to every wire session,
    // like the reference's shared object-store catalog
    spark.sql("DROP TABLE IF EXISTS wire_orders")
    spark.sql("DROP TABLE IF EXISTS wire_customer")
    spark.sql(s"CREATE TABLE wire_orders USING parquet LOCATION '$sf/orders.parquet'")
    spark.sql(s"CREATE TABLE wire_customer USING parquet LOCATION '$sf/customer.parquet'")
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    endpoint = WireServer.start(spark)
  }

  override def afterAll(): Unit = {
    try {
      if (endpoint != null) endpoint.stop()
      spark.sql("DROP TABLE IF EXISTS wire_orders")
      spark.sql("DROP TABLE IF EXISTS wire_customer")
    } finally super.afterAll()
  }

  private def connect(): Connection =
    DriverManager.getConnection(endpoint.jdbcUrl, "graft", "")

  private def queryStrings(conn: Connection, sql: String): Seq[Seq[String]] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[Seq[String]]
      while (rs.next()) out += (1 to n).map(i => String.valueOf(rs.getString(i)))
      out.result()
    } finally st.close()
  }

  test("remote aggregate matches the in-process result exactly") {
    // decimal-rendered sum so wire text and in-process text are
    // bit-identical (the Qh exactness discipline, over the wire)
    val sql =
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS total
        |FROM wire_orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    val local = spark.sql(sql).collect().map(r =>
      Seq(r.getString(0), r.getLong(1).toString, r.getString(2)))
    val conn = connect()
    try {
      val wire = queryStrings(conn, sql)
      assert(wire.nonEmpty && wire == local.toSeq)
    } finally conn.close()
  }

  test("large SELECT streams incrementally: partition-batched jobs, bounded driver materialization") {
    // The WireServer scale contract: a big result is served via
    // incremental collect (toLocalIterator — one Spark job per partition
    // as the client drains the cursor), never a single collect() that
    // materializes everything on the driver. Observable signature over a
    // real socket: draining N partitions of rows fires MULTIPLE jobs on
    // the server session. A collect()-style operation would fire exactly
    // one job before the first row arrives.
    val nParts = 8
    val nRows = 80000L
    spark.sql("DROP TABLE IF EXISTS wire_big")
    spark.range(0, nRows, 1, nParts).toDF("id")
      .write.saveAsTable("wire_big") // persistent catalog: visible to wire sessions
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val conn = connect()
    try {
      val st = conn.createStatement()
      st.setFetchSize(5000) // below the 10k server cap; forces many round trips
      val rs = st.executeQuery("SELECT id FROM wire_big")
      var n = 0L
      var sum = 0L
      while (rs.next()) { n += 1; sum += rs.getLong(1) }
      st.close()
      assert(n == nRows, s"drained $n rows")
      assert(sum == nRows * (nRows - 1) / 2, "content intact across fetch batches")
      // listener events are queued async; poll until they land
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobs.get() < 2 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(jobs.get() >= 2,
        s"expected partition-batched jobs (incremental collect), saw ${jobs.get()} — " +
          "a single job means the server collect()ed the result on the driver")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      conn.close()
      spark.sql("DROP TABLE IF EXISTS wire_big")
    }
  }

  test("remote join runs through the same Catalyst session surface") {
    val sql =
      """SELECT c.c_mktsegment, COUNT(*) AS n
        |FROM wire_orders o JOIN wire_customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin
    val local = spark.sql(sql).collect().map(r => Seq(r.getString(0), r.getLong(1).toString))
    val conn = connect()
    try assert(queryStrings(conn, sql) == local.toSeq)
    finally conn.close()
  }

  test("metadata RPCs answer from the session catalog (GetTables/GetColumns)") {
    val conn = connect()
    try {
      val md = conn.getMetaData
      val tables = {
        val rs = md.getTables(null, "default", "wire_%", null)
        val b = Seq.newBuilder[String]
        while (rs.next()) b += rs.getString("TABLE_NAME")
        b.result()
      }
      assert(tables.toSet == Set("wire_orders", "wire_customer"))
      val cols = {
        val rs = md.getColumns(null, "default", "wire_orders", "%")
        val b = Seq.newBuilder[String]
        while (rs.next()) b += rs.getString("COLUMN_NAME")
        b.result()
      }
      assert(cols.contains("o_orderkey") && cols.contains("o_totalprice"))
    } finally conn.close()
  }

  test("prepared statement binds parameters per execute") {
    val conn = connect()
    try {
      val ps = conn.prepareStatement("SELECT COUNT(*) FROM wire_orders WHERE o_orderstatus = ?")
      try {
        def remoteCount(status: String): Long = {
          ps.setString(1, status)
          val rs = ps.executeQuery()
          assert(rs.next()); rs.getLong(1)
        }
        def localCount(status: String): Long =
          spark.table("wire_orders").where(s"o_orderstatus = '$status'").count()
        assert(remoteCount("O") == localCount("O"))
        assert(remoteCount("F") == localCount("F"))
        assert(remoteCount("O") != remoteCount("F")) // the bind actually changed the result
      } finally ps.close()
    } finally conn.close()
  }

  test("engine extension functions are served over the wire") {
    // the injected graft_* SQL functions (GraftExtensions) must exist in
    // every wire session — remote clients get the ENGINE, not stock Spark
    val sql = "SELECT CAST(graft_rolling_hash('wire') AS STRING) AS h, " +
      "CAST(graft_nfc_normalize('e\u0301') = '\u00e9' AS STRING) AS nfc"
    val local = spark.sql(sql).collect().map(r => Seq(r.getString(0), r.getString(1)))
    val conn = connect()
    try {
      val wire = queryStrings(conn, sql)
      assert(wire == local.toSeq && wire.head(1) == "true")
    } finally conn.close()
  }

  test("each connection is an isolated session over a shared catalog") {
    val conn1 = connect()
    val conn2 = connect()
    try {
      // temp view in conn1 stays in conn1 (reference SessionContext-per-
      // token, flight_sql.rs:125-162)
      conn1.createStatement().execute(
        "CREATE TEMPORARY VIEW wire_tv AS SELECT 42 AS x")
      assert(queryStrings(conn1, "SELECT x FROM wire_tv") == Seq(Seq("42")))
      val leaked =
        try { queryStrings(conn2, "SELECT x FROM wire_tv"); true }
        catch { case _: java.sql.SQLException => false }
      assert(!leaked, "temp view leaked across wire sessions")
      // conf set in conn1 does not leak to conn2
      conn1.createStatement().execute("SET spark.sql.shuffle.partitions=7")
      val v1 = queryStrings(conn1, "SET spark.sql.shuffle.partitions").head(1)
      val v2 = queryStrings(conn2, "SET spark.sql.shuffle.partitions").head(1)
      assert(v1 == "7" && v2 != "7")
      // but the persistent catalog is shared: conn2 still sees the table
      assert(queryStrings(conn2, "SELECT COUNT(*) FROM wire_orders").head.head.toLong > 0)
    } finally { conn1.close(); conn2.close() }
  }

  test("a statement one connection compiled compiles nothing on the next") {
    // Janino compiles in this JVM (the server is in-process), so the
    // codegen counter sees both connections' sessions and their tasks
    val sql =
      """SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice * 3) AS m
        |FROM wire_orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    val connA = connect()
    val connB = connect()
    try {
      val a = queryStrings(connA, sql)
      // The fetch RPC builds the row deserializer on the connection's
      // handler thread, whose context classloader is Hive's per-session
      // UDFClassLoader, so each connection compiles it once per result
      // type (nullable string, bigint, nullable double here). Warm it
      // with a plan that shares nothing else with `sql`.
      assert(queryStrings(connB,
        "SELECT CAST(NULL AS STRING), 1L, CAST(NULL AS DOUBLE)").size == 1)
      var b: Seq[Seq[String]] = Nil
      val compiled = SparkTestBase.compilesDuring { b = queryStrings(connB, sql) }
      assert(a.nonEmpty && b == a)
      assert(compiled == 0, s"connection B compiled $compiled classes")
    } finally { connA.close(); connB.close() }
  }

  test("a template re-run with a different literal compiles nothing") {
    // the wire_mix shapes: a key-range lookup with no exchange (planned
    // without AQE) and a filtered aggregate (AQE's stage rules); filter
    // constants reach generated code as references, so the second
    // literal reuses every class the first one compiled
    val templates = Seq[Long => String](
      k => s"SELECT o_orderkey, o_custkey, o_totalprice FROM wire_orders " +
        s"WHERE o_orderkey BETWEEN $k AND ${k + 200} AND o_totalprice > 1000.5",
      k => s"SELECT o_orderstatus, COUNT(*) AS n FROM wire_orders " +
        s"WHERE o_custkey <> $k AND o_orderkey < ${k * 40} GROUP BY o_orderstatus")
    val conn = connect()
    try for (t <- templates) {
      // the first run also compiles this connection's row deserializer
      val first = queryStrings(conn, t(100))
      var second: Seq[Seq[String]] = Nil
      val compiled = SparkTestBase.compilesDuring { second = queryStrings(conn, t(300)) }
      assert(first.nonEmpty && second.nonEmpty && second != first)
      assert(compiled == 0, s"${t(300)}: compiled $compiled classes")
    } finally conn.close()
  }
}
