package graft

import org.apache.spark.sql.Row

/** One engine configuration: `Engine.session` is the only session
  * builder in `src/main`, so the engine that is verified (Verify), the
  * one that is benchmarked (Bench, perfbench) and the one that ships are
  * the same, and the shared test session runs it too. */
class SessionSpec extends GraftSuite {

  test("Engine.scala holds the only SparkSession.builder in src/main") {
    val hits = SparkTestBase.mainSources.collect {
      case (f, src) if src.contains("SparkSession.builder") => f
    }
    assert(hits == Seq("graft/Engine.scala"))
  }

  test("the shared test session carries Engine.session's policy") {
    val conf = spark.sessionState.conf
    def get(k: String): String = spark.conf.get(k)
    assert(get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "131072")
    assert(conf.cboEnabled && conf.joinReorderEnabled)
    assert(conf.sessionLocalTimeZone == "UTC")
    assert(get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)
    // GROUPS frames only parse through GraftExtensions' injected parser
    val rows = spark.sql(
      """SELECT k, count(*) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c
        |FROM VALUES (1), (2), (2), (3) AS t(k) ORDER BY k, c""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq(1 -> 1L, 2 -> 3L, 2 -> 3L, 3 -> 3L))
  }

  test("a child session reuses the classes its parent compiled") {
    // artifact isolation would give the child its own executor
    // classloader, and codegen's cache is keyed by (classloader, code)
    val child = spark.newSession()
    assert(child.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    val sql = "SELECT id % 7 AS k, SUM(id * 3) AS s FROM range(0, 1000, 1, 4) " +
      "GROUP BY id % 7 ORDER BY k"
    val parentRows = spark.sql(sql).collect().toSeq
    var childRows: Seq[Row] = Nil
    val compiled = SparkTestBase.compilesDuring { childRows = child.sql(sql).collect().toSeq }
    assert(childRows == parentRows)
    assert(compiled == 0, s"the child session compiled $compiled classes")
  }

  test("a template re-run with different literals compiles nothing") {
    // filter constants reach generated code as references, not as source
    // text (graft.plans.ParamLiterals). One template has no exchange, so
    // it is planned without AQE; the other runs through AQE's stage rules.
    val templates = Seq[(Long, Long) => String](
      (k, lim) => s"SELECT id, id * 3 AS x FROM range(0, 1000, 1, 4) " +
        s"WHERE id % 7 = $k AND id < $lim",
      (lo, hi) => s"SELECT id % 5 AS g, COUNT(*) AS n FROM range(0, 1000, 1, 4) " +
        s"WHERE id BETWEEN $lo AND $hi GROUP BY id % 5 ORDER BY g")
    for (t <- templates) {
      val first = spark.sql(t(3, 900)).collect()
      var second: Array[Row] = Array.empty
      val compiled = SparkTestBase.compilesDuring { second = spark.sql(t(4, 800)).collect() }
      assert(first.nonEmpty && second.nonEmpty && !(second sameElements first))
      assert(compiled == 0, s"${t(4, 800)}: compiled $compiled classes")
    }
  }
}
