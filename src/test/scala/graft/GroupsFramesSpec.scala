package graft

import graft.plans.GroupsFrames
import org.apache.spark.sql.catalyst.expressions.{DenseRank, RangeFrame, SpecifiedWindowFrame}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Window}

/** Parse-level GROUPS window frames (round-12 verdict item #5): the
  * injected parser (GraftExtensions → GroupsFrameParser) must run raw
  * SQL:2011 GROUPS text on any extension-bearing session, and the
  * GroupsFrames rule must be semantically exact across the bounds grid
  * and every statement shape the analyzer handles. The oracle-checked
  * catalog row is q_window_groups_sql; these tests pin the parser wire,
  * the bound translations, the plans the rule builds, and the loud
  * failures for a marker the rule cannot place. */
class GroupsFramesSpec extends GraftSuite {

  private def fixture(): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // groups of unequal size over k: k=1 ×1, k=2 ×2, k=3 ×3, k=5 ×1
    val rows = Seq((1, 10.0), (2, 20.0), (2, 30.0), (3, 1.0), (3, 2.0),
      (3, 4.0), (5, 100.0))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case ((k, v), i) =>
        Row(i.toLong, k, v) }, 2),
      StructType(Seq(StructField("id", LongType), StructField("k", IntegerType),
        StructField("v", DoubleType))))
      .createOrReplaceTempView("gf_t")
  }

  /** Result rows of `sql`, order-insensitive. */
  private def rows(sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.toString).toSeq.sorted

  private def optimized(sql: String): LogicalPlan =
    spark.sql(sql).queryExecution.optimizedPlan

  private def windows(p: LogicalPlan): Seq[Window] = p.collect { case w: Window => w }

  /** The peer-group cells form: one cells Aggregate joined back, and
    * `nWindows` windows, all above that Aggregate. */
  private def assertCollapsed(sql: String, nWindows: Int): Unit = {
    val p = optimized(sql)
    val aggs = p.collect { case a: Aggregate => a }
    assert(aggs.size == 1 && p.collect { case j: Join => j }.size == 1, p.treeString)
    assert(windows(p).size == nWindows, p.treeString)
    windows(p).foreach(w => assert(w.collectFirst { case a: Aggregate => a }.isDefined,
      s"a window sorts the rows, not the cells:\n${p.treeString}"))
  }

  /** The composition every GROUPS frame must equal: dense_rank over the
    * keys in `r`, then a RANGE frame over it. */
  private val Ranked = "WITH r AS (SELECT id, k, v, DENSE_RANK() OVER (ORDER BY k) AS g FROM gf_t) "

  test("raw GROUPS SQL text parses and runs on an extension session (the parser wire)") {
    // The shared test session carries GraftExtensions, exactly like
    // Engine.session and the wire server — so spark.sql sees the raw
    // text; no explicit rewrite call anywhere in this test.
    fixture()
    val got = spark.sql(
      """SELECT id, SUM(v) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_t ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // group sums: k1=10, k2=50, k3=7, k5=100; 1 GROUP preceding + peers
    val want = Seq(0L -> 10.0, 1L -> 60.0, 2L -> 60.0, 3L -> 57.0,
      4L -> 57.0, 5L -> 57.0, 6L -> 107.0)
    assert(got.toSeq == want, got.mkString(","))
  }

  test("bounds grid matches the dense_rank composition on every frame") {
    fixture()
    val frames = Seq(
      "UNBOUNDED PRECEDING AND CURRENT ROW",
      "2 PRECEDING AND 1 PRECEDING",
      "1 PRECEDING AND 1 FOLLOWING",
      "CURRENT ROW AND UNBOUNDED FOLLOWING",
      "1 FOLLOWING AND UNBOUNDED FOLLOWING")
    // SUM, COUNT and MIN over w take the collapse (COUNT reads 0 on an
    // empty frame); NTH_VALUE over w2 takes the general form
    frames.foreach { f =>
      def q(from: String, k: String, k2: String, mode: String) = rows(
        s"""SELECT id, SUM(v) OVER w AS s, COUNT(*) OVER w AS c, MIN(v) OVER w AS mn,
           |  NTH_VALUE(k, 2) OVER w2 AS n2
           |FROM $from WINDOW w AS (ORDER BY $k $mode BETWEEN $f),
           |  w2 AS (ORDER BY $k2 $mode BETWEEN $f)""".stripMargin)
      val got = q("gf_t", "k", "k DESC", "GROUPS")
      assert(got == q("(SELECT id, k, v, DENSE_RANK() OVER (ORDER BY k) AS g, " +
        "DENSE_RANK() OVER (ORDER BY k DESC) AS g2 FROM gf_t)", "g", "g2", "RANGE"),
        s"frame $f: got=${got.mkString(",")}")
    }
    // ranking functions whose own frame is written as GROUPS keep it:
    // they rank the keys as without the frame clause
    val own = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    def ranks(frame: String) = rows(
      Seq("DENSE_RANK", "RANK", "ROW_NUMBER").map(f => s"$f() OVER (ORDER BY k $frame)")
        .mkString("SELECT k, ", ", ", " FROM gf_t"))
    assert(ranks(own.replace("ROWS", "GROUPS")) == ranks(own))
  }

  test("two GROUPS windows over the same spec share one cells subquery (collapse)") {
    fixture()
    // Round-17: decomposable aggregates take the peer-group COLLAPSE —
    // one cells aggregate per (partition, order) spec, both frames
    // windowed over the same model-sized cells frame (one rank window,
    // one frame window holding both), no corpus window at all.
    val sql =
      """SELECT id,
        |  SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS a,
        |  COUNT(*) OVER (ORDER BY k GROUPS BETWEEN 2 PRECEDING AND CURRENT ROW) AS b
        |FROM gf_t""".stripMargin
    assertCollapsed(sql, nWindows = 2)
    assert(windows(optimized(sql)).map(_.windowExpressions.size).sorted == Seq(1, 2))
    assert(rows(sql) == rows(Ranked +
      """SELECT id,
        |  SUM(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS a,
        |  COUNT(*) OVER (ORDER BY g RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS b
        |FROM r""".stripMargin))
  }

  test("WITH prefix is preserved; PARTITION BY carries through") {
    fixture()
    val got = spark.sql(
      """WITH doubled AS (SELECT id, k % 2 AS p, k, v * 2 AS v2 FROM gf_t)
        |SELECT id, SUM(v2) OVER (PARTITION BY p ORDER BY k
        |  GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |FROM doubled ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // p=1 (k odd: k1=20, k3=14, k5=200), p=0 (k2=100)
    val want = Seq(0L -> 20.0, 1L -> 100.0, 2L -> 100.0, 3L -> 34.0,
      4L -> 34.0, 5L -> 34.0, 6L -> 234.0)
    assert(got.toSeq == want, got.mkString(","))
  }

  test("unsupported shapes fail loudly, never silently misparse") {
    fixture()
    // a GROUPS frame needs an ORDER BY: without any window keys the
    // edited text does not parse; with PARTITION BY only, the marker
    // lands in the partition keys and the check rule refuses it
    intercept[ParseException](spark.sql(
      "SELECT SUM(v) OVER (GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM gf_t"))
    val e1 = intercept[IllegalArgumentException](spark.sql(
      "SELECT SUM(v) OVER (PARTITION BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM gf_t"))
    assert(e1.getMessage.contains("needs an ORDER BY"), e1.getMessage)
    // the marker anywhere but the end of a window ORDER BY
    Seq(
      s"SELECT ${GroupsFrames.MarkerName}() AS m FROM gf_t",
      s"SELECT id FROM gf_t ORDER BY ${GroupsFrames.MarkerName}()",
      s"SELECT SUM(v) OVER (ORDER BY ${GroupsFrames.MarkerName}(), k) FROM gf_t",
      s"SELECT id FROM gf_t WHERE id IN (SELECT ${GroupsFrames.MarkerName}() FROM gf_t)"
    ).foreach { q =>
      val e = intercept[IllegalArgumentException](spark.sql(q))
      assert(e.getMessage.contains(GroupsFrames.MarkerName), s"$q => ${e.getMessage}")
    }
    // a multiplication star and count(*) are not projection stars
    assert(spark.sql(
      """SELECT id, v * 2 AS d, 2 * (v + 1) AS e,
        |  SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_t""".stripMargin).count() == 7)
    assert(spark.sql(
      """SELECT id, COUNT(*) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c
        |FROM gf_t""".stripMargin).count() == 7)
  }

  test("GROUPS frames inside subqueries and CTE bodies are rewritten recursively (round-14)") {
    fixture()
    // buried in a derived table; the outer star sees only the derived
    // table's columns
    val sub = spark.sql(
      """SELECT * FROM (SELECT id, SUM(v) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM gf_t) x
        |ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = Seq(0L -> 10.0, 1L -> 60.0, 2L -> 60.0, 3L -> 57.0,
      4L -> 57.0, 5L -> 57.0, 6L -> 107.0)
    assert(sub.toSeq == want, sub.mkString(","))
    // in a CTE body (the JDBC-user shape from the round-13 verdict)
    val cte = spark.sql(
      """WITH w AS (
        |  SELECT id, SUM(v) OVER (ORDER BY k
        |    GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |  FROM gf_t)
        |SELECT id, s FROM w ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(cte.toSeq == want, cte.mkString(","))
    // a (WITH ... SELECT ...) derived table
    val nested = spark.sql(
      """SELECT a FROM (WITH c AS (SELECT * FROM gf_t)
        |  SELECT id, SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS a
        |  FROM c) d ORDER BY a""".stripMargin).collect()
    assert(nested.length == 7)
    // frames in BOTH the CTE body and the outer block, each over its own
    // rank
    val both = rows(
      """WITH w AS (
        |  SELECT id, k, v, SUM(v) OVER (ORDER BY k
        |    GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM gf_t)
        |SELECT id, run, MAX(run) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS m
        |FROM w""".stripMargin)
    assert(both == rows(Ranked +
      """, w AS (SELECT id, g, SUM(v) OVER (ORDER BY g
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM r)
        |SELECT id, run, MAX(run) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS m
        |FROM w""".stripMargin))
  }

  test("comments, qualified references, and mixed identifier+frame statements (review hardening)") {
    fixture()
    // (1) an apostrophe inside a line comment must not open a phantom
    // quote that hides the frame from the edit
    val withComment = spark.sql(
      """SELECT id, SUM(v) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s -- user's total
        |FROM gf_t ORDER BY id""".stripMargin).collect()
    assert(withComment.length == 7)
    // (2) table-qualified references resolve as in any statement
    val qualified = spark.sql(
      """SELECT gf_t.id, SUM(gf_t.v) OVER (ORDER BY gf_t.k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_t WHERE gf_t.k > 0 ORDER BY gf_t.id""".stripMargin).collect()
    assert(qualified.length == 7)
    // and with an explicit alias
    val aliased = spark.sql(
      """SELECT t.id, SUM(t.v) OVER (ORDER BY t.k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_t AS t ORDER BY t.id""".stripMargin).collect()
    assert(aliased.length == 7)
    // (3) a column named `groups` used with BETWEEN alongside a REAL
    // GROUPS frame: only the frame is edited
    spark.sql("SELECT id, k, v, k AS groups FROM gf_t").createOrReplaceTempView("gf_g")
    val mixed = spark.sql(
      """SELECT id, SUM(v) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_g WHERE groups BETWEEN 1 AND 5 ORDER BY id""".stripMargin).collect()
    assert(mixed.length == 7)
    // (4) a frame in a parenthesized (WITH ... SELECT ...) derived table
    // takes the collapse inside it; the outer block adds no window
    assertCollapsed(
      """SELECT a FROM (WITH c AS (SELECT * FROM gf_t)
        |  SELECT id, SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS a
        |  FROM c) d""".stripMargin, nWindows = 2)
  }

  test("collapse semantics: NULL keys, DESC order, dense_rank routing, AVG fallback") {
    fixture()
    // NULL order keys form their own peer group; the null-safe (<=>)
    // join-back must pair those rows with their cell
    spark.sql(
      """SELECT id, CASE WHEN k = 5 THEN NULL ELSE k END AS k, v FROM gf_t"""
    ).createOrReplaceTempView("gf_n")
    val coll = spark.sql(
      """SELECT id, SUM(v) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_n ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val general = spark.sql(
      """WITH r AS (SELECT id, v, DENSE_RANK() OVER (ORDER BY k) AS g FROM gf_n)
        |SELECT id, SUM(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM r ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(coll.toSeq == general.toSeq,
      s"null-key collapse: ${coll.mkString(",")} vs ${general.mkString(",")}")
    assert(coll.count(_ => true) == 7)

    // DESC order direction carries into the cells rank + window
    val desc = spark.sql(
      """SELECT id, SUM(v) OVER (ORDER BY k DESC NULLS LAST
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_n ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val descWant = spark.sql(
      """WITH r AS (SELECT id, v, DENSE_RANK() OVER (ORDER BY k DESC NULLS LAST) AS g FROM gf_n)
        |SELECT id, SUM(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM r ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(desc.toSeq == descWant.toSeq, desc.mkString(","))

    // a bare same-keyed DENSE_RANK reads the cells' rank column — no
    // third window sorts the rows, and the ranks are the row-level ones
    val routed =
      """SELECT id, DENSE_RANK() OVER (ORDER BY k) AS dr,
        |  SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_t""".stripMargin
    assertCollapsed(routed, nWindows = 2)
    assert(rows(routed) == rows(Ranked +
      "SELECT id, g, SUM(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) FROM r"))

    // an UNRELATED window (different keys / non-rank fn) just stays on
    // the rows — collapse still applies to the GROUPS frame
    val mixed = spark.sql(
      """SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS rn,
        |  SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_t ORDER BY id""".stripMargin).collect()
    assert(mixed.length == 7 && mixed.map(_.getInt(1)).toSeq == (1 to 7),
      mixed.mkString(","))

    // AVG is NOT decomposed (its type-exact SUM/COUNT decomposition
    // depends on decimal typing): the general form — a dense_rank window
    // under a RANGE-framed AVG window over the rows, no cells join — and
    // still the right values
    val avg =
      """SELECT id, AVG(v) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS a
        |FROM gf_t""".stripMargin
    val p = optimized(avg)
    assert(p.collect { case j: Join => j }.isEmpty && p.collect { case a: Aggregate => a }.isEmpty,
      p.treeString)
    val ws = windows(p)
    assert(ws.size == 2 && ws.exists(_.windowExpressions.exists(_.exists(_.isInstanceOf[DenseRank]))) &&
      ws.exists(_.windowExpressions.exists(_.exists {
        case SpecifiedWindowFrame(RangeFrame, _, _) => true
        case _                                      => false
      })), p.treeString)
    assert(rows(avg) == rows(Ranked +
      "SELECT id, AVG(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) FROM r"))
  }

  test("'groups' as an identifier is untouched; statements without GROUPS frames are identity") {
    val sql1 = "SELECT k AS groups, v FROM gf_t WHERE k > 0 ORDER BY groups"
    assert(GroupsFrames.markFrames(sql1) eq sql1) // identity, same instance
    fixture()
    assert(spark.sql(sql1).count() == 7)
    // a column NAMED groups used with BETWEEN trips the cheap probe but
    // is no frame clause: passes through untouched
    val sql2 = "SELECT id FROM gf_t WHERE k BETWEEN 1 AND 3 AND id >= 0 ORDER BY id"
    val sql3 = "SELECT k AS groups FROM gf_t WHERE k BETWEEN 2 AND 3"
    assert(GroupsFrames.markFrames(sql3) eq sql3)
    val sql5 = "SELECT groups FROM (" + sql3 + ") WHERE groups BETWEEN 2 AND 3"
    assert(GroupsFrames.markFrames(sql5) eq sql5)
    assert(spark.sql(sql5).count() == 5)
    assert(spark.sql(sql2).count() == 6)
    // quoted literals and comments holding the frame text are skipped
    val sql4 = "SELECT 'GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW' AS s"
    assert(GroupsFrames.markFrames(sql4) eq sql4)
    assert(spark.sql(sql4).head().getString(0).startsWith("GROUPS"))
    val sql6 = "SELECT 1 AS s -- GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW\n" +
      "/* GROUPS CURRENT ROW */ FROM gf_t"
    assert(GroupsFrames.markFrames(sql6) eq sql6)
  }

  // Shapes the analyzer handles for any window; each must equal the
  // hand-written dense_rank + RANGE composition.

  test("GROUPS frame in a GROUP BY query: SUM(SUM(v)) over the groups") {
    fixture()
    assert(rows(
      """SELECT k, SUM(SUM(v)) OVER (ORDER BY k DIV 2
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_t GROUP BY k""".stripMargin) == rows(
      """WITH a AS (SELECT k, SUM(v) AS sv FROM gf_t GROUP BY k),
        |r AS (SELECT k, sv, DENSE_RANK() OVER (ORDER BY k DIV 2) AS g FROM a)
        |SELECT k, SUM(sv) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM r""".stripMargin))
  }

  test("GROUPS frame under SELECT DISTINCT") {
    fixture()
    assert(rows(
      """SELECT DISTINCT k, SUM(v) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM gf_t""".stripMargin) ==
      rows(Ranked +
        """SELECT DISTINCT k, SUM(v) OVER (ORDER BY g
          |  RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM r""".stripMargin))
  }

  test("GROUPS frame beside * and t.* projections: the schema gains no column") {
    fixture()
    val want = rows(Ranked +
      "SELECT id, k, v, SUM(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) FROM r")
    Seq(
      "SELECT *, SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM gf_t",
      "SELECT t.*, SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM gf_t t"
    ).foreach { q =>
      assert(spark.sql(q).columns.toSeq == Seq("id", "k", "v", "s"), q)
      assert(rows(q) == want, q)
    }
  }

  test("GROUPS frame in a named WINDOW clause") {
    fixture()
    assert(rows(
      """SELECT id, SUM(v) OVER w AS s, MAX(v) OVER w AS m FROM gf_t
        |WINDOW w AS (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING)""".stripMargin) ==
      rows(Ranked +
        """SELECT id, SUM(v) OVER w AS s, MAX(v) OVER w AS m FROM r
          |WINDOW w AS (ORDER BY g RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)""".stripMargin))
  }

  test("GROUPS frame in a scalar subquery in WHERE") {
    fixture()
    assert(rows(
      """SELECT id FROM gf_t WHERE v * 2 > (SELECT MAX(s) FROM (SELECT AVG(v) OVER (ORDER BY k
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM gf_t))""".stripMargin) ==
      rows(
        """SELECT id FROM gf_t WHERE v * 2 > (SELECT MAX(s) FROM (
          |  SELECT AVG(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
          |  FROM (SELECT v, DENSE_RANK() OVER (ORDER BY k) AS g FROM gf_t)))""".stripMargin))
  }

  test("GROUPS frame in one branch of a UNION ALL") {
    fixture()
    assert(rows(
      """SELECT id, SUM(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
        |FROM gf_t UNION ALL SELECT id, v FROM gf_t""".stripMargin) ==
      rows(Ranked +
        """SELECT id, SUM(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
          |FROM r UNION ALL SELECT id, v FROM gf_t""".stripMargin))
  }

  test("GROUPS frame in the short form: GROUPS 1 PRECEDING") {
    fixture()
    assert(rows(
      "SELECT id, SUM(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s FROM gf_t") ==
      rows(Ranked +
        "SELECT id, SUM(v) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM r"))
  }
}
