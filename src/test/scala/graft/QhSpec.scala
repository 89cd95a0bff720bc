package graft

import graft.queries.Qh
import org.apache.spark.storage.StorageLevel

class QhSpec extends GraftSuite {

  test("materializedWith runs its block on persisted inputs and drops them on return") {
    // a block's driver-side actions (a count, a bloom-filter build) must
    // read the cache materializedWith owns — not build it a second time
    // before the inputs are persisted
    val in = spark.range(1000).selectExpr("id % 7 AS k").distinct()
    // storageLevel reads the session's cache manager entry for `in`
    var cachedInBlock = false
    val out = Qh.materializedWith(in) {
      cachedInBlock = in.storageLevel != StorageLevel.NONE
      in.groupBy().count()
    }
    assert(cachedInBlock, "the block ran before its input was persisted")
    assert(out.head().getLong(0) == 7L)
    assert(in.storageLevel == StorageLevel.NONE, "the input cache outlived the call")
  }

  test("a materializedWith row runs exactly one localCheckpoint") {
    // a body's own localCheckpoint would add a second one scanning the first
    for (q <- Seq("q_agg_ks_bysource", "q_cur_quantile_norm")) {
      val ps = QueryTrace.of(spark)(SparkEntry.queries(q)(spark, sf))._2.plans
      assert(ps.count(_._1 == "localCheckpoint") == 1, s"$q: ${ps.map(_._1)}")
    }
  }

  test("persisting returns its body's value and drops its inputs") {
    val in = spark.range(100).selectExpr("id % 3 AS k").distinct()
    assert(Qh.persisting(in)(in.count()) == 3L)
    assert(in.storageLevel == StorageLevel.NONE, "the input cache outlived the call")
  }

  test("persisting drops its inputs when its body throws") {
    val a = spark.range(10).selectExpr("id * 2 AS x")
    val b = spark.range(10).selectExpr("id * 3 AS y")
    intercept[IllegalStateException](Qh.persisting(a, b) {
      assert(a.storageLevel != StorageLevel.NONE && b.storageLevel != StorageLevel.NONE)
      throw new IllegalStateException("body failed")
    })
    assert(a.storageLevel == StorageLevel.NONE && b.storageLevel == StorageLevel.NONE,
      "an input cache outlived a failed body")
  }

  test("Q.scala holds the only persist/cache/unpersist calls in src/main") {
    // the Bench sweep drops localCheckpoint blocks between rows; it
    // frees no Dataset cache
    val call = """\.persist\(|\.cache\(\)|\.unpersist\(""".r
    val hits = SparkTestBase.mainSources
      .filter(_._1 != "graft/queries/Q.scala")
      .flatMap { case (f, src) =>
        src.linesIterator.filter(call.findFirstIn(_).nonEmpty).map(l => f -> l.trim)
      }
    val sweep = ".foreach(_.unpersist(blocking = false))"
    assert(hits == Seq("graft/Bench.scala" -> sweep), hits.mkString("\n"))
  }
}
