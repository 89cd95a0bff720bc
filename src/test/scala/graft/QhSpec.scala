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
}
