package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Stale-artifact protection (see `Artifact`'s contract): every artifact
  * under `/tmp/graft_src` is keyed by the fingerprint of its input
  * tables, so a table rewritten in place is never answered from an
  * artifact built from its old contents. The suite drives a scratch
  * corpus copy under /tmp whose `embeddings` and `nation` tables are
  * rewritten in place between two resolutions of a persisted index
  * (`ivf16`) and of a derived source copy (`nation_csv`). */
class ArtifactSpec extends GraftSuite {

  private val corpus = "/tmp/graft_test_stale"

  private def rewrite(table: String)(f: DataFrame => DataFrame): Unit =
    f(spark.read.parquet(s"$sf/$table.parquet"))
      .write.mode("overwrite").parquet(s"$corpus/$table.parquet")

  private def dirs(name: String): Set[String] =
    Option(new java.io.File(Artifact.cacheDir(corpus)).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.matches(s"${name}_[0-9a-f]+")).toSet

  private def run(name: String, d: String): Seq[org.apache.spark.sql.Row] =
    SparkEntry.queries(name)(spark, d).collect().toSeq

  /** The IVF index's own top-10: the catalog row returns the EXACT
    * top-10 and reads the index only through its `recall_ok` overlap. */
  private def ivfTop(d: String): Set[Long] =
    queries.PipelineQueries.annIvfIndexTop10(spark, d).collect()
      .map(_.getAs[Long]("vec_id")).toSet

  test("tables rewritten in place rebuild their artifacts; queries follow the new data") {
    val fullCsv = run("q_csv_scan", sf)
    // the full corpus' ANN neighbours of the query vector (vec 0):
    // version 1 of the scratch corpus lacks them, version 2 has them
    val near = ivfTop(sf) - 0L
    assert(near.nonEmpty)

    rewrite("embeddings")(_.filter(!col("vec_id").isin(near.toSeq: _*)))
    rewrite("nation")(_.filter(col("n_regionkey") =!= 0))
    val csv1 = run("q_csv_scan", corpus)
    val ann1 = ivfTop(corpus)
    assert(csv1 != fullCsv && !csv1.exists(_.getInt(0) == 0), csv1)
    assert(ann1.intersect(near).isEmpty, ann1)
    val (ivf1, csvDirs1) = (dirs("ivf16"), dirs("nation_csv"))

    rewrite("embeddings")(identity)
    rewrite("nation")(identity)
    val csv2 = run("q_csv_scan", corpus)
    val ann2 = ivfTop(corpus)
    assert((dirs("ivf16") -- ivf1).size == 1, "ivf16 was not rebuilt for the new embeddings")
    assert((dirs("nation_csv") -- csvDirs1).size == 1,
      "nation_csv was not rebuilt for the new nation table")
    assert(csv2 == fullCsv, s"q_csv_scan answered from a stale copy: $csv2")
    assert(ann2.intersect(near).nonEmpty, s"the ivf16 probe read a stale index: $ann2")
    assert(run("q_ann_ivf_index", corpus).forall(_.getAs[Boolean]("recall_ok")),
      "q_ann_ivf_index certified its exact top-10 against a stale index")
  }
}
