package graft.functions

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization: the memory layer of a production-scale vector
  * store (IVF partitions WHERE to look — [[IvfIndex]]; PQ shrinks WHAT
  * is stored). The d-dim vector space is split into `m` subspaces of
  * d/m dims; each subspace gets its own k-codeword L2 k-means codebook;
  * a corpus vector is stored as m small codes (here 8 bytes-worth per
  * 64-float vector — 32× smaller than the raw embedding, the difference
  * between an index that fits in cluster RAM at 100 TB and one that
  * doesn't). Scoring is ADC (asymmetric distance computation): the
  * query stays exact; per subspace a k-entry lookup table of
  * query-to-codeword dots is computed ONCE on the driver and shipped as
  * a literal, so scoring a corpus row is m array lookups + adds — no
  * floating-point vector math at all on the scan side.
  */
object PqIndex {

  /** Train the m × k product codebook (L2 k-means per subspace, sampled
    * training via [[IvfIndex.trainCentroids]] — corpus-size-independent
    * like the IVF coarse quantizer). */
  def trainCodebook(vecs: DataFrame, m: Int, k: Int): Array[Array[Array[Double]]] = {
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    (0 until m).toArray.map { s =>
      IvfIndex.trainCentroids(
        vecs.select(col("vec_id"), slice(col("v"), s * sub + 1, sub).as("v")),
        k, assign = IvfIndex.l2CellCol)
    }
  }

  /** Column: the m-code encoding of `v` (nearest codeword per subspace
    * by L2 — the same criterion the codebook was trained with). */
  def codesCol(codebook: Array[Array[Array[Double]]], v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val sub = codebook(0)(0).length
    array(codebook.zipWithIndex.map { case (cents, s) =>
      IvfIndex.l2CellCol(cents, slice(v, s * sub + 1, sub)).cast("int")
    }: _*)
  }

  /** Build once: persist the codebook (m·k tiny rows) and the encoded
    * corpus — (vec_id, label, codes), NO raw vectors — under `dir`.
    * One sampled training pass + one encoding map stage + one write. */
  def buildIndex(vecs: DataFrame, m: Int, k: Int, dir: String): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cb = trainCodebook(vecs, m, k)
    cb.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
    }.toSeq.toDF("s", "c", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/codebook")
    vecs.select(col("vec_id"), col("label"), codesCol(cb, col("v")).as("codes"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/encoded")
  }

  /** Load the codebook back (m·k rows to the driver — the same thing a
    * real PQ index keeps in RAM). */
  def loadCodebook(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    graft.Tables.parquet(spark, s"$dir/codebook").orderBy("s", "c").collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))

  /** Build the COMBINED index — IVF cells for pruning, PQ codes for
    * memory: coarse centroids + product codebook + the corpus stored as
    * (vec_id, label, codes) hive-partitioned by IVF cell. A probe reads
    * only nProbe cells' FILES (partition pruning) and only their CODES
    * (16× less data) — the two multiplicative reductions a 100 TB
    * vector store needs. */
  def buildIvfPqIndex(vecs: DataFrame, kCells: Int, m: Int, k: Int, dir: String): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val centers = IvfIndex.trainCentroids(vecs.select("vec_id", "v"), kCells)
    centers.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    val cb = trainCodebook(vecs, m, k)
    cb.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
    }.toSeq.toDF("s", "c", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/codebook")
    vecs.select(col("vec_id"), col("label"),
        codesCol(cb, col("v")).as("codes"),
        IvfIndex.cellCol(centers, col("v")).as("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Incrementally add `delta` vectors to an existing IVF+PQ index:
    * encode them with the FROZEN product codebook and assign them to the
    * FROZEN coarse centroids (one broadcast-model map stage), then
    * append per-cell code files into the hive-partitioned `cells/`
    * layout. Per-batch cost is O(delta) — neither model is retrained and
    * the corpus codes are never rewritten, so every previously returned
    * ADC score stays valid and partition pruning keeps working (appends
    * land inside the touched `cell=N/` directories). Same frozen-model
    * contract as [[IvfIndex.upsertIndex]]: distribution drift degrades
    * quantization error gradually, and the answer is a periodic rebuild,
    * not per-batch re-centering (which would invalidate every stored
    * code). */
  def upsertIvfPqIndex(delta: DataFrame, dir: String): Unit = {
    val spark = delta.sparkSession
    val centers = IvfIndex.loadCentroids(spark, dir)
    val cb = loadCodebook(spark, dir)
    delta.select(col("vec_id"), col("label"),
        codesCol(cb, col("v")).as("codes"),
        IvfIndex.cellCol(centers, col("v")).as("cell"))
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(s"$dir/cells")
  }

  /** ADC lookup table for one query: lt(s)(c) = q_s · codeword(s)(c),
    * so Σ_s lt(s)(codes(s)) ≈ q · reconstruction(x). Driver-side — it
    * is one vector against m·k codewords. */
  def lookupTable(codebook: Array[Array[Array[Double]]], q: Array[Double])
      : Array[Array[Double]] = {
    val sub = codebook(0)(0).length
    codebook.zipWithIndex.map { case (cents, s) =>
      val qs = q.slice(s * sub, (s + 1) * sub)
      cents.map(c => c.zip(qs).map { case (a, b) => a * b }.sum)
    }
  }

  /** Column: the ADC approximate score of a `codes` column against a
    * literal lookup table — m element_at lookups + adds, codegen'd. */
  def adcScore(lt: Array[Array[Double]], codes: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val ltLit = array(lt.map(a => array(a.map(lit): _*)): _*)
    (1 to lt.length)
      .map(s => element_at(element_at(ltLit, s), element_at(codes, s) + lit(1)))
      .reduce(_ + _)
  }
}
