package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Derive an N× corpus from a driver-provided scale factor — the 10×
  * scale-up smoke the per-round bench can't give (round-12 verdict item
  * #3): run the full catalog against the derived dir and check every
  * family grows ~linearly; anything super-linear is a plan that won't
  * survive 100 TB.
  *
  * Derivation, not synthesis: every row is a key-shifted copy of a
  * driver row (replica r gets key + r·10⁷ on every PK/FK consistently,
  * so join selectivities and per-key densities are preserved and the
  * replicas are disjoint). Two semantic adjustments keep the WORKLOAD
  * shape linear rather than degenerate:
  *
  *  - `documents.text`: every token gets a per-replica suffix, so
  *    shingle/minhash/ngram spaces are disjoint across replicas —
  *    near-dup clusters stay within a replica and the pair set scales
  *    ×N. Verbatim copies would instead make every dup cluster ×N wide
  *    and the pair set ×N², a data artifact, not a plan property
  *    (n_chars is recomputed to stay consistent). doc_id shifts by
  *    10⁷ per replica, far above the +10⁶ delta-batch convention, and
  *    10⁷ % 10 = 0 keeps the `doc_id % 10` delta fraction at 1/10.
  *  - `embeddings.embedding`: replica r CYCLICALLY ROTATES coordinates
  *    by r positions. A coordinate rotation is orthogonal, so every
  *    within-replica dot product, norm, L2 distance, AND cosine is
  *    preserved exactly — the honest scale-up is 10× density in the
  *    SAME space, not 10 far-apart copies. Two rejected alternatives
  *    (round-13 review): a tiny jitter leaves each vector's neighbors
  *    = its own near-coincident copies (degenerate L2 top-k), and a
  *    large axis shift preserves L2 but drives within-replica COSINES
  *    toward 1 and freezes hyperplane sign bits (degenerate
  *    cosine/LSH workload). Rotation has neither failure: a vector and
  *    its rotated twin correlate only at the embedding's lag-r
  *    autocorrelation (small for real embeddings). Rotation by dim
  *    would be the identity (an exact duplicate replica), so beyond
  *    dim replicas the transform COMPOSES rotation with global
  *    negation: replica r uses rotate(r % dim) then negates every
  *    coordinate when (r / dim) is odd. Negation is orthogonal (−I),
  *    so within-replica dots/norms/L2/cosines are still preserved
  *    exactly, and (rotation, sign) pairs are distinct for
  *    reps ≤ 2·dim — enough for the 100× decade derivation at
  *    dim = 64. Cross-replica, a vector and its negated twin meet at
  *    cosine −autocorr(r): no near-coincidence, no frozen sign bits
  *    (the negated replica's hyperplane bits are complements — the
  *    cells stay spread).
  *
  * LEVEL-2 derivation (round-17, the sf100 = 1000× decade): deriving
  * from an ALREADY-DERIVED corpus (sf10 = 100× with keys spanning
  * [0, 10⁹)) needs (a) a larger key offset so outer replicas stay
  * disjoint from the inner key space, and (b) a fresh orthogonal-
  * transform family for embeddings — the (rotation, global-negation)
  * family has only 2·dim = 128 members, and composing outer rotations
  * onto inner ones collides by pigeonhole (inner r=1/outer 0 vs inner
  * 0/outer 1 would be EXACT duplicate replicas — degenerate for every
  * near-dup/ANN workload). The level-2 transform is rotate(r % dim)
  * composed with a per-coordinate HASHED SIGN FLIP (a ±1 diagonal
  * matrix — orthogonal, so within-replica dots/norms/L2/cosines are
  * preserved exactly, the same honesty argument as rotation): with a
  * seeded hash the composite (permutation, sign-vector) transforms are
  * distinct across all (inner, outer) pairs — equal outer seeds share
  * a sign pattern only at equal outer r, where inner distinctness
  * takes over — and cross-replica dots are ±-randomized
  * autocorrelations, near zero: no near-coincident twins, no frozen
  * LSH sign bits.
  *
  * Usage: `sbt "runMain graft.ScaleUp [srcDir dstDir reps [keyOffset
  * signSeed]]"`, defaults `/root/testdata/sf0.1 /tmp/graft_sf1 10`;
  * level-2: `runMain graft.ScaleUp /tmp/graft_sf10 /tmp/graft_sf100 10
  * 1000000000 17`; then `SPARK_GRAFT_SF_DIR=... runMain graft.Bench`.
  */
object ScaleUp {
  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val off = if (args.length > 3) args(3).toLong else Off
    val signSeed = if (args.length > 4) Some(args(4).toInt) else None
    val spark = SparkEntry.mainSession("graft-scaleup")

    def write(name: String)(build: Int => DataFrame): Unit = {
      val out = (0 until reps).map(build).reduce(_ unionAll _)
      out.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x$reps -> $dst")
    }
    def t(name: String): DataFrame = Tables.df(spark, src, name)
    def shifted(df: DataFrame, r: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * off)))

    // dimensions stay unscaled (TPC-H keeps region/nation fixed too)
    Seq("region", "nation").foreach { n =>
      t(n).write.mode(SaveMode.Overwrite).parquet(s"$dst/$n.parquet")
      println(s"[scaleup] $n copied")
    }
    write("customer")(r => shifted(t("customer"), r, "c_custkey"))
    write("supplier")(r => shifted(t("supplier"), r, "s_suppkey"))
    write("part")(r => shifted(t("part"), r, "p_partkey"))
    write("orders")(r => shifted(t("orders"), r, "o_orderkey", "o_custkey"))
    write("lineitem")(r =>
      shifted(t("lineitem"), r, "l_orderkey", "l_partkey", "l_suppkey"))
    write("events")(r => shifted(t("events"), r, "event_id", "user_id"))
    // Level-2 replicas suffix with 'y', not 'z': reusing the inner
    // alphabet would make (inner r=1, outer 0) and (inner 0, outer 1)
    // EXACT text duplicates ("wordz1 ..." both ways) — every dup
    // cluster ×reps wide, a data artifact. Distinct alphabets keep the
    // composite suffix space ("z3", "y2", "z3y2") collision-free.
    val sfx = if (signSeed.isDefined) "y" else "z"
    write("documents") { r =>
      val base = shifted(t("documents"), r, "doc_id")
      if (r == 0) base
      else base
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1$sfx$r"))
        .withColumn("n_chars", length(col("text")))
    }
    val dim = t("embeddings").selectExpr("size(embedding)").head().getInt(0)
    if (signSeed.isEmpty) require(reps <= 2 * dim,
      s"reps=$reps > 2*dim=${2 * dim}: the (rotation, sign) transform family is exhausted — pass a signSeed for the hashed-sign family")
    write("embeddings") { r =>
      val base = shifted(t("embeddings"), r, "vec_id")
      val rot = r % dim
      signSeed match {
        case _ if r == 0 => base // identity: the base replica is verbatim
        case None =>
          val sign = if ((r / dim) % 2 == 1) "-" else ""
          base.withColumn("embedding",
            expr(s"transform(embedding, (x, i) -> ${sign}element_at(embedding, ((i + $rot) % $dim) + 1))"))
        case Some(seed) =>
          // diagonal ±1 from a seeded hash — orthogonal, deterministic
          val signs = (0 until dim).map { i =>
            if (scala.util.hashing.MurmurHash3.productHash((seed, r, i)) % 2 == 0) "1.0" else "-1.0"
          }
          base.withColumn("embedding",
            expr(s"transform(embedding, (x, i) -> CAST(element_at(embedding, ((i + $rot) % $dim) + 1) * element_at(array(${signs.mkString(",")}), i + 1) AS FLOAT))"))
      }
    }
    spark.stop()
  }
}
