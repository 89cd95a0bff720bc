package graft.queries

import graft.functions.BoundedMinSet.bounded_min_set
import graft.functions.OrderedPairs.ordered_pairs
import graft.functions.XxHash64Array.xxhash64_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The near-dup similarity join as one pruning step plus one verification
  * step (the REPOSE split: partition-level pruning, then exact
  * verification of the survivors). Every pair generator in the dedup
  * family is a composition of these steps:
  *
  *   blocking keys → [[cappedIds]] (bounded postings, counted drops)
  *   → [[pairs]] → [[spread]] → [[verifyJoin]] → the caller's metric
  *
  * with [[hashed]] and [[rarityPrefix]] producing the blocking keys of
  * the shingle-set generators. A step never knows which generator it
  * serves: each caller keeps its own metric, threshold, observe names
  * and output columns.
  */
private[queries] object SimJoin {

  /** (payload, postings) of a (doc_id, sh: array<string>) shingle frame:
    * `(doc_id, sh: array<long>)` for the verify join and one
    * `(doc_id, g: long)` row per shingle for blocking.
    *
    * Hash each shingle string to a long ONCE and run every downstream
    * stage (postings, df counts, window, set intersections) on longs;
    * string set-ops on 60-element arrays across 100k+ candidate pairs
    * measured ~4x the whole query's runtime. Exactness: intersection and
    * union sizes equal the string sets' absent an xxhash64 collision
    * within a compared pair (~1e-15 odds corpus-wide; the all-pairs
    * DuckDB oracle would catch one as a hash mismatch).
    *
    * The postings use the FUSED `explode(xxhash64_array(sh))`: projecting
    * the hashed array first and exploding it in a second select makes
    * Generate materialize the 60-long array per row and measured 5x
    * slower (4.1 s vs 0.7 s at sf0.1); the fused generator streams the
    * longs. Also no `size(sh)` column alongside the explode:
    * CollapseProject would duplicate the whole shingle expression into
    * both; |sh| is recovered from the per-doc window [[rarityPrefix]]
    * needs anyway. */
  def hashed(shStr: DataFrame): (DataFrame, DataFrame) =
    (shStr.select(col("doc_id"), xxhash64_array(col("sh")).as("sh")),
      shStr.select(col("doc_id"), explode(xxhash64_array(col("sh"))).as("g")))

  /** (doc_id, g): each doc's global-rarity prefix — its first
    * n − ⌈(p/q)·n⌉ + 1 grams ordered by (document frequency, gram) — over
    * a (doc_id, g) postings frame. Two docs whose overlap must reach p/q
    * of the shorter's n grams MUST collide within these prefixes (the
    * canonical ssjoin/PPJoin probing prefix: an exact theorem, not
    * probabilistic), and the rarity ordering puts the shortest posting
    * lists in the index. On this corpus (small shared vocabulary: 27k
    * grams, nearly all df>1 at sf0.1) naive share-any-gram blocking emits
    * 1.27M jaccard candidates; the 4/5 prefix emits 119k. The per-doc
    * window is a doc_id-partitioned row_number over ~60 rows —
    * scale-safe.
    *
    * broadcast(dfg): the aggregated df table (27k rows) — without the
    * hint Spark's size guess broadcasts the 10x-bigger postings side
    * instead (and collecting THAT re-executes the shingle pipeline
    * serially).
    *
    * The prefix length MUST be computed in exact integer arithmetic:
    * ⌈(p/q)·n⌉ = (p·n + q − 1) div q. The float spelling floor((1−t)·n)+1
    * evaluates (1−0.8)·n as 1.999…96 for n = 10 (binary 0.2 is inexact),
    * undersizing the prefix by one for every n ≡ 0 (mod 5) — which
    * dropped a true boundary pair (sizes 8/10, jaccard exactly 0.8) from
    * the sf0.1 candidates; the exact-oracle gate caught it. PipelineSpec
    * pins the adversarial subset-pair shape. */
  def rarityPrefix(posts: DataFrame, p: Int, q: Int): DataFrame = {
    val dfg = posts.groupBy("g").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("g"))
    val wholeDoc = Window.partitionBy("doc_id")
    posts.join(broadcast(dfg), "g")
      .withColumn("r", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(wholeDoc))
      .filter(col("r") <= col("n") - expr(s"($p * n + ${q - 1}) div $q") + 1)
      .select("doc_id", "g")
  }

  /** (by…, ids): the doc ids sharing each blocking key, bounded at the
    * `cap` smallest, keeping only keys shared by two or more docs.
    *
    * Bounded at the MAP side: partial buffers never exceed `cap` ids
    * (see BoundedMinSet), so the shuffle carries ≤ cap longs per key per
    * partition — collect_set would ship and hold a boilerplate key's
    * whole posting list (millions of docs at 100 TB) in one row, and
    * expand it quadratically. With the cap any key's pair fan-out is
    * bounded at cap(cap−1)/2. Keeping the smallest `cap` ids (not
    * dropping the key) means a mega-cluster of near-identical docs is
    * still FOUND via its cap smallest members; what the cap sacrifices is
    * pair-completeness within that cluster.
    *
    * Drops are never silent: the `counter` observe metric publishes
    * `cappedField` (keys over the cap) and `dropped_ids`, surfaced by
    * [[graft.GraftMetrics]]. It observes AFTER the two-member filter (an
    * oversized key always keeps cap ≥ 2 ids, so none is filtered away),
    * where it sees only the few shared keys instead of every singleton. */
  def cappedIds(keys: DataFrame, by: Seq[String], cap: Int,
      counter: String, cappedField: String): DataFrame =
    keys.groupBy(by.map(col): _*)
      .agg(bounded_min_set(col("doc_id"), cap).as("bs"))
      .filter(col("bs.n") > 1)
      .observe(counter,
        sum(when(col("bs.n") > cap, lit(1)).otherwise(lit(0))).as(cappedField),
        sum(when(col("bs.n") > cap, col("bs.n") - cap).otherwise(lit(0))).as("dropped_ids"))
      .select(by.map(col) :+ col("bs.ids").as("ids"): _*)

  /** (i, j), i < j: the distinct candidate pairs of an `ids` frame, via
    * the codegen'd pair enumeration (see [[graft.functions.OrderedPairs]]
    * for the exact-equality contract with the nested-HOF spelling).
    *
    * The `distinct` stays a separate map-side-partial aggregate: a
    * repartition(i)-then-dropDuplicates fusion (one exchange instead of
    * distinct + [[spread]]) was MEASURED AND REJECTED — it ships the raw
    * enumerated pair stream and builds the full dedup hash in the reduce
    * tasks; the threshold-sweep subset bench read 14.2 s vs 3.0 s. */
  def pairs(ids: DataFrame): DataFrame =
    ids.select(explode(ordered_pairs(col("ids"))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
      .distinct()

  /** `cand` hash-repartitioned on `i` into the session's shuffle
    * partition count. Candidate verification is CPU-heavy per row (two
    * 60-element set ops) over few BYTES per row, so AQE's size-based
    * coalescing collapses it to one partition and serializes it
    * (measured 3.4 s on one thread). An explicit NUMBERED repartition is
    * exempt from AQE coalescing and keeps the verify stage wide — a bare
    * `repartition(col("i"))` would not be. Key on `i` ONLY: a repartition
    * on (i, j) is satisfied by the distinct's own hash(i, j)
    * partitioning and gets elided, leaving the coalescable
    * ENSURE_REQUIREMENTS exchange as the stage boundary again. */
  def spread(cand: DataFrame): DataFrame =
    cand.repartition(
      cand.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("i"))

  /** `cand` (i, j, …) with both sides' payloads attached as `sha`/`shb`
    * from a (doc_id, sh) frame. HYBRID verify joins, each measured on the
    * sf10 decade corpus (per-stage profile):
    *  - join-on-i stays sort-merge: it sorts only SLIM inputs (16-byte
    *    candidate pairs; narrow doc rows), and its fat OUTPUT leaves
    *    sorted by i — consecutive rows repeat the same sha array, so the
    *    exchange feeding join-on-j LZ4-compresses ~3× better than an
    *    unsorted stream (hinting BOTH joins ballooned the threshold
    *    sweep's shuffle write 8 → 22 GB).
    *  - join-on-j is hinted shuffle_hash: the default SMJ would sort the
    *    pair-scale stream WITH its carried 60-long arrays (the one
    *    corpus-quadratic-payload sort in the family — 37 GB of spill, 85%
    *    of the threshold sweep's task time at sf10); hashing builds from
    *    the doc-scale sh side (provably the small one: docs ≪ candidate
    *    pairs whenever the index emits anything) and streams the fat side
    *    unsorted.
    * A third alternative — widening these exchanges ∝ corpus bytes — was
    * measured and REJECTED: per-task overheads across the ~20 corpus-pass
    * stages doubled total CPU at 7× width. */
  def verifyJoin(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("i"), col("sh").as("sha")), "i")
      .join(sh.select(col("doc_id").as("j"), col("sh").as("shb")).hint("shuffle_hash"), "j")
}
