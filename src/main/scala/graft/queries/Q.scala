package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** One catalog entry: a Spark-first query plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL run by the driver's correctness gate.
  * Column names/aliases MUST match between the two — the driver sorts
  * columns by name before hashing.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))

  /** Run one SQL text against per-directory scoped temp-view names (the
    * only difference from the DuckDB oracle text is the table prefix).
    * Idempotent registration; keying views on the data dir means
    * concurrent runs against different scale factors cannot cross-bind —
    * the view lookup happens at `s.sql` analysis time, inside this call.
    * `tag` namespaces the views per caller file. */
  def sqlRun(tag: String, tables: String*)(sql: String => String): (SparkSession, String) => DataFrame =
    (s, d) => {
      val p = s"graft_$tag${Integer.toHexString(d.hashCode)}_" // hex: identifier-safe
      tables.foreach(t => graft.Tables.df(s, d, t).createOrReplaceTempView(s"$p$t"))
      s.sql(sql(p))
    }
}

/** Shared helpers for oracle-exact results.
  *
  * The fact tables store money/quantity as `double`; a distributed
  * `sum(double)` is association-dependent (partial aggregates merge in
  * nondeterministic order at scale), so its low bits can differ run-to-run
  * and engine-to-engine. Casting to decimal BEFORE aggregating makes the
  * sum exact and order-independent — the same trick at 100 TB keeps
  * results stable across 1000 executors — and the final cast back to
  * double is then deterministic. Decimal precisions are chosen so products
  * stay within 38 digits in both Spark and DuckDB (no precision-loss
  * rounding on either side).
  */
object Qh {
  val D12: DecimalType = DecimalType(12, 2) // prices, quantities
  val D3: DecimalType = DecimalType(3, 2)   // rates in [0,1)

  /** The one cache lifecycle: persist `inputs`, run `body`, unpersist
    * the inputs in a finally (the error path too). An input already
    * cached on entry is neither persisted nor freed: a helper handed its
    * caller's cached frame leaves that cache to the caller. `body` is
    * by-name, so every action it runs (a count, a collected scalar, a
    * bloom-filter build) reads the caches. These two functions are the
    * only code in src/main that persists or frees a cache (QhSpec pins
    * the source), so no cache outlives the call that made it
    * (ClusterSpec pins every catalog row) — a bare `persist()` under a
    * lazily-returned frame leaks for the session, and across a bench run
    * those corpus-sized caches evict each other. A frame `body` returns
    * must not read `inputs` lazily (it would recompute them from the
    * scans after the call): return driver-built results, or use
    * [[materializedWith]].
    *
    * Persist DERIVED corpus-pass frames (shingles, exploded tokens,
    * recounts) — the ones whose recomputation repeats real CPU work.
    * Do NOT point this at a raw table scan: caching text-heavy rows to
    * save pruned columnar re-scans measured 24-30% SLOWER at sf0.1
    * (q_cur_datasheet/q_cur_end2end/q_embed_drift, round 8) — the
    * per-branch transform work dominates and stays either way, while
    * the cache adds a columnar encode pass. */
  def persisting[A](inputs: DataFrame*)(body: => A): A = {
    val owned = inputs.filter { in =>
      val free = in.storageLevel == StorageLevel.NONE
      if (free) in.persist()
      free
    }
    try body
    finally owned.foreach(_.unpersist())
  }

  /** [[persisting]] whose result is EAGERLY materialized while the inputs
    * are cached: the one job `localCheckpoint(eager = true)` triggers
    * computes every input once, and the small result (candidate pairs,
    * top-k, scalar rollups) is pinned as executor-resident blocks with
    * its lineage truncated, so it reads nothing the call frees. `result`
    * must not end in its own localCheckpoint — that is a second
    * execution scanning the first. The builder runs inside Bench's timed
    * region, so the eager work is measured like lazy work.
    *
    * FAULT-TOLERANCE CAVEAT (round-11 decision, recorded in PARITY.md):
    * localCheckpoint truncates lineage WITHOUT durability — the blocks
    * live in executor storage only, so on a cluster a lost executor
    * fails the query (nothing remains to recompute from) and Spark's
    * recovery is a query retry from the table scans. That is the right
    * trade ONLY for small, single-query, recomputable frames like
    * these. Expensive many-consumer state (the LSH pair set, IVF/PQ
    * indexes, pipeline stage outputs) must instead live as on-disk
    * artifacts under an atomic _SUCCESS commit — see graft.Artifact /
    * PipelineRunner. */
  def materializedWith(inputs: DataFrame*)(result: => DataFrame): DataFrame =
    persisting(inputs: _*)(result.localCheckpoint(eager = true))

  /** Exact, order-independent sum of a double money column. */
  def dsum(c: Column): Column = sum(c.cast(D12)).cast(DoubleType)
  /** Exact average: exact decimal sum, then one double division. */
  def davg(c: Column): Column = sum(c.cast(D12)).cast(DoubleType) / count(c)
  /** SQL fragments for the DuckDB side of the same computations. */
  def sqlDsum(col: String): String = s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE)"
  def sqlDavg(col: String): String = s"(${sqlDsum(col)} / COUNT($col))"
}
