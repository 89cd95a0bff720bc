package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation operators — the selection/mixing/splitting layer of a
  * training-data pipeline, downstream of PipelineQueries' dedup/quality
  * primitives: deterministic sampling, stratified sampling, balanced
  * source mixing, content-keyed train/val/test splits, a cross-split
  * near-dup leakage audit, greedy token-budget selection, keep-best
  * canonical dedup over near-dup clusters, and int8-quantized similarity
  * scoring.
  *
  * Design rule shared by every query here: selection decisions are pure
  * functions of the DATA (engine-independent integer hashes of ids or
  * content), never of `rand()`, TABLESAMPLE, or partition layout — so a
  * 100 TB curation run is reproducible row-for-row across reruns,
  * cluster sizes, and engines (which is also what makes an exact DuckDB
  * oracle possible for all eight).
  */
object CurationQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.df(s, d, n)

  /** q_cur_semantic_decontam's eval-slice modulus law: 50·⌈n/20000⌉,
    * so the deterministic eval slice stays ≈400 vectors at every corpus
    * size — a real benchmark suite is FIXED-size, and the audit's cost
    * must be |eval|·N (linear in corpus), never N²/50 (the round-16
    * decade finding: the fixed `% 50` slice measured 26.6× at 10× the
    * data — the same fraction-not-size defect class as round 15's
    * nndescent `% 10`). Gate/sf1 corpora (n ≤ 20000) keep the
    * historical modulus of exactly 50, so their oracle rows are
    * bit-identical to the pre-fix recording; the oracle derives the
    * identical value from the same COUNT(*). CurationSpec pins the law
    * at decade points. */
  private[graft] def semanticDecontamMod(n: Long): Long =
    50L * math.max(1L, math.ceil(n / 20000.0).toLong)

  /** MM-iteration count for q_cur_bradley_terry — shared by the Spark
    * driver-model fit and the generated oracle so they cannot drift. */
  private val BtIters = 12

  /** Unrolled DuckDB oracle for the Bradley-Terry MM fit — a (d, u, s,
    * it) CTE quadruple per iteration generated by the same loop count
    * the Spark side runs (the PcaPowerSql convention). All arithmetic
    * is integer in 2^20 fixed point; `//` and Spark's truncating Long
    * division agree on the all-positive operands. */
  private val BtSql: String = {
    val S = 1048576L
    val S2 = S * S
    val sb = new StringBuilder
    sb.append(
      s"""WITH cnt AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM events GROUP BY 1, 2),
         |duel AS (SELECT CASE WHEN a.c > b.c THEN a.event_type ELSE b.event_type END AS i,
         |        CASE WHEN a.c > b.c THEN b.event_type ELSE a.event_type END AS j
         |      FROM cnt a JOIN cnt b
         |        ON a.user_id = b.user_id AND a.event_type < b.event_type
         |      WHERE a.c <> b.c),
         |wmat AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS w FROM duel GROUP BY 1, 2),
         |ty AS (SELECT DISTINCT event_type AS t FROM events),
         |pr AS (SELECT t1.t AS i, t2.t AS j FROM ty t1 JOIN ty t2 ON t1.t <> t2.t),
         |wf AS (SELECT pr.i, pr.j, COALESCE(w.w, 0) + 1 AS w
         |      FROM pr LEFT JOIN wmat w ON pr.i = w.i AND pr.j = w.j),
         |m AS MATERIALIZED (SELECT a.i, a.j, a.w + b.w AS n
         |      FROM wf a JOIN wf b ON a.i = b.j AND a.j = b.i),
         |wt AS MATERIALIZED (SELECT i, CAST(SUM(w) AS BIGINT) AS wi FROM wf GROUP BY i),
         |gt AS (SELECT i, CAST(SUM(n) AS BIGINT) AS gi FROM m GROUP BY i),
         |it0 AS (SELECT t AS i, CAST($S AS BIGINT) AS p FROM ty),
         |""".stripMargin)
    for (t <- 1 to BtIters) sb.append(
      s"""d$t AS (SELECT m.i, SUM((m.n * $S2) // (p1.p + p2.p)) AS den
         |      FROM m JOIN it${t - 1} p1 ON m.i = p1.i
         |        JOIN it${t - 1} p2 ON m.j = p2.i GROUP BY m.i),
         |u$t AS (SELECT wt.i, GREATEST((wt.wi * $S2) // d$t.den, 1) AS p
         |      FROM wt JOIN d$t ON wt.i = d$t.i),
         |s$t AS (SELECT SUM(p) AS sp, COUNT(*) AS nt FROM u$t),
         |it$t AS MATERIALIZED (SELECT i, GREATEST((p * $S * nt) // sp, 1) AS p FROM u$t, s$t),
         |""".stripMargin)
    sb.append(
      s"""fin AS (SELECT i, CAST(p AS BIGINT) AS p FROM it$BtIters)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY p DESC, i) AS INT) AS rank,
         |  i AS event_type, wt.wi AS wins, gt.gi AS games, p AS rating
         |FROM fin JOIN wt USING (i) JOIN gt USING (i) ORDER BY rank""".stripMargin)
    sb.toString
  }

  /** Epoch allocation over a (source, tok) frame — the integer core of
    * q_cur_epochs (see the catalog entry for semantics). Exposed so
    * CurationSpec can pin hand-computed cap/redistribute/clamp values
    * on a skewed fixture the near-uniform corpus can't produce. */
  private[graft] def epochSchedule(
      tok: DataFrame, capEpochs: Long, budgetMult: Long): DataFrame =
    Qh.materializedWith(tok) {
      val g = tok.agg(sum("tok").as("tt"), count(lit(1)).as("ns")).head()
      val budget = budgetMult * g.getLong(0)
      val base = budget / g.getLong(1)
      val cap = lit(capEpochs) * col("tok")
      val a1 = tok.select(col("source"), col("tok"),
        least(cap, lit(base)).as("alloc1"))
      val su = a1.agg(
        sum(lit(base) - col("alloc1")).as("surplus"),
        sum(when(col("alloc1") < lit(capEpochs) * col("tok"), col("tok"))
          .otherwise(lit(0L))).as("utok")).head()
      val (surplus, utok) = (su.getLong(0), su.getLong(1))
      val alloc =
        when(col("alloc1") < cap && lit(utok) > 0L,
          least(cap, col("alloc1") + expr(s"($surplus * tok) div $utok")))
          .otherwise(col("alloc1"))
      a1.select(col("source"), col("tok"), alloc.as("alloc"))
        .select(col("source"),
          col("tok").as("n_tokens"),
          col("alloc").as("alloc_tokens"),
          expr("(1000 * alloc) div tok").as("epochs_milli"),
          (col("alloc") === lit(capEpochs) * col("tok")).as("capped"))
        .orderBy("source")
    }

  /** Knuth multiplicative hash of a non-negative id, mod 2^32 — exact
    * BIGINT arithmetic both engines replicate bit-for-bit (same mix
    * q_dedup_simhash uses to spread its vote bits). Valid while
    * id * 2654435761 fits in int64, i.e. ids < ~3.5e9; beyond that,
    * fold the id first (id % 2^32) or switch to in-engine xxhash64
    * where cross-engine replication isn't required. */
  private def knuth(id: Column): Column =
    (id * lit(2654435761L)) % lit(4294967296L)
  private val KnuthSql = "(doc_id * 2654435761) % 4294967296"

  /** Engine-independent rolling hash of the full text (h*31+c mod 1e9+7)
    * — the same family as q_text_fingerprint, DuckDB-replicable. */
  private val RollSql =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    [CAST(ascii(text[i]) AS BIGINT) for i in range(1, length(text) + 1)]),
      |    (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin

  /** Quality score per doc — the same formula as q_text_quality (length
    * saturation + stopword-ratio saturation, round 9), kept verbatim so
    * curation decisions agree with the quality report. */
  private val Stop = "t IN ('the', 'a', 'of', 'and', 'is')"
  private def qualityOf(nChars: Column, w: Column): Column =
    round(lit(0.5) * least(nChars / 400.0, lit(1.0)) +
      lit(0.5) * least(
        expr(s"size(filter(w, t -> $Stop))").cast("double") / size(w) * 10,
        lit(1.0)), 9)
  /** (doc_id, b): word unigrams hashed to B=1024 buckets with the
    * engine-independent rolling hash — the DSIR feature frame. */
  private[graft] def dsirHashedTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("g"))
      .select(col("doc_id"),
        (graft.functions.RollingHash.rolling_hash(col("g")) % 1024).as("b"))

  /** The DSIR model: per bucket, the Laplace-smoothed log importance
    * ratio ln(p_target/p_raw) fixed-pointed to micro-unit longs (target
    * = the deterministic doc_id%20==1 seed). B rows — broadcast/driver
    * sized; shared by q_cur_dsir and the streaming ingest scorer. */
  private[graft] def dsirLogRatios(toks: DataFrame): DataFrame = {
    val rc = toks.groupBy("b").agg(count(lit(1)).as("nr"))
    val tc = toks.filter(col("doc_id") % 20 === 1)
      .groupBy("b").agg(count(lit(1)).as("nt"))
    val tot = toks.agg(count(lit(1)).as("nrt"),
      count(when(col("doc_id") % 20 === 1, 1)).as("ntt"))
    rc.join(tc, Seq("b"), "left").crossJoin(broadcast(tot))
      .select(col("b"),
        round((log((coalesce(col("nt"), lit(0L)) + 1.0) / (col("ntt") + 1024.0))
          - log((col("nr") + 1.0) / (col("nrt") + 1024.0))) * 1e6)
          .cast("long").as("lrf"))
  }

  /** The tokenize + sequential-prefix-sum CTEs shared by BOTH packing
    * oracles (one copy of the chunk size and split convention — the
    * q_cur_pack_stats manifest must stay derived from the identical
    * stream the per-doc map describes). */
  private val PackCtes =
    """tk AS (SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |       FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |        COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
      |      FROM tk)""".stripMargin

  private val PackSequencesSql =
    s"""WITH $PackCtes
      |SELECT doc_id, n_tokens, CAST(tok_start AS BIGINT) AS tok_start,
      |  CAST(tok_start // 256 AS BIGINT) AS seq_first,
      |  CAST((tok_start + n_tokens - 1) // 256 AS BIGINT) AS seq_last,
      |  CAST((tok_start + n_tokens - 1) // 256 - tok_start // 256 + 1 AS BIGINT) AS n_seqs
      |FROM c ORDER BY doc_id""".stripMargin

  /** The packing core shared by q_cur_pack_sequences / q_cur_pack_stats:
    * the DISTRIBUTED global prefix sum over doc_id-ordered token counts
    * (range repartition → per-partition offsets via one metadata-sized
    * window → local cumsums; the q_cur_token_budget machinery keyed on
    * doc_id). Returns (the range-partitioned frame to persist, the
    * lazy mapped frame with tok_start). */
  private def packMap(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val tk = t(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = tk.repartitionByRange(parts, col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val offsW = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("pid").agg(sum("n_tokens").as("ptok"))
      .withColumn("off", coalesce(sum("ptok").over(offsW), lit(0L)))
      .select("pid", "off")
    val intraW = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mapped = ranged
      .join(broadcast(offsets), "pid")
      .withColumn("tok_start",
        col("off") + sum("n_tokens").over(intraW) - col("n_tokens"))
    (ranged, mapped)
  }

  /** doc_id, quality, n_tokens — shared scoring projection. */
  private def scored(s: SparkSession, d: String): DataFrame =
    PipelineQueries.spreadT(s, d, "documents")
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        qualityOf(col("n_chars"), col("w")).as("quality"),
        size(col("w")).cast("int").as("n_tokens"))

  /** The DuckDB CTE matching `scored` (expects `documents`). */
  private val ScoredCte =
    """sc AS (
      |  SELECT doc_id,
      |    ROUND(0.5 * LEAST(n_chars / 400.0, 1.0)
      |          + 0.5 * LEAST(len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'is')))::DOUBLE
      |                        / len(w) * 10, 1.0), 9) AS quality,
      |    CAST(len(w) AS INT) AS n_tokens
      |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents))""".stripMargin

  /** Content-keyed split assignment: bucket = rolling_hash(text) % 100,
    * 80/10/10 train/val/test. Content-keyed means byte-identical
    * documents ALWAYS land in the same split — exact-duplicate leakage
    * across train/test is structurally impossible (near-dup leakage is
    * what q_cur_leakage_audit measures). Row-local, no shuffle. */
  private def splitAssign(s: SparkSession, d: String): DataFrame = {
    val bucket = graft.functions.RollingHash.rolling_hash(col("text")) % 100
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), bucket.cast("int").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, lit("train"))
          .when(col("bucket") < 90, lit("val"))
          .otherwise(lit("test")))
  }
  private val SplitCte =
    s"""sp AS (
       |  SELECT doc_id, lang, CAST(b AS INT) AS bucket,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, lang, $RollSql % 100 AS b FROM documents))""".stripMargin

  /** Contaminated (corpus_doc, eval_doc) pairs: >= 5 shared distinct
    * word 3-grams vs the eval set (source 'src0'), eval side broadcast.
    * Shared by q_cur_decontaminate and the q_cur_end2end composite. */
  private[queries] def contaminationPairs(s: SparkSession, d: String): DataFrame = {
    // codegen'd word-3-gram shingles (round 18) — see [[WordNgrams]] for
    // the exact-equality contract with the HOF spelling it replaces
    val tri = graft.functions.WordNgrams.word_ngrams(col("w"), lit(3))
    val sh = t(s, d, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("source"), explode(tri).as("sh"))
    val eval = sh.filter(col("source") === "src0")
      .select(col("doc_id").as("eval_id"), col("sh"))
    val evalSizes = eval.groupBy("eval_id").agg(count(lit(1)).as("n_eval_sh"))
    sh.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("sh"))
      .join(broadcast(eval), "sh")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 5)
      .join(broadcast(evalSizes), "eval_id")
  }

  /** DuckDB CTE chain ending in `ov` = the same contaminated pairs
    * (doc_id, eval_id, n_overlap, n_eval_sh). */
  private[queries] val ContaminationCtes: String =
    """cw AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
      |       WHERE len(string_split(text, ' ')) >= 3),
      |cs AS (SELECT doc_id, source,
      |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                               for i in range(1, len(w) - 1)])) AS sh
      |       FROM cw),
      |ce AS (SELECT doc_id AS eval_id, sh FROM cs WHERE source = 'src0'),
      |cc AS (SELECT doc_id, sh FROM cs WHERE source <> 'src0'),
      |cn AS (SELECT eval_id, COUNT(*) AS n_eval_sh FROM ce GROUP BY eval_id),
      |ov AS (SELECT x.doc_id, x.eval_id, x.n_overlap, cn.n_eval_sh
      |       FROM (SELECT cc.doc_id, ce.eval_id, COUNT(*) AS n_overlap
      |             FROM cc JOIN ce USING (sh) GROUP BY cc.doc_id, ce.eval_id
      |             HAVING COUNT(*) >= 5) x
      |       JOIN cn USING (eval_id))""".stripMargin

  val all: Seq[Q] = Seq(

    // --- deterministic hash sampling ------------------------------------
    Q("q_cur_sample_hash",
      s"""SELECT doc_id, lang, source, $KnuthSql AS h
         |FROM documents
         |WHERE $KnuthSql < 858993459
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // 20% sample as `hash(id) < floor(0.2 * 2^32)` — a row-local filter
      // with NO shuffle and NO coordination: every executor decides
      // per-row, the same rows are chosen on every rerun/engine (unlike
      // rand() or TABLESAMPLE), and the rate tightens as corpus grows
      // (binomial concentration). This is the scale path for sampling at
      // 100 TB; the rank-based variants below are the exact-count pins.
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          knuth(col("doc_id")).as("h"))
        .filter(col("h") < lit(858993459L))
        .orderBy("doc_id")
    },

    // --- stratified sampling (exact per-stratum counts) ------------------
    Q("q_cur_sample_stratified",
      s"""WITH x AS (SELECT doc_id, lang, $KnuthSql AS h FROM documents),
         |r AS (SELECT doc_id, lang,
         |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY lang) AS cnt
         |      FROM x)
         |SELECT doc_id, lang, CAST(rn AS INT) AS rn
         |FROM r WHERE rn <= CEIL(cnt * 0.25) ORDER BY lang, rn""".stripMargin) { (s, d) =>
      // Exactly ceil(25%) of every language stratum, chosen by hash rank
      // (deterministic). One shuffle on `lang`; both window functions
      // share the partition spec so it's a single exchange. Scale note:
      // `lang` is low-cardinality, so at 100 TB this window sorts the
      // corpus into ~|langs| tasks — when exact per-stratum counts aren't
      // required, the scale path is the hash-THRESHOLD form per stratum
      // (q_cur_sample_hash with a per-lang rate), which needs no sort at
      // all; this query is the exact-count pin.
      val byH = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      val stratum = Window.partitionBy("lang")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), knuth(col("doc_id")).as("h"))
        .withColumn("rn", row_number().over(byH))
        .withColumn("cnt", count(lit(1)).over(stratum))
        .filter(col("rn") <= ceil(col("cnt") * 0.25))
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy("lang", "rn")
    },

    // --- weighted sampling (quality-proportional, deterministic) ---------
    Q("q_cur_sample_weighted",
      s"""WITH $ScoredCte,
         |k AS (SELECT doc_id, quality,
         |        ROUND(POW((($KnuthSql) + 1) / 4294967296.0, 1.0 / quality), 9) AS skey
         |      FROM sc)
         |SELECT doc_id, quality, skey FROM k
         |ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      // Weighted sampling without replacement (Efraimidis–Spirakis
      // exponential keys): key = u^(1/w) with weight w = quality and
      // u = (knuth(doc_id)+1)/2^32 — the top-k by key IS a w-proportional
      // sample. Same design rule as every sampler here: u comes from the
      // data's hash, not rand(), so the sample is reproducible across
      // runs/engines, and the selection is a row-local projection + one
      // TakeOrdered — no shuffle, no coordination, no rejection loop.
      // This is how "sample 100 docs biased toward quality" should run
      // at 100 TB (the unweighted twin is q_cur_sample_hash). round9
      // absorbs sub-ulp pow() differences across libm implementations.
      val sc = scored(s, d)
      sc.select(col("doc_id"), col("quality"),
        round(pow((knuth(col("doc_id")) + 1) / lit(4294967296.0),
          lit(1.0) / col("quality")), 9).as("skey"))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(100)
    },

    // --- balanced source mixing ------------------------------------------
    Q("q_cur_mix_langs",
      s"""WITH x AS (SELECT doc_id, lang, $KnuthSql AS h FROM documents),
         |c AS (SELECT MIN(cnt) AS target
         |      FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY lang)),
         |r AS (SELECT doc_id, lang,
         |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
         |      FROM x)
         |SELECT doc_id, lang, CAST(rn AS INT) AS rn
         |FROM r, c WHERE rn <= target ORDER BY lang, rn""".stripMargin) { (s, d) =>
      // Balanced language mixture: downsample every stratum to the size
      // of the SMALLEST one (uniform mixture; arbitrary target weights
      // are the same plan with a per-stratum quota instead of the min).
      // The quota is a 5-row aggregate broadcast into the filter; member
      // selection is the same deterministic hash rank as above, so the
      // mixture is reproducible and its complement (the held-out rows)
      // is well-defined. Same low-cardinality-window scale note as
      // q_cur_sample_stratified — quota + hash-threshold is the
      // sort-free 100 TB path.
      val byH = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      val target = t(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .agg(min("cnt").as("target"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), knuth(col("doc_id")).as("h"))
        .withColumn("rn", row_number().over(byH))
        .crossJoin(broadcast(target))
        .filter(col("rn") <= col("target"))
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy("lang", "rn")
    },

    // --- temperature-scaled language mixture ------------------------------
    Q("q_cur_mix_temperature",
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         |w AS (SELECT lang, ROUND(sqrt(CAST(n AS DOUBLE)), 9) AS w9 FROM c),
         |s AS (SELECT SUM(CAST(w9 AS DECIMAL(20,9))) AS sw FROM w),
         |q AS (SELECT lang, CAST(floor(200.0 * w9 / CAST(sw AS DOUBLE)) AS BIGINT) AS quota
         |      FROM w, s),
         |x AS (SELECT doc_id, lang, $KnuthSql AS h FROM documents),
         |r AS (SELECT doc_id, lang,
         |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
         |      FROM x)
         |SELECT doc_id, r.lang, CAST(rn AS INT) AS rn, quota
         |FROM r JOIN q ON r.lang = q.lang WHERE rn <= quota
         |ORDER BY r.lang, rn""".stripMargin) { (s, d) =>
      // Temperature-scaled mixture (the XLM-R/mT5 multilingual sampling
      // law, alpha = 0.5 ⇔ T = 2): per-language quota ∝ n_lang^alpha out
      // of a 200-doc budget, boosting low-resource strata without the
      // full flattening of q_cur_mix_langs' balanced mixture. Cross-
      // engine exactness of the quota math: sqrt is IEEE-correctly-
      // rounded in BOTH engines (unlike pow — that's why alpha is the
      // square root), round9 pins it, the normalizer sums as
      // DECIMAL(20,9) (order-independent), and the final scale/divide/
      // floor is the same IEEE double op sequence on identical inputs.
      // Selection is the same deterministic Knuth-hash rank as
      // q_cur_mix_langs, so the mixture is reproducible and quota math
      // is a |langs|-row broadcast — at 100 TB the corpus pays one count
      // pass and one rank pass, nothing else.
      val byH = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      val cnt = t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n"))
      val w = cnt.withColumn("w9", round(sqrt(col("n").cast("double")), 9))
      val sw = w.agg(sum(col("w9").cast(DecimalType(20, 9))).as("sw"))
      val quota = w.crossJoin(broadcast(sw))
        .select(col("lang"),
          floor(lit(200.0) * col("w9") / col("sw").cast("double")).cast("long").as("quota"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), knuth(col("doc_id")).as("h"))
        .withColumn("rn", row_number().over(byH))
        .join(broadcast(quota), "lang")
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("rn"), col("quota"))
        .orderBy("lang", "rn")
    },

    // --- UniMax language mixture (epoch-capped water-filling) -------------
    Q("q_cur_mix_unimax",
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         |o AS (SELECT lang, n,
         |        ROW_NUMBER() OVER (ORDER BY n, lang) AS k,
         |        COUNT(*) OVER () AS ll,
         |        SUM(n) OVER (ORDER BY n, lang ROWS UNBOUNDED PRECEDING) AS pk,
         |        SUM(n) OVER () AS btot
         |      FROM c),
         |sat AS (SELECT *, 72 * btot // 100 AS b,
         |          CASE WHEN n * (ll - k + 1) + (pk - n) <= 72 * btot // 100
         |               THEN 1 ELSE 0 END AS is_sat
         |        FROM o),
         |ks AS (SELECT COALESCE(MAX(CASE WHEN is_sat = 1 THEN k END), 0) AS kk,
         |         COALESCE(MAX(CASE WHEN is_sat = 1 THEN pk END), 0) AS pkk,
         |         MAX(ll) AS ll, MAX(b) AS b FROM sat),
         |q AS (SELECT sat.lang,
         |        CASE WHEN sat.k <= ks.kk THEN sat.n
         |             ELSE (ks.b - ks.pkk) // (ks.ll - ks.kk)
         |               + CASE WHEN sat.k - ks.kk <= (ks.b - ks.pkk) % (ks.ll - ks.kk)
         |                      THEN 1 ELSE 0 END
         |        END AS quota
         |      FROM sat, ks),
         |x AS (SELECT doc_id, lang, $KnuthSql AS h FROM documents),
         |r AS (SELECT doc_id, lang,
         |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
         |      FROM x)
         |SELECT doc_id, r.lang, CAST(rn AS INT) AS rn,
         |       CAST(quota AS BIGINT) AS quota
         |FROM r JOIN q ON r.lang = q.lang WHERE rn <= quota
         |ORDER BY r.lang, rn""".stripMargin) { (s, d) =>
      // UniMax mixture (the ICML'23 successor to temperature sampling):
      // allocate a fixed budget (72% of the corpus) as UNIFORMLY as
      // possible subject to a per-language epoch cap (here 1 epoch =
      // n_lang docs) — low-resource languages contribute their whole
      // stratum, the rest split the remainder evenly. The closed-form
      // water-filling replaces the iterative loop: sort languages by
      // capacity ascending; language k saturates iff serving every
      // remaining language at level c_k still fits the remaining budget
      // (c_k·(L−k+1) + P_{k−1} <= B — monotone in k, so the saturated
      // set is a prefix); unsaturated languages split B − P_K evenly
      // with the mod distributed to the smallest-capacity ones. ALL of
      // it is integer arithmetic on a |langs|-row frame — bit-identical
      // in both engines (no libm, unlike temperature's sqrt — this
      // query and q_cur_mix_temperature bracket the two published
      // mixture laws). The skewed lang marginal (en ≈ 3× the rest)
      // exercises the mixed saturated/unsaturated branch at every gate
      // SF. Scale: quota math is a |langs|-row window + one broadcast;
      // the corpus pays the same count pass + hash-rank pass as every
      // mixture here — the low-cardinality-window caveat and its
      // quota + hash-threshold 100 TB path apply verbatim.
      val byH = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      val wOrd = Window.orderBy(col("n"), col("lang"))
      val everything = Window.partitionBy()
      val o = t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("k", row_number().over(wOrd))
        .withColumn("ll", count(lit(1)).over(everything))
        .withColumn("pk", sum("n").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("btot", sum("n").over(everything))
      val sat = o
        .withColumn("b", expr("72 * btot div 100"))
        .withColumn("is_sat",
          when(col("n") * (col("ll") - col("k") + 1) + (col("pk") - col("n"))
            <= col("b"), 1).otherwise(0))
      val ks = sat.agg(
        coalesce(max(when(col("is_sat") === 1, col("k"))), lit(0)).as("kk"),
        coalesce(max(when(col("is_sat") === 1, col("pk"))), lit(0L)).as("pkk"),
        max("ll").as("ll2"), max("b").as("b2"))
      val quota = sat.crossJoin(broadcast(ks))
        .select(col("lang"),
          when(col("k") <= col("kk"), col("n"))
            .otherwise(expr("""(b2 - pkk) div (ll2 - kk)
              + IF(k - kk <= (b2 - pkk) % (ll2 - kk), 1, 0)"""))
            .as("quota"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), knuth(col("doc_id")).as("h"))
        .withColumn("rn", row_number().over(byH))
        .join(broadcast(quota), "lang")
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("rn"), col("quota"))
        .orderBy("lang", "rn")
    },

    // --- content-keyed train/val/test split -------------------------------
    Q("q_cur_split",
      s"""WITH $SplitCte
         |SELECT doc_id, lang, bucket, split FROM sp ORDER BY doc_id""".stripMargin) { (s, d) =>
      // See splitAssign: bucket = rolling_hash(text) % 100, 80/10/10.
      // Keying the split on CONTENT (not id, not rand()) is what makes it
      // leakage-safe for exact duplicates and stable when the corpus is
      // re-ingested with different ids — the split of a document never
      // changes unless its bytes do.
      splitAssign(s, d).orderBy("doc_id")
    },

    // --- leakage-FREE split: key the split on the near-dup cluster ---------
    Q("q_cur_split_leakfree",
      s"""WITH RECURSIVE ${PipelineQueries.ShingleOverlapCtes},
         |edges AS (SELECT i AS a, j AS b FROM jpairs UNION ALL SELECT j, i FROM jpairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
         |       FROM reach GROUP BY a),
         |$SplitCte,
         |al AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
         |SELECT al.doc_id, al.cluster_id, sp.split
         |FROM al JOIN sp ON al.cluster_id = sp.doc_id
         |ORDER BY al.doc_id""".stripMargin) { (s, d) =>
      // The content-keyed split (q_cur_split) makes exact-duplicate
      // leakage impossible but lets NEAR-duplicates straddle splits —
      // q_cur_leakage_audit exists to measure exactly that residue.
      // This variant eliminates it BY CONSTRUCTION: every member of a
      // near-dup cluster inherits the split of the cluster's canonical
      // member (min doc_id), whose CONTENT hash picks the bucket — so
      // the assignment is still stable under re-ingest (bytes decide,
      // not ids, not rand()) and whole paraphrase families move to one
      // side of the train/eval wall. Singletons keep their own content
      // bucket, i.e. degrade exactly to q_cur_split. Shape: clusters
      // come from the shared verified-pair checkpoint + label
      // propagation (vertex-scale); the corpus pays one row-local
      // bucket pass and one cluster_id-keyed join — CurationSpec pins
      // the audit result: zero cross-split near-dup pairs remain.
      val sp = splitAssign(s, d).select(col("doc_id"), col("split"))
      val cl = PipelineQueries.nearDupClusters(s, d)
      val al = t(s, d, "documents").select(col("doc_id"))
        .join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      al.join(sp.select(col("doc_id").as("cluster_id"), col("split")), "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("split"))
        .orderBy("doc_id")
    },

    // --- near-dup leakage audit across splits ------------------------------
    Q("q_cur_leakage_audit",
      s"""WITH ${PipelineQueries.ShingleOverlapCtes},
         |$SplitCte
         |SELECT p.i, p.j, p.jac, si.split AS split_i, sj.split AS split_j
         |FROM jpairs p JOIN sp si ON p.i = si.doc_id JOIN sp sj ON p.j = sj.doc_id
         |WHERE si.split <> sj.split ORDER BY i, j""".stripMargin) { (s, d) =>
      // The content-keyed split kills exact-duplicate leakage by
      // construction, but NEAR-duplicates hash to different buckets —
      // this is the audit every eval pipeline needs: verified near-dup
      // pairs (banded MinHash-LSH candidates, exact-jaccard verified —
      // the oracle's all-pairs scan would never survive 100 TB) joined
      // against the split assignment, keeping pairs that straddle
      // splits. Two keyed joins on doc_id; the pair set, not the corpus,
      // is what shuffles — and since round 11 the pair set is read from
      // the persisted LSH artifact, so this audit costs two edge-list
      // joins, not a corpus shingle pass (the round-10 verdict's 6.57 s
      // flag on this query came from rebuilding the pairs in-query).
      val sp = splitAssign(s, d).select(col("doc_id"), col("split"))
      PipelineQueries.minhashPairsShared(s, d)
        .join(sp.select(col("doc_id").as("i"), col("split").as("split_i")), "i")
        .join(sp.select(col("doc_id").as("j"), col("split").as("split_j")), "j")
        .filter(col("split_i") =!= col("split_j"))
        .select(col("i"), col("j"), col("jac"), col("split_i"), col("split_j"))
        .orderBy("i", "j")
    },

    // --- greedy token-budget selection -------------------------------------
    Q("q_cur_token_budget",
      s"""WITH $ScoredCte,
         |tot AS (SELECT 0.25 * SUM(n_tokens) AS budget FROM sc),
         |c AS (SELECT doc_id, quality, n_tokens,
         |        CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS cum_tokens
         |      FROM sc)
         |SELECT doc_id, quality, n_tokens, cum_tokens
         |FROM c, tot WHERE cum_tokens <= budget
         |ORDER BY quality DESC, doc_id""".stripMargin) { (s, d) =>
      // "Best documents first until the token budget is spent": rank by
      // quality, take the maximal prefix whose cumulative token count
      // fits 25% of the corpus. The oracle's global-window cumsum is a
      // single sequential scan; here the prefix sum is DISTRIBUTED:
      // range-repartition on the rank key (so partition p holds ranks
      // strictly above partition p+1; doc_id in the range key keeps a
      // quality tie from pinning one partition), per-partition token
      // totals (one tiny ≤|partitions|-row aggregate) become
      // per-partition offsets via a window over that metadata-sized
      // frame, and each partition then cumsums locally — two passes, no
      // global single-task window, exact. The scored frame is persisted
      // so both passes read the SAME partition assignment (at 100 TB: a
      // checkpoint). Plan note: the intra-partition window re-shuffles
      // on hashpartitioning(pid) even though the range exchange already
      // co-located rows by pid — Catalyst has no way to declare that
      // distribution. A sortWithinPartitions + mapPartitions running
      // sum would shuffle once; kept declarative per the brief's
      // preference order — the dominant cost either way is the range
      // sort, and the extra exchange keys on a 32-value int.
      val sc = scored(s, d)
      val budget = sc.agg((sum("n_tokens") * lit(0.25)).as("budget"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val ranged = sc
        .repartitionByRange(parts, col("quality").desc, col("doc_id"))
        .withColumn("pid", spark_partition_id())
      val offsW = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = ranged.groupBy("pid").agg(sum("n_tokens").as("ptok"))
        .withColumn("off", coalesce(sum("ptok").over(offsW), lit(0L)))
        .select("pid", "off")
      val intraW = Window.partitionBy("pid")
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Qh.materializedWith(ranged)(
        ranged
          .join(broadcast(offsets), "pid")
          .withColumn("cum_tokens", col("off") + sum("n_tokens").over(intraW))
          .crossJoin(broadcast(budget))
          .filter(col("cum_tokens") <= col("budget"))
          .select(col("doc_id"), col("quality"), col("n_tokens"), col("cum_tokens"))
          .orderBy(col("quality").desc, col("doc_id")))
    },

    // --- sequence packing: concat-and-chunk into fixed context windows --
    Q("q_cur_pack_sequences",
      PackSequencesSql) { (s, d) =>
      // SEQUENCE PACKING — the concat-and-chunk step every LLM
      // pretraining pipeline runs between curation and the data loader:
      // concatenate all documents in a deterministic order (doc_id) and
      // chunk the token stream into fixed 256-token context windows;
      // emit each document's byte-map into that stream (global token
      // offset, first/last window it lands in, how many windows it
      // spans). Zero padding waste by construction — the fill ratio is
      // 100% except the final window — which is why big pretraining
      // runs chunk rather than bin-pack. The whole operator is one
      // GLOBAL PREFIX SUM over doc_id order, distributed exactly like
      // q_cur_token_budget's: range-repartition on doc_id, per-partition
      // token totals (a ≤|partitions|-row frame) become partition
      // offsets via one metadata-sized window, then each partition
      // cumsums locally — two passes, no single-task global window, no
      // driver loop, exact at any corpus size (PlanShapeSpec pins the
      // shape on the checkpoint's executed plan). The oracle is the
      // sequential spelling of the same sum.
      val (ranged, mapped) = packMap(s, d)
      Qh.materializedWith(ranged)(
        mapped
          .select(col("doc_id"), col("n_tokens"), col("tok_start"),
            expr("tok_start div 256").as("seq_first"),
            expr("(tok_start + n_tokens - 1) div 256").as("seq_last"),
            expr("(tok_start + n_tokens - 1) div 256 - tok_start div 256 + 1")
              .as("n_seqs"))
          .orderBy("doc_id"))
    },

    // --- packed-window manifest: the loader-side view of the packing ----
    Q("q_cur_pack_stats",
      s"""WITH $PackCtes,
        |sp AS (SELECT doc_id, n_tokens, tok_start,
        |         unnest(range(CAST(tok_start // 256 AS BIGINT),
        |                      CAST((tok_start + n_tokens - 1) // 256 + 1 AS BIGINT))) AS seq_id
        |       FROM c)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN tok_start >= seq_id * 256 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs_starting,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        |  CAST(SUM(LEAST(tok_start + n_tokens, (seq_id + 1) * 256)
        |           - GREATEST(tok_start, seq_id * 256)) AS BIGINT) AS n_tok_filled
        |FROM sp GROUP BY seq_id ORDER BY seq_id LIMIT 500""".stripMargin) { (s, d) =>
      // The manifest a training data-loader reads: per 256-token packed
      // window, how many documents contribute, how many START here
      // (attention-mask segment resets), the first contributing doc
      // (seek anchor), and the window FILL — the summed per-doc overlap,
      // exactly 256 for every window but the last by the gap-free
      // construction; emitting the sum certifies it in-plan rather than
      // trusting it (CurationSpec asserts == min(256, total − seq·256)
      // per window from scratch). Built from the same
      // distributed prefix sum as q_cur_pack_sequences, then each doc
      // EXPLODES into only the windows it overlaps (sequence(first,
      // last) — total explode size = total windows + boundary
      // crossings, ~corpus/256 rows, never corpus × windows) and one
      // seq_id-keyed aggregation. LIMIT 500 keeps the gate row set
      // bounded; the full manifest is the unlimited form.
      val (ranged, mapped) = packMap(s, d)
      Qh.materializedWith(ranged)(
        mapped
          .select(col("doc_id"), col("n_tokens"), col("tok_start"),
            explode(expr(
              "sequence(tok_start div 256, (tok_start + n_tokens - 1) div 256)"))
              .as("seq_id"))
          .groupBy("seq_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("tok_start") >= col("seq_id") * 256, 1L).otherwise(0L))
              .as("n_docs_starting"),
            min("doc_id").as("first_doc"),
            sum(least(col("tok_start") + col("n_tokens"), (col("seq_id") + 1) * 256)
              - greatest(col("tok_start"), col("seq_id") * 256)).as("n_tok_filled"))
          .orderBy("seq_id")
          .limit(500))
    },

    // --- shard-export manifest with integrity fingerprints ---------------
    Q("q_cur_shard_manifest",
      s"""WITH st AS (SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         $RollSql AS h
         |       FROM documents),
         |sc AS (SELECT doc_id, n_tokens, h,
         |         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
         |       FROM st)
         |SELECT CAST(tok_start // 4096 AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         |  CAST(MAX(doc_id) AS BIGINT) AS last_doc,
         |  CAST(SUM(CAST(h AS HUGEINT)) % 1000000007 AS BIGINT) AS fingerprint
         |FROM sc GROUP BY 1 ORDER BY shard""".stripMargin) { (s, d) =>
      // The EXPORT step that closes the curation pipeline: assign every
      // document to a fixed-budget training shard (4096 tokens here;
      // a doc belongs to the shard where its first token lands, so
      // shard boundaries follow the SAME doc_id-ordered global prefix
      // sum as q_cur_pack_sequences — packer and exporter can never
      // disagree about placement) and emit the manifest a downstream
      // trainer verifies before reading: per shard, doc/token counts,
      // the [first_doc, last_doc] doc_id range (contiguous by
      // construction — the seek index), and an INTEGRITY FINGERPRINT =
      // Σ rolling_hash(text) mod 1e9+7 over member docs. The
      // fingerprint is order-independent (modular sum) and engine-
      // independent (the q_text_fingerprint hash family), so a
      // re-export on a different cluster layout — or a different
      // engine, which is what the DuckDB hash-match proves — yields
      // bit-identical manifests; any corrupted/dropped doc changes the
      // shard's line. Summands are lifted to DECIMAL(38,0)/HUGEINT
      // before summing (h < 1e9+7 but Σ over ~1e10 docs passes 9.2e18
      // — the d_milli overflow convention). Shape: the prefix sum is
      // the distributed two-pass range-partition machinery (packMap);
      // the hash join is doc_id-keyed; the manifest agg collapses
      // map-side to shard-count rows.
      val (ranged, mapped) = packMap(s, d)
      val hashes = t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.RollingHash.rolling_hash(col("text")).as("h"))
      Qh.materializedWith(ranged)(
        mapped.join(hashes, "doc_id")
          .select(expr("tok_start div 4096").as("shard"),
            col("doc_id"), col("n_tokens"), col("h"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("n_tokens"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"),
            expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 1000000007 AS BIGINT)")
              .as("fingerprint"))
          .orderBy("shard"))
    },

    // --- robust per-source outlier gate (median / MAD, exact integer) ---
    Q("q_cur_mad_outliers",
      """WITH vc AS (SELECT source, n_chars AS x, CAST(COUNT(*) AS BIGINT) AS c
        |            FROM documents GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY 1),
        |k AS (SELECT source, n, (n + 1) // 2 AS k1, (n + 2) // 2 AS k2 FROM ns),
        |cum AS (SELECT source, x, c,
        |          SUM(c) OVER (PARTITION BY source ORDER BY x) AS f FROM vc),
        |med AS (SELECT cum.source,
        |          MIN(CASE WHEN f >= k1 THEN x END)
        |          + MIN(CASE WHEN f >= k2 THEN x END) AS med2
        |        FROM cum JOIN k USING (source) GROUP BY cum.source),
        |dc AS (SELECT vc.source, ABS(2 * x - med2) AS dv, CAST(SUM(c) AS BIGINT) AS c
        |       FROM vc JOIN med USING (source) GROUP BY 1, 2),
        |dcum AS (SELECT source, dv, c,
        |           SUM(c) OVER (PARTITION BY source ORDER BY dv) AS f FROM dc),
        |dm AS (SELECT dcum.source,
        |         MIN(CASE WHEN f >= k1 THEN dv END)
        |         + MIN(CASE WHEN f >= k2 THEN dv END) AS mad4
        |       FROM dcum JOIN k USING (source) GROUP BY dcum.source),
        |o AS (SELECT dc.source,
        |        CAST(SUM(CASE WHEN 2 * dv > 3 * mad4 THEN c ELSE 0 END) AS BIGINT) AS n_outliers
        |      FROM dc JOIN dm USING (source) GROUP BY 1)
        |SELECT source, n AS n_docs,
        |  CAST(med2 AS BIGINT) AS median_x2, CAST(mad4 AS BIGINT) AS mad_x4,
        |  n_outliers, CAST((1000000 * n_outliers) // n AS BIGINT) AS outlier_ppm
        |FROM ns JOIN med USING (source) JOIN dm USING (source) JOIN o USING (source)
        |ORDER BY source""".stripMargin) { (s, d) =>
      // Robust per-source outlier gate — median/MAD instead of
      // mean/stddev, the quality screen that survives exactly the
      // contamination it hunts (one batch of 10 MB pages drags a mean
      // gate's own threshold; the median doesn't move). EXACT and
      // all-integer on the doubled scale: the sum of the two central
      // order statistics IS 2·median with no interpolation float
      // (med2 = x@⌈n/2⌉ + x@⌈(n+1)/2⌉), deviations |2x − med2| =
      // 2|x − med| stay integers, mad4 = 2·(2·MAD) by the same trick,
      // and the flag |x−med| > 3·MAD is the pure-integer 2·dv > 3·mad4.
      // Scale shape (the q_agg_ks economics): ONE map-side-collapsed
      // (source, value) count pass, then every median/deviation/flag
      // computation runs on the VALUE-DISTINCT frame — cumulative
      // windows partitioned by source over the value support, never the
      // corpus; the corpus itself is touched exactly once. At 100 TB an
      // unbounded-support score pre-buckets to quantile cells first,
      // like the KS monitor.
      madOutliers(s, d)
    },

    // --- data-constrained epoch / repetition schedule -------------------
    Q("q_cur_epochs",
      """WITH t AS (SELECT source,
        |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
        |       FROM documents GROUP BY source),
        |g AS (SELECT CAST(2 * SUM(tok) AS BIGINT) AS budget,
        |        COUNT(*) AS ns FROM t),
        |a1 AS (SELECT source, tok, budget // ns AS base,
        |         LEAST(2 * tok, budget // ns) AS alloc1 FROM t, g),
        |su AS (SELECT CAST(SUM(base - alloc1) AS BIGINT) AS surplus,
        |         CAST(SUM(CASE WHEN alloc1 < 2 * tok THEN tok ELSE 0 END)
        |           AS BIGINT) AS utok
        |       FROM a1),
        |f AS (SELECT source, tok,
        |        CASE WHEN alloc1 < 2 * tok AND utok > 0
        |          THEN LEAST(2 * tok, alloc1 + (surplus * tok) // utok)
        |          ELSE alloc1 END AS alloc
        |      FROM a1, su)
        |SELECT source, tok AS n_tokens,
        |  CAST(alloc AS BIGINT) AS alloc_tokens,
        |  CAST((1000 * alloc) // tok AS BIGINT) AS epochs_milli,
        |  alloc = 2 * tok AS capped
        |FROM f ORDER BY source""".stripMargin) { (s, d) =>
      // Data-constrained repetition schedule (the "how many epochs of
      // each source under this token budget" table a 100 TB pretraining
      // run plans with): target an EQUAL share of the 2×-unique-tokens
      // budget per source, cap any source at `capEpochs` epochs of its
      // unique tokens (the diminishing-returns bound from
      // data-constrained scaling studies — repetition beyond a few
      // epochs buys little; ~4 is the usual production knob, 2 here so
      // the near-uniform gate corpus exercises ALL THREE branches: cap,
      // surplus redistribution, and post-redistribution clamp), then
      // redistribute the capped sources' unspent share to the uncapped
      // ones proportionally to their size, one documented round, final
      // clamp at the cap. ALL integer arithmetic on positive operands
      // (token counts, floor divisions) — bit-identical across engines
      // and merge orders. Shape: one (source)-keyed map-side-partial
      // count of the corpus, then |sources|-row math with the
      // budget/surplus scalars as driver model state (the BM25
      // convention) — the corpus is scanned exactly once.
      epochSchedule(
        t(s, d, "documents")
          .groupBy("source")
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("tok")),
        capEpochs = 2L, budgetMult = 2L)
    },

    // --- keep-best canonical dedup over near-dup clusters -------------------
    Q("q_cur_keep_best",
      s"""WITH RECURSIVE ${PipelineQueries.ShingleOverlapCtes},
         |edges AS (SELECT i AS a, j AS b FROM jpairs UNION ALL SELECT j, i FROM jpairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
         |$ScoredCte,
         |ranked AS (
         |  SELECT cl.cluster_id, cl.doc_id, sc.quality,
         |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
         |                       ORDER BY sc.quality DESC, cl.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY cl.cluster_id) AS nm
         |  FROM cl JOIN sc ON cl.doc_id = sc.doc_id)
         |SELECT cluster_id, doc_id AS keep_id, quality, CAST(nm AS INT) AS n_members
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
      // Dedup that keeps the BEST representative, not the first seen:
      // connected components over verified near-dup pairs (shared
      // label-propagation core with q_dedup_clusters), then one window
      // per cluster keeps the highest-quality member (doc_id tiebreak).
      // Cluster ids are high-cardinality, so the window partitions
      // finely — no skew. Docs with no near-dup keep themselves
      // trivially (not re-listed here; this is the interesting subset).
      val clusters = PipelineQueries.nearDupClusters(s, d)
      val byBest = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
      val grp = Window.partitionBy("cluster_id")
      clusters.join(scored(s, d).select("doc_id", "quality"), "doc_id")
        .withColumn("rn", row_number().over(byBest))
        .withColumn("n_members", count(lit(1)).over(grp).cast("int"))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("quality"), col("n_members"))
        .orderBy("cluster_id")
    },

    // --- duplication-aware sampling weights (soft dedup) ------------------
    Q("q_cur_soft_dedup",
      s"""WITH RECURSIVE ${PipelineQueries.ShingleOverlapCtes},
        |edges AS (SELECT i AS a, j AS b FROM jpairs UNION ALL SELECT j, i FROM jpairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
        |cs AS (SELECT cluster_id, COUNT(*) AS csize FROM cl GROUP BY cluster_id),
        |dt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tok
        |       FROM documents)
        |SELECT dt.doc_id,
        |  COALESCE(cl.cluster_id, dt.doc_id) AS cluster_id,
        |  CAST(COALESCE(cs.csize, 1) AS BIGINT) AS csize,
        |  ROUND(1.0 / COALESCE(cs.csize, 1), 9) AS weight,
        |  ROUND(dt.n_tok::DOUBLE / COALESCE(cs.csize, 1), 9) AS eff_tok
        |FROM dt LEFT JOIN cl ON dt.doc_id = cl.doc_id
        |LEFT JOIN cs ON cl.cluster_id = cs.cluster_id
        |ORDER BY dt.doc_id""".stripMargin) { (s, d) =>
      // Soft dedup: instead of DROPPING near-duplicates (q_cur_keep_best)
      // or keeping them at full weight, keep every document with a
      // sampling weight 1/|cluster| — each near-dup GROUP contributes
      // exactly one document's worth of probability mass to the training
      // mixture, so duplicated content isn't over-represented but its
      // per-copy variation (the reason near-dups aren't exact dups) is
      // still reachable. Every doc also reports its effective token
      // contribution n_tok/|cluster| — summing eff_tok gives the
      // DEDUPLICATED corpus size without deleting a row. weight is
      // round9 of an integer reciprocal, identical in both engines.
      // Shape for 100 TB: the cluster pass IS q_dedup_clusters (banded
      // LSH candidates, bounded buckets, one (vertex,label) shuffle per
      // propagation round); csize is one count over the vertex-scale
      // cluster frame, joined back on cluster_id (vertex-scale, never
      // corpus-scale); the docs side pays one row-local token-count
      // pass and two keyed joins. Singletons (docs with no near-dup,
      // including <3-word docs that cannot shingle) never enter the
      // graph — the left joins default them to csize 1, weight 1.
      val cl = PipelineQueries.nearDupClusters(s, d)
      val cs = cl.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      t(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("int").as("n_tok"))
        .join(cl, Seq("doc_id"), "left")
        .join(cs, Seq("cluster_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("csize"), lit(1L)).as("csize"),
          round(lit(1.0) / coalesce(col("csize"), lit(1L)), 9).as("weight"),
          round(col("n_tok").cast("double") / coalesce(col("csize"), lit(1L)), 9)
            .as("eff_tok"))
        .orderBy("doc_id")
    },

    // --- benchmark decontamination audit -------------------------------------
    Q("q_cur_decontaminate",
      s"""WITH $ContaminationCtes
         |SELECT doc_id, eval_id, CAST(n_overlap AS INT) AS n_overlap,
         |  ROUND(n_overlap::DOUBLE / n_eval_sh, 9) AS overlap_frac
         |FROM ov ORDER BY doc_id, eval_id""".stripMargin) { (s, d) =>
      // Benchmark decontamination (the GPT-3/PaLM-style n-gram audit):
      // find training docs sharing >= 5 distinct word 3-grams with any
      // doc of the eval set (stand-in: source 'src0'), reporting the
      // overlap count and the fraction of the eval doc covered. On this
      // corpus the signal is cleanly bimodal — real contamination shares
      // 30+ shingles, incidental phrase collisions 1-3 — so the >=5 rule
      // is the published "N overlapping n-grams" test, not a tuned knob.
      // THE scale property: the eval suite is MBs while the corpus is
      // 100 TB, so the eval shingle set is BROADCAST — the corpus side
      // is one scan + map-side hash semi-match with NO corpus-wide
      // shuffle; only matching (doc, eval, shingle) hits reach the
      // (high-cardinality) groupBy. PlanShapeSpec pins the broadcast.
      contaminationPairs(s, d)
        .select(col("doc_id"), col("eval_id"), col("n_overlap").cast("int").as("n_overlap"),
          round(col("n_overlap").cast("double") / col("n_eval_sh"), 9).as("overlap_frac"))
        .orderBy("doc_id", "eval_id")
    },

    // --- quantile-threshold quality gate -------------------------------------
    Q("q_cur_quality_gate",
      s"""WITH $ScoredCte,
         |th AS (SELECT ROUND(quantile_cont(quality, 0.9), 9) AS thr FROM sc)
         |SELECT sc.doc_id, sc.quality, sc.n_tokens, th.thr
         |FROM sc, th WHERE sc.quality >= th.thr ORDER BY sc.doc_id""".stripMargin) { (s, d) =>
      // "Keep the top decile by quality": threshold = exact interpolated
      // P90 of the quality score, then a row-local filter against the
      // broadcast scalar. Spark's exact `percentile` buffers per-group
      // values, fine for one scalar at gate SF but memory-bound at
      // 100 TB — the scale path is approx_percentile (a fixed-size
      // sketch with map-side merge); CurationSpec pins the sketch to
      // within 1% of this exact threshold, same exact-twin pattern as
      // the weighted-percentile pair.
      val sc = scored(s, d)
      val thr = sc.agg(round(expr("percentile(quality, 0.9D)"), 9).as("thr"))
      sc.crossJoin(broadcast(thr))
        .filter(col("quality") >= col("thr"))
        .select(col("doc_id"), col("quality"), col("n_tokens"), col("thr"))
        .orderBy("doc_id")
    },

    // --- per-language quality calibration (percentile ranks) --------------
    Q("q_cur_quality_calibrate",
      """WITH x AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS w FROM documents),
        |q AS (SELECT doc_id, lang,
        |        ROUND(0.5 * LEAST(n_chars / 400.0, 1.0)
        |              + 0.5 * LEAST(len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'is')))::DOUBLE
        |                            / len(w) * 10, 1.0), 9) AS quality
        |      FROM x)
        |SELECT doc_id, lang, quality,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality, doc_id), 9) AS pct,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality, doc_id), 9) >= 0.7 AS keep
        |FROM q ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Cross-lingual threshold calibration: raw quality scores are NOT
      // comparable across languages (stopword lists, length norms and
      // scorer quality all differ by language), so one global cut like
      // q_cur_quality_gate's P90 would over-prune whichever language the
      // scorer dislikes. The standard fix: replace each score by its
      // PERCENTILE RANK WITHIN ITS LANGUAGE, making "keep the top 30%"
      // mean the same thing in every stratum. Determinism: percent_rank
      // = (rank-1)/(n-1) over a total order — ties on the round9'd
      // quality are broken by doc_id, so ranks are exact integers in
      // both engines and the single division is round9'd; `keep`
      // compares that rounded value, never the raw double. Shape for
      // 100 TB: this window partitions by `lang` — few huge partitions,
      // the documented low-cardinality-window caveat (same as the
      // mixture family); the scale path is the distributed two-pass
      // rank of q_cur_token_budget (range-repartition by (lang,
      // quality) + per-partition offsets + one broadcast of per-lang
      // totals), which computes identical ranks with no hot partition.
      val q = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("lang"),
          qualityOf(col("n_chars"), col("w")).as("quality"))
      val byQ = Window.partitionBy("lang").orderBy(col("quality"), col("doc_id"))
      q.withColumn("pct", round(percent_rank().over(byQ), 9))
        .withColumn("keep", col("pct") >= 0.7)
        .orderBy("doc_id")
    },

    // --- curriculum staging (easy→hard training order) ------------------
    Q("q_cur_curriculum",
      """WITH x AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS w FROM documents),
        |q AS (SELECT doc_id, lang,
        |        ROUND(0.5 * LEAST(n_chars / 400.0, 1.0)
        |              + 0.5 * LEAST(len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'is')))::DOUBLE
        |                            / len(w) * 10, 1.0), 9) AS quality,
        |        CAST(len(w) AS INT) AS n_tokens
        |      FROM x)
        |SELECT doc_id, lang, quality, n_tokens,
        |  CAST(NTILE(4) OVER (PARTITION BY lang
        |       ORDER BY quality DESC, n_tokens, doc_id) AS INT) AS stage
        |FROM q ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Curriculum assignment (Bengio et al. 2009 applied to pretraining
      // data ordering): within each language, rank documents easiest →
      // hardest (clean high-quality short docs first, noisy long docs
      // last) and cut the ranking into 4 equal-size stages — the
      // data-loader then feeds stage 1 before stage 2, etc. Difficulty
      // here = (quality DESC, n_tokens ASC), the same verbatim quality
      // formula as q_text_quality/q_cur_quality_calibrate so curriculum
      // and gating decisions agree; doc_id completes the total order so
      // NTILE boundaries are engine-exact (both engines implement the
      // SQL-standard ntile over identical orderings). Shape for 100 TB:
      // one window partitioned by lang — the documented low-cardinality
      // caveat shared with the calibrate/mixture family; the scale path
      // is the q_cur_token_budget two-pass distributed rank (stage =
      // rank * 4 div n per lang), identical assignment, no hot
      // partition.
      val q = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("lang"),
          qualityOf(col("n_chars"), col("w")).as("quality"),
          size(col("w")).cast("int").as("n_tokens"))
      val byDifficulty = Window.partitionBy("lang")
        .orderBy(col("quality").desc, col("n_tokens"), col("doc_id"))
      q.withColumn("stage", ntile(4).over(byDifficulty).cast("int"))
        .orderBy("doc_id")
    },

    // --- end-to-end curation pipeline ----------------------------------------
    Q("q_cur_end2end",
      s"""WITH $ScoredCte,
         |${PipelineQueries.RepetitionCtes},
         |$ContaminationCtes,
         |$SplitCte
         |SELECT sp.lang, sp.split,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(sc.n_tokens) AS BIGINT) AS sum_tokens
         |FROM documents d
         |JOIN sc ON d.doc_id = sc.doc_id
         |JOIN rep ON d.doc_id = rep.doc_id
         |JOIN sp ON d.doc_id = sp.doc_id
         |WHERE d.source <> 'src0'
         |  AND sc.quality >= 0.5
         |  AND NOT rep.repetitive
         |  AND d.doc_id NOT IN (SELECT doc_id FROM ov)
         |GROUP BY sp.lang, sp.split
         |ORDER BY sp.lang, sp.split""".stripMargin) { (s, d) =>
      // The whole curation pipeline as ONE declarative plan: corpus-only
      // docs, quality gate, repetition filter, decontamination exclusion,
      // content-keyed split, per-(lang, split) rollup. Each stage is the
      // already-verified operator (scored / repetitionSignals /
      // contaminationPairs / splitAssign) composed by doc_id-keyed joins
      // — high-cardinality keys, co-partitioned after the first
      // exchange; the contamination exclusion is a left-anti against a
      // pair set that is tiny by construction; the rollup output is
      // |langs × splits|. Composing verified parts instead of a
      // monolith is itself the 100 TB story: every intermediate is
      // independently testable and the optimizer sees one tree.
      val docs = t(s, d, "documents").filter(col("source") =!= "src0")
        .select("doc_id", "lang")
      val keep = docs
        .join(scored(s, d).filter(col("quality") >= 0.5), "doc_id")
        .join(PipelineQueries.repetitionSignals(s, d).filter(!col("repetitive"))
          .select("doc_id"), "doc_id")
        .join(contaminationPairs(s, d).select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        .join(splitAssign(s, d).select("doc_id", "split"), "doc_id")
      // NOT persisted: the stage operators re-scan documents (8 pruned
      // columnar scans); caching this raw scan measured 26% SLOWER at
      // sf0.1 (see Qh.persisting).
      keep.groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("lang", "split")
    },

    // --- sequence packing for pretraining batches ----------------------------
    Q("q_cur_pack",
      s"""WITH sc AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |              lang, $KnuthSql AS h FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id) AS cum FROM sc)
         |SELECT lang, CAST(FLOOR((cum - n_tokens) / 512) AS BIGINT) AS bin_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY lang, bin_id ORDER BY lang, bin_id""".stripMargin) { (s, d) =>
      // Sequence packing (concat-then-chunk, the standard pretraining
      // batcher): per language stream, documents are concatenated in
      // deterministic hash order and cut into 512-token chunks; each doc
      // is attributed to the chunk its FIRST token lands in, so chunk
      // assignment is a pure function of the cumulative token count —
      // reproducible across engines/runs, no rand(), no partition-layout
      // dependence. One window per lang computes the running offset;
      // `lang` is low-cardinality, so at 100 TB the offset pass is the
      // distributed two-pass prefix sum q_cur_token_budget demonstrates
      // (range repartition + per-partition offsets), per stratum.
      val byH = Window.partitionBy("lang")
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("int").as("n_tokens"),
          knuth(col("doc_id")).as("h"))
        .withColumn("cum", sum("n_tokens").over(byH))
        .withColumn("bin_id", floor((col("cum") - col("n_tokens")) / 512).cast("long"))
        .groupBy("lang", "bin_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("sum_tokens"))
        .orderBy("lang", "bin_id")
    },

    // --- per-domain caps (keep best N docs per source) -----------------------
    Q("q_cur_domain_cap",
      s"""WITH $ScoredCte,
         |j AS (SELECT d.source, sc.doc_id, sc.quality
         |      FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
         |r AS (SELECT source, doc_id, quality,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |                           ORDER BY quality DESC, doc_id) AS rn
         |      FROM j)
         |SELECT source, doc_id AS keep_id, quality, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= 5 ORDER BY source, rn""".stripMargin) { (s, d) =>
      // Per-domain caps (the Common-Crawl-style anti-boilerplate rule:
      // no source may dominate the corpus): keep the best 5 docs per
      // source by quality. Executed with the bounded-heap TopKAggregator
      // — map-side partials reduce every partition to ≤5 (quality, id)
      // pairs per source BEFORE the exchange, so the shuffle carries
      // 5·partitions·|sources| rows, not the corpus. The oracle's window
      // spelling (sort every source's rows) is what this replaces: at
      // 100 TB a mega-domain would pin one sort task; the heap is O(5)
      // memory per group regardless of domain size. Tie semantics
      // (quality DESC, doc_id ASC) match the aggregator's built-in
      // smaller-id tiebreak.
      val topk = udaf(new graft.functions.TopKAggregator(5),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
      t(s, d, "documents").select(col("doc_id"), col("source"))
        .join(scored(s, d).select("doc_id", "quality"), "doc_id")
        .groupBy("source")
        .agg(topk(col("quality"), col("doc_id")).as("arr"))
        .select(col("source"), posexplode(col("arr")).as(Seq("pos", "p")))
        .select(col("source"), col("p._2").as("keep_id"), col("p._1").as("quality"),
          (col("pos") + 1).cast("bigint").as("rn"))
        .orderBy("source", "rn")
    },

    // --- PII redaction with per-doc accounting -------------------------------
    Q("q_cur_pii",
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or call 555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z.]+[a-z]')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z.]+[a-z]', '<EMAIL>', 'g'),
        |                 '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      // PII scrub — the compliance pass every released corpus needs:
      // redact email/phone shapes and RECORD how many of each were
      // removed per document (silent redaction is unauditable). The
      // corpus text is synthetic word soup, so deterministic PII-shaped
      // strings are appended in-query first; patterns stay in the
      // POSIX-class subset that Java regex and RE2 interpret identically
      // (greedy classes, no lookaround), which is what makes the exact
      // cross-engine oracle possible. Purely row-local — no shuffle, no
      // state; at 100 TB this runs at scan speed alongside ingest, the
      // same place DocStreams applies its curation filters.
      val email = "[a-z0-9]+@[a-z.]+[a-z]"
      val phone = "555-[0-9]{4}"
      val aug = t(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" now")).as("t"))
      aug.select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(email), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phone), lit(0))).as("n_phones"),
        regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
          phone, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    },

    // --- incremental snapshot upsert (SCD1 merge) ----------------------------
    Q("q_cur_upsert",
      """WITH upd AS (
        |  SELECT doc_id, lang, source, text || ' rev2' AS text
        |  FROM documents WHERE doc_id % 7 = 0),
        |ins AS (
        |  SELECT doc_id + 1000000 AS doc_id, lang, source,
        |         'new doc ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
        |  FROM documents WHERE doc_id % 11 = 0),
        |delta AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |merged AS (
        |  SELECT d.doc_id, d.lang, d.source, d.text, 1 AS version FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM delta)
        |  UNION ALL
        |  SELECT doc_id, lang, source, text, 2 AS version FROM delta)
        |SELECT doc_id, lang, source, CAST(version AS INT) AS version,
        |       CAST(length(text) AS BIGINT) AS n_chars
        |FROM merged ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Incremental corpus refresh — MERGE INTO semantics (SCD1) without
      // a table format: a delta of updated rows (same key, new text) and
      // inserted rows (new keys) replaces/extends the base snapshot.
      // Composition: base ANTI JOIN delta-keys ∪ delta — ONE doc_id-keyed
      // join, and since deltas are small relative to the snapshot the
      // anti join broadcasts the delta key set, so the 100 TB base never
      // shuffles; this is how every nightly corpus rebuild should look
      // (full rewrite = the strawman). The streaming twin is the
      // idempotent foreachBatch upsert sink in EventStreams. Output
      // pins per-row content via exact text length + version lineage.
      val base = t(s, d, "documents").select("doc_id", "lang", "source", "text")
      val upd = base.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" rev2")))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("lang"), col("source"),
          concat(lit("new doc "), col("doc_id").cast("string"), lit(" "), col("text")).as("text"))
      val delta = upd.unionByName(ins).withColumn("version", lit(2))
      val merged = base.withColumn("version", lit(1))
        .join(broadcast(delta.select("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(delta)
      merged.select(col("doc_id"), col("lang"), col("source"),
        col("version").cast("int").as("version"),
        length(col("text")).cast("bigint").as("n_chars"))
        .orderBy("doc_id")
    },

    // --- CDC changelog apply (MERGE with deletes) -----------------------
    Q("q_cur_merge_cdc",
      """WITH del AS (SELECT doc_id, 'D' AS op FROM documents WHERE doc_id % 17 = 0),
        |upd AS (SELECT doc_id, 'U' AS op, lang, source, text || ' patched' AS text
        |        FROM documents WHERE doc_id % 5 = 0 AND doc_id % 17 <> 0),
        |ins AS (SELECT doc_id + 1000000000000 AS doc_id, 'I' AS op, lang, source,
        |          'cdc insert ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
        |        FROM documents WHERE doc_id % 23 = 0),
        |keys AS (SELECT doc_id FROM del UNION ALL SELECT doc_id FROM upd
        |         UNION ALL SELECT doc_id FROM ins),
        |merged AS (
        |  SELECT d.doc_id, d.lang, d.source, d.text, 'kept' AS status FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM keys)
        |  UNION ALL
        |  SELECT doc_id, lang, source, text, 'updated' FROM upd
        |  UNION ALL
        |  SELECT doc_id, lang, source, text, 'inserted' FROM ins)
        |SELECT doc_id, lang, source, status,
        |       CAST(length(text) AS BIGINT) AS n_chars
        |FROM merged ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Full CDC-changelog apply — MERGE with ALL THREE actions (the
      // q_cur_upsert shape plus the one it lacks: DELETE tombstones).
      // This is the batch face of a Debezium/binlog consumer: a
      // changelog of I/U/D ops keyed by doc_id replaces, extends, and
      // RETIRES rows of the base snapshot in one pass. Composition:
      // base ANTI JOIN all-changed-keys (deletes simply never come
      // back) ∪ updates ∪ inserts — still ONE broadcast anti join
      // against the delta key set, so the 100 TB base never shuffles
      // and a tombstone costs exactly as much as an update. Per-row
      // lineage rides out as status + exact new length. GDPR-erasure
      // note: the tombstoned rows are gone from the result snapshot,
      // not masked.
      val base = t(s, d, "documents").select("doc_id", "lang", "source", "text")
      val del = base.filter(col("doc_id") % 17 === 0).select("doc_id")
      val upd = base.filter(col("doc_id") % 5 === 0 && col("doc_id") % 17 =!= 0)
        .withColumn("text", concat(col("text"), lit(" patched")))
        .withColumn("status", lit("updated"))
      // Insert-key offset 10^12: far above any doc_id the ×M derived
      // corpora can reach (doc_id = orig + copy×n crosses 2e6 at modest
      // multipliers but never 1e12 in-sandbox), so synthesized insert
      // ids can never collide with base ids and silently anti-join away
      // unrelated 'kept' rows (round-9 ADVICE).
      val ins = base.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 1000000000000L).as("doc_id"), col("lang"), col("source"),
          concat(lit("cdc insert "), col("doc_id").cast("string"), lit(" "),
            col("text")).as("text"))
        .withColumn("status", lit("inserted"))
      val changedKeys = del.unionByName(upd.select("doc_id")).unionByName(ins.select("doc_id"))
      base.withColumn("status", lit("kept"))
        .join(broadcast(changedKeys), Seq("doc_id"), "left_anti")
        .unionByName(upd).unionByName(ins)
        .select(col("doc_id"), col("lang"), col("source"), col("status"),
          length(col("text")).cast("bigint").as("n_chars"))
        .orderBy("doc_id")
    },

    // --- SCD2 history-preserving upsert ---------------------------------
    Q("q_cur_scd2",
      """WITH v1 AS (SELECT doc_id, text, 1 AS vf FROM documents),
        |v2 AS (SELECT doc_id, text || ' rev2' AS text, 2 AS vf
        |       FROM documents WHERE doc_id % 7 = 0),
        |v3 AS (SELECT doc_id, text || ' rev3' AS text, 3 AS vf
        |       FROM documents WHERE doc_id % 5 = 0),
        |allv AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |         UNION ALL SELECT * FROM v3),
        |h AS (SELECT doc_id, vf,
        |        LEAD(vf) OVER (PARTITION BY doc_id ORDER BY vf) AS nxt,
        |        length(text) AS len
        |      FROM allv)
        |SELECT doc_id, CAST(vf AS BIGINT) AS valid_from,
        |       CAST(COALESCE(nxt, 9999) AS BIGINT) AS valid_to,
        |       nxt IS NULL AS is_current,
        |       CAST(len AS BIGINT) AS n_chars
        |FROM h ORDER BY doc_id, valid_from""".stripMargin) { (s, d) =>
      // SCD2 (type-2 slowly-changing dimension): the history-preserving
      // twin of q_cur_upsert's MERGE — every corpus refresh CLOSES the
      // superseded row's validity interval instead of overwriting it,
      // so "which text did the model train on at epoch T" stays
      // answerable forever (the provenance question every datasheet
      // audit eventually asks). The Spark side applies the two deltas
      // INCREMENTALLY — exactly the production discipline: each merge
      // touches ONLY current rows (history partitions are immutable),
      // closes the ones whose key appears in the delta via one
      // broadcast doc_id-keyed join, and appends the delta as the new
      // current version — while the oracle derives the same table in
      // closed form with one LEAD window. Their equality IS the
      // correctness claim: incremental interval maintenance ≡ the
      // declarative spec. Intervals are half-open version stamps
      // [valid_from, valid_to) with 9999 as the open sentinel (a NULL
      // would hash differently across engines). At 100 TB the history
      // table partitions by is_current so the merge's scan never
      // touches closed rows.
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      def applyDelta(hist: DataFrame, delta: DataFrame, at: Long): DataFrame = {
        val keys = delta.select("doc_id")
        val closed = hist.filter(col("valid_to") === 9999L)
          .join(broadcast(keys), Seq("doc_id"), "leftsemi")
          .withColumn("valid_to", lit(at))
        val untouched = hist.join(broadcast(keys), Seq("doc_id"), "left_anti")
          .unionByName(hist.filter(col("valid_to") =!= 9999L)
            .join(broadcast(keys), Seq("doc_id"), "leftsemi"))
        untouched.unionByName(closed)
          .unionByName(delta.withColumn("valid_from", lit(at))
            .withColumn("valid_to", lit(9999L)))
      }
      val hist0 = base
        .withColumn("valid_from", lit(1L)).withColumn("valid_to", lit(9999L))
      val d2 = base.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" rev2")))
      val d3 = base.filter(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit(" rev3")))
      applyDelta(applyDelta(hist0, d2, 2L), d3, 3L)
        .select(col("doc_id"), col("valid_from"), col("valid_to"),
          (col("valid_to") === 9999L).as("is_current"),
          length(col("text")).cast("bigint").as("n_chars"))
        .orderBy("doc_id", "valid_from")
    },

    // --- corpus datasheet (per-stratum documentation report) -----------------
    Q("q_cur_datasheet",
      s"""WITH $ScoredCte,
         |${PipelineQueries.RepetitionCtes},
         |$ContaminationCtes,
         |dup AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY text) > 1 AS is_dup
         |        FROM documents)
         |SELECT d.lang, d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(sc.n_tokens) AS BIGINT) AS sum_tokens,
         |  ROUND(CAST(SUM(CAST(ROUND(sc.quality * 1000000000) AS BIGINT)) AS DOUBLE)
         |        / 1000000000 / COUNT(*), 9) AS mean_quality,
         |  CAST(SUM(CASE WHEN rep.repetitive THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
         |  CAST(SUM(CASE WHEN dup.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |  CAST(SUM(CASE WHEN d.doc_id IN (SELECT doc_id FROM ov) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
         |FROM documents d
         |JOIN sc ON d.doc_id = sc.doc_id
         |JOIN rep ON d.doc_id = rep.doc_id
         |JOIN dup ON d.doc_id = dup.doc_id
         |GROUP BY d.lang, d.source
         |ORDER BY d.lang, d.source""".stripMargin) { (s, d) =>
      // The "datasheet for a dataset" rollup — the per-stratum report a
      // released corpus ships with: size, token mass, mean quality,
      // repetitive share, exact-duplicate share, benchmark-contamination
      // share, per (lang, source). Every signal is an already-verified
      // operator (scored / repetitionSignals / exact-dup window /
      // contaminationPairs) composed by doc_id-keyed joins into ONE
      // declarative plan; the output is |langs × sources| rows. At
      // 100 TB this is the nightly corpus-health job: one pass of
      // doc-keyed joins, tiny rollup, every number auditable against
      // the operator that produced it.
      val docs = t(s, d, "documents")
      val dupW = Window.partitionBy("text")
      val dup = docs.select(col("doc_id"),
        (count(lit(1)).over(dupW) > 1).as("is_dup"))
      val contaminated = contaminationPairs(s, d).select("doc_id").distinct()
        .withColumn("is_cont", lit(true))
      // NOT persisted: see q_cur_end2end — caching the raw relation for
      // the 8 stage scans measured 24% slower than the pruned re-scans
      docs.select("doc_id", "lang", "source")
        .join(scored(s, d), "doc_id")
        .join(PipelineQueries.repetitionSignals(s, d).select("doc_id", "repetitive"), "doc_id")
        .join(dup, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_outer")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("sum_tokens"),
          // qualities are round9 values, so quality·1e9 is an exact
          // integer — summing LONGS keeps the mean merge-order-free
          // (a float sum's low bits once flipped a round9 boundary here)
          round(sum(round(col("quality") * 1e9).cast("long")).cast("double")
            / 1e9 / count(lit(1)), 9).as("mean_quality"),
          sum(when(col("repetitive"), 1).otherwise(0)).as("n_repetitive"),
          sum(when(col("is_dup"), 1).otherwise(0)).as("n_exact_dup"),
          sum(when(col("is_cont"), 1).otherwise(0)).as("n_contaminated"))
        .orderBy("lang", "source")
    },

    // --- int8-quantized similarity scoring ----------------------------------
    Q("q_cur_ann_int8",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qz AS (SELECT vec_id, label,
        |         [CAST(FLOOR(v[i] * 127 + 0.5) AS BIGINT) for i in range(1, len(v) + 1)] AS qv
        |       FROM e),
        |q AS (SELECT qv AS qq FROM qz WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  CAST(list_sum([qv[i] * qq[i] for i in range(1, len(qv) + 1)]) AS BIGINT) AS dot
        |FROM qz, q ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      // Int8 quantization: v -> floor(v*127 + 0.5) per dimension (floor,
      // not round — floor's toward-negative-infinity semantics are
      // identical across engines, round-half rules are not). The
      // embeddings are L2-normalized, so the quantized dot tracks cosine
      // at 1/4 the bytes — the standard memory/recall trade every
      // vector store makes. Scoring stays EXACT and oracle-able: integer
      // products summed in double are exact far below 2^53 (64 dims ×
      // 127² ≈ 1e6), via the codegen'd DotProduct primitive loop.
      // Top-10 fuses to TakeOrdered; the corpus never shuffles.
      // CAST back to DOUBLE: Spark's floor returns LONG and DotProduct's
      // primitive loop reads doubles; integer values round-trip exactly.
      val qz = expr("transform(v, x -> CAST(floor(x * 127 + 0.5) AS DOUBLE))")
      val eq = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"), col("label"), qz.as("qv"))
      val qvec = eq.filter(col("vec_id") === 0).select(col("qv").as("qq"))
      eq.crossJoin(broadcast(qvec))
        .select(col("vec_id"), col("label"),
          graft.functions.DotProduct.dot_product(col("qv"), col("qq"))
            .cast("long").as("dot"))
        .orderBy(col("dot").desc, col("vec_id"))
        .limit(10)
    },

    Q("q_cur_mix_topics",
      """WITH e AS (SELECT vec_id,
        |         [CAST(floor(x * 16777216.0) AS BIGINT) for x in CAST(embedding AS DOUBLE[])] AS vq
        |       FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, vq AS c FROM e WHERE vec_id < 4),
        |a1 AS (SELECT vec_id, vq, cid, dist FROM (
        |         SELECT e.vec_id, e.vq, c0.cid,
        |           list_sum([(e.vq[i] - c0.c[i]) * (e.vq[i] - c0.c[i]) for i in range(1, 65)]) AS dist,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |             list_sum([(e.vq[i] - c0.c[i]) * (e.vq[i] - c0.c[i]) for i in range(1, 65)]), c0.cid) AS rn
        |         FROM e CROSS JOIN c0) WHERE rn = 1),
        |s1 AS (SELECT cid, pos, SUM(vq[pos + 1]) AS sp, COUNT(*) AS np
        |       FROM a1, (SELECT unnest(range(64)) AS pos) GROUP BY cid, pos),
        |c1 AS (SELECT cid, list(CAST(floor(CAST(sp AS DOUBLE) / np) AS BIGINT) ORDER BY pos) AS c
        |       FROM s1 GROUP BY cid),
        |a2 AS (SELECT vec_id, cid FROM (
        |         SELECT e.vec_id, c1.cid,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |             list_sum([(e.vq[i] - c1.c[i]) * (e.vq[i] - c1.c[i]) for i in range(1, 65)]), c1.cid) AS rn
        |         FROM e CROSS JOIN c1) WHERE rn = 1),
        |cnt AS (SELECT cid, COUNT(*) AS n FROM a2 GROUP BY cid),
        |w2 AS (SELECT cid, ROUND(sqrt(CAST(n AS DOUBLE)), 9) AS w9 FROM cnt),
        |sw AS (SELECT SUM(CAST(w9 AS DECIMAL(20,9))) AS sw FROM w2),
        |qt AS (SELECT cid, CAST(floor(100.0 * w9 / CAST(sw AS DOUBLE)) AS BIGINT) AS quota
        |       FROM w2, sw),
        |x AS (SELECT vec_id, cid, (vec_id * 2654435761) % 4294967296 AS h FROM a2),
        |r AS (SELECT vec_id, cid,
        |        ROW_NUMBER() OVER (PARTITION BY cid ORDER BY h, vec_id) AS rn
        |      FROM x)
        |SELECT vec_id, r.cid, CAST(rn AS INT) AS rn, quota
        |FROM r JOIN qt ON r.cid = qt.cid WHERE rn <= quota
        |ORDER BY r.cid, rn""".stripMargin) { (s, d) =>
      // TOPIC-balanced mixing: the temperature mixture law
      // (q_cur_mix_temperature, alpha = 0.5) applied over LEARNED
      // clusters instead of metadata strata — per-cluster quota ∝
      // √n_cluster out of a 100-vector budget, so over-represented
      // topics are damped and tail topics up-weighted even when no
      // lang/source column captures them (the unlabeled-corpus case a
      // 100 TB web crawl actually is). Clusters come from the
      // oracle-verified fixed-point k-means (kmeansAssignments — integer
      // distances, bit-stable across engines and merge orders);
      // selection is the deterministic Knuth-hash rank within cluster.
      // Shape: assignment is the k-means map-side pass; quota math is a
      // k-row broadcast; one cid-keyed rank window over (vec_id, cid, h)
      // longs — the corpus's vectors never shuffle.
      val asn = PipelineQueries.kmeansAssignments(s, d).select("vec_id", "cid")
      val cnt = asn.groupBy("cid").agg(count(lit(1)).as("n"))
      val w = cnt.withColumn("w9", round(sqrt(col("n").cast("double")), 9))
      val sw = w.agg(sum(col("w9").cast(DecimalType(20, 9))).as("sw"))
      val quota = w.crossJoin(broadcast(sw))
        .select(col("cid"),
          floor(lit(100.0) * col("w9") / col("sw").cast("double")).cast("long").as("quota"))
      val byH = Window.partitionBy("cid").orderBy(col("h"), col("vec_id"))
      asn.select(col("vec_id"), col("cid"),
          ((col("vec_id") * lit(2654435761L)) % lit(4294967296L)).as("h"))
        .withColumn("rn", row_number().over(byH))
        .join(broadcast(quota), "cid")
        .filter(col("rn") <= col("quota"))
        .select(col("vec_id"), col("cid"), col("rn").cast("int").as("rn"), col("quota"))
        .orderBy("cid", "rn")
    },

    Q("q_cur_snapshot_diff",
      s"""WITH a AS (SELECT doc_id, $RollSql AS h FROM documents),
         |b0 AS (SELECT doc_id,
         |         CASE WHEN doc_id % 31 = 0 THEN text || ' edited' ELSE text END AS text
         |       FROM documents WHERE doc_id % 97 <> 0),
         |b AS (SELECT doc_id,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          [CAST(ascii(text[i]) AS BIGINT) for i in range(1, length(text) + 1)]),
         |          (h, c) -> (h * 31 + c) % 1000000007) AS h
         |      FROM b0)
         |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         |  CASE WHEN a.doc_id IS NULL THEN 'added'
         |       WHEN b.doc_id IS NULL THEN 'removed'
         |       ELSE 'modified' END AS change
         |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.h <> b.h
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Snapshot diff — the corpus-version regression audit run between
      // ingests: which documents were added, removed, or content-
      // modified since the last snapshot? Rows compare by CONTENT hash
      // (the engine-independent rolling hash), not bytes-shipped — so
      // the diff costs one hash pass per side plus a doc_id-keyed full
      // outer join carrying (id, hash) longs, never the text. At 100 TB
      // both sides are parquet snapshots and the join is the only
      // shuffle; unchanged documents (the overwhelming majority) are
      // filtered map-side-cheaply after the join by hash equality. The
      // "new" snapshot here is DERIVED deterministically from the
      // fixture (drop doc_id%97==0, edit doc_id%31==0) so the oracle
      // can reproduce it — in production it's yesterday's table.
      val roll = graft.functions.RollingHash.rolling_hash(col("text"))
      val a = t(s, d, "documents").select(col("doc_id"), roll.as("ha"))
      val b = t(s, d, "documents").filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 31 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")).as("text"))
        .select(col("doc_id"), roll.as("hb"))
      a.withColumnRenamed("doc_id", "ida")
        .join(b.withColumnRenamed("doc_id", "idb"),
          col("ida") === col("idb"), "full_outer")
        .filter(col("ida").isNull || col("idb").isNull || col("ha") =!= col("hb"))
        .select(coalesce(col("ida"), col("idb")).as("doc_id"),
          when(col("ida").isNull, lit("added"))
            .when(col("idb").isNull, lit("removed"))
            .otherwise(lit("modified")).as("change"))
        .orderBy("doc_id")
    },

    Q("q_cur_snapshot_fuzzy",
      """WITH a0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |            WHERE len(string_split(text, ' ')) >= 3),
        |a AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |               for i in range(1, len(w) - 1)]) AS sha FROM a0),
        |b1 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 43 = 0 THEN array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |              WHEN doc_id % 31 = 0 THEN text || ' edited'
        |              ELSE text END AS text,
        |         CASE WHEN doc_id % 43 = 0 OR doc_id % 31 = 0 THEN 1 ELSE 0 END AS touched
        |       FROM documents WHERE doc_id % 97 <> 0),
        |b0 AS (SELECT doc_id, touched, string_split(text, ' ') AS w FROM b1
        |       WHERE len(string_split(text, ' ')) >= 3),
        |b AS (SELECT doc_id, touched,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |               for i in range(1, len(w) - 1)]) AS shb FROM b0),
        |m AS (SELECT a.doc_id, sha, shb FROM a JOIN b USING (doc_id) WHERE touched = 1)
        |SELECT doc_id,
        |  ROUND(len(list_intersect(sha, shb))::DOUBLE
        |        / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 9) AS jac,
        |  CASE WHEN ROUND(len(list_intersect(sha, shb))::DOUBLE
        |        / (len(sha) + len(shb) - len(list_intersect(sha, shb))), 9) >= 0.8
        |       THEN 'minor_edit' ELSE 'rewritten' END AS severity
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      // The fuzzy half of the snapshot audit: q_cur_snapshot_diff says
      // WHICH docs changed (hash inequality); this says HOW MUCH —
      // per modified doc, the shingle-jaccard between old and new text
      // classifies the drift as cosmetic (minor_edit ≥ 0.8: template
      // tweaks, typo fixes — safe to auto-accept) or substantive
      // (rewritten: re-embed, re-dedup, re-gate it). The key scale
      // property: versions of the SAME doc_id compare ROW-ALIGNED — a
      // doc_id-keyed join, never a pair join — so cost is linear in the
      // changed set. Shingle-hash arrays are computed row-locally on
      // EACH side before the join, so the shuffle carries ~60 longs per
      // doc, not text; the jaccard is then one codegen'd IntersectCount
      // per row. The derived "new" snapshot adds a REWRITE class
      // (doc_id%43: reversed word order — unigrams intact, 3-gram
      // shingles destroyed) alongside the append-edit (doc_id%31), so
      // both severity branches are exercised and oracle-checked.
      // hashed shingle set of the `w` column — sizes equal the string
      // sets' absent an xxhash64 collision (the jaccard-family trade)
      val shingle = expr(
        """array_distinct(transform(sequence(0, size(w) - 3),
          |  i -> xxhash64(concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3)))))"""
          .stripMargin)
      val a = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), shingle.as("sha"))
      val b = t(s, d, "documents").filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 43 === 0,
            concat_ws(" ", reverse(split(col("text"), " "))))
            .when(col("doc_id") % 31 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")).as("text"),
          (col("doc_id") % 43 === 0 || col("doc_id") % 31 === 0).as("touched"))
        .filter(col("touched"))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), shingle.as("shb"))
      val ic = graft.functions.IntersectCount.intersect_count(col("sha"), col("shb"))
      val jac = round(ic.cast("double") / (size(col("sha")) + size(col("shb")) - ic), 9)
      a.join(b, "doc_id")
        .select(col("doc_id"), jac.as("jac"),
          when(jac >= 0.8, lit("minor_edit")).otherwise(lit("rewritten")).as("severity"))
        .orderBy("doc_id")
    },

    Q("q_cur_semantic_decontam",
      """WITH md AS (SELECT 50 * GREATEST(1, CAST(CEIL(COUNT(*) / 20000.0) AS BIGINT)) AS m
        |            FROM embeddings),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, v AS evv FROM e
        |       WHERE vec_id % (SELECT m FROM md) = 0),
        |tr AS (SELECT vec_id, v FROM e WHERE vec_id % (SELECT m FROM md) <> 0),
        |sc AS (SELECT tr.vec_id, ev.eval_id,
        |         ROUND(list_cosine_similarity(tr.v, ev.evv), 9) AS cs
        |       FROM tr CROSS JOIN ev)
        |SELECT vec_id, eval_id, cs FROM sc
        |WHERE cs >= 0.4 ORDER BY vec_id, eval_id""".stripMargin) { (s, d) =>
      // SEMANTIC decontamination — the embedding-space complement of the
      // n-gram audit (q_cur_decontaminate): a training item whose
      // embedding sits within cosine 0.95 of an eval item is a
      // paraphrase-level leak no shingle overlap catches. (Threshold
      // is the operator's knob: production embeddings flag at ~0.9+;
      // this fixture's random vectors top out at cosine 0.45 across the
      // split, so the catalog pins the tail band >= 0.4 — the flag
      // semantics are threshold-independent.) Eval set =
      // the deterministic vec_id%50==0 slice (in production: the
      // benchmark suite's embeddings — thousands of rows, benchmark-
      // sized). Shape: the eval vectors BROADCAST and the corpus is
      // scanned once, |eval|·N codegen'd dot products, emitting only
      // the flagged pairs — at 100 TB the same audit runs IVF-pruned
      // (probe each eval vector's cells, the q_ann_ivf_index path) to
      // cut the scan to candidate cells; the brute pass here is the
      // exact oracle-able baseline that certifies that index path's
      // recall. round9 on the one double division (the ANN convention).
      // The eval slice is SIZE-bounded, not a fixed fraction: modulus =
      // 50·⌈n/20000⌉ ([[semanticDecontamMod]]) keeps |eval| ≈ 400 at
      // every corpus size, mirroring a real benchmark suite's FIXED
      // size — the round-16 decade fix (the fixed `% 50` made |eval| ∝
      // N, so pair work grew 100× at 10× data: 26.6× measured at sf10,
      // the nndescent `% 10` defect class). Gate/sf1 corpora
      // (n ≤ 20000) keep the historical modulus 50 bit-identically;
      // the oracle derives the same value from COUNT(*).
      val mod = semanticDecontamMod(t(s, d, "embeddings").count())
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val ev = e.filter(col("vec_id") % mod === 0)
        .select(col("vec_id").as("eval_id"), col("v").as("evv"))
      val tr = e.filter(col("vec_id") % mod =!= 0)
      import graft.functions.DotProduct.dot_product
      tr.crossJoin(broadcast(ev))
        .select(col("vec_id"), col("eval_id"),
          round(dot_product(col("v"), col("evv")) /
            (sqrt(dot_product(col("v"), col("v"))) *
              sqrt(dot_product(col("evv"), col("evv")))), 9).as("cs"))
        .filter(col("cs") >= 0.4)
        .orderBy("vec_id", "eval_id")
    },

    Q("q_cur_dsir",
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM documents),
        |hb AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          [CAST(ascii(g[i]) AS BIGINT) for i in range(1, length(g) + 1)]),
        |          (h, c) -> (h * 31 + c) % 1000000007) % 1024 AS b
        |      FROM w),
        |rc AS (SELECT b, COUNT(*) AS nr FROM hb GROUP BY b),
        |tc AS (SELECT b, COUNT(*) AS nt FROM hb WHERE doc_id % 20 = 1 GROUP BY b),
        |tot AS (SELECT COUNT(*) AS nrt,
        |               COUNT(*) FILTER (WHERE doc_id % 20 = 1) AS ntt FROM hb),
        |lr AS (SELECT rc.b,
        |        CAST(ROUND((ln((COALESCE(tc.nt, 0) + 1.0) / (tot.ntt + 1024.0))
        |                  - ln((rc.nr + 1.0) / (tot.nrt + 1024.0))) * 1000000) AS BIGINT) AS lrf
        |      FROM rc LEFT JOIN tc ON rc.b = tc.b, tot),
        |s AS (SELECT hb.doc_id, CAST(SUM(lr.lrf) AS BIGINT) AS wfp
        |      FROM hb JOIN lr ON hb.b = lr.b GROUP BY hb.doc_id)
        |SELECT doc_id, ROUND(wfp / 1e6, 6) AS dsir_w FROM s
        |ORDER BY wfp DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      // See dsirHashedTokens/dsirLogRatios for the model construction —
      // shared with the streaming ingest scorer (DocStreams.dsirScore).
      // DSIR-style data selection (Xie et al. 2023, "Data Selection for
      // Language Models via Importance Resampling"): score every raw
      // document by how much its hashed-feature distribution looks like
      // a curated TARGET set vs the raw corpus. Features are word
      // unigrams hashed to B=1024 buckets with the engine-independent
      // rolling hash; the target here is the deterministic doc_id%20==1
      // seed (in production: the curated high-quality corpus). Per
      // bucket, the log importance ratio ln(p_target/p_raw) (Laplace
      // +1/+B smoothed) is fixed-pointed to micro-units ONCE in the
      // B-row model — so the per-doc score Σ count_b · lrf_b is an exact
      // integer sum, merge-order-independent at any parallelism; the
      // cross-engine ln() agrees far inside the 1e-6 rounding grain.
      // Shape at 100 TB: two linear count passes over the hashed-token
      // frame (materialized once), a 1024-row broadcast model, one
      // row-local scoring join, TakeOrdered top-k — the corpus never
      // shuffles by content; only (bucket, count) longs move. Top-100 is
      // the catalog's retrieval-style pin; production thresholds the
      // broadcast score instead of ranking.
      val toks = dsirHashedTokens(t(s, d, "documents"))
      val lr = dsirLogRatios(toks)
      Qh.materializedWith(toks)(
        toks.join(broadcast(lr), "b")
          .groupBy("doc_id").agg(sum("lrf").as("wfp"))
          .orderBy(col("wfp").desc, col("doc_id"))
          .limit(100)
          .select(col("doc_id"), round(col("wfp") / 1e6, 6).as("dsir_w")))
    },

    // --- source reputation via empirical-Bayes shrinkage ----------------
    Q("q_cur_source_reputation",
      """WITH q AS (SELECT source,
        |    LEAST(n_chars * 1250, 500000)
        |      + LEAST((5000000 * len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'is'))))
        |              // len(w), 500000) AS qm
        |  FROM (SELECT source, n_chars, string_split(text, ' ') AS w FROM documents)),
        |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        CAST(SUM(qm) AS BIGINT) AS sq FROM q GROUP BY 1),
        |g AS (SELECT CAST(SUM(sq) AS BIGINT) AS ts, CAST(SUM(n_docs) AS BIGINT) AS tn FROM s)
        |SELECT source, n_docs,
        |  CAST(sq // n_docs AS BIGINT) AS mean_q_micro,
        |  CAST((sq + 20 * (ts // tn)) // (n_docs + 20) AS BIGINT) AS shrunk_q_micro,
        |  CAST(ROW_NUMBER() OVER (
        |    ORDER BY (sq + 20 * (ts // tn)) // (n_docs + 20) DESC, source) AS BIGINT) AS rank
        |FROM s, g ORDER BY rank""".stripMargin) { (s, d) =>
      // Source (domain/feed) reputation — the crawl-prioritization model:
      // rank sources by mean document quality, SHRUNK toward the global
      // mean with an empirical-Bayes prior of strength K=20 pseudo-docs,
      // so a 3-document source with three lucky drafts cannot outrank an
      // established feed (the small-sample pathology raw means have).
      // shrunk = (Σq + K·ḡ) / (n + K) — the Beta-prior posterior mean.
      // The quality formula is q_text_quality's, recast in EXACT integer
      // micro-units (n_chars·1250 and (5e6·stops) div words, each capped
      // at 500000 — no float anywhere, so sums are merge-order-
      // independent and both engines agree bit-for-bit). Shape for
      // 100 TB: per-doc scores are row-local; the rollup collapses
      // map-side to one cell per source before the single exchange; the
      // global mean is a 1-row broadcast; ranking runs on the
      // model-sized source frame.
      val q = t(s, d, "documents")
        .select(col("source"), col("n_chars"), split(col("text"), " ").as("w"))
        .select(col("source"),
          (least(col("n_chars") * 1250, lit(500000L)) +
            least(expr(s"(5000000 * size(filter(w, t -> $Stop))) div size(w)"),
              lit(500000L))).as("qm"))
      val sAgg = q.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("qm").as("sq"))
      val g = sAgg.agg(sum("sq").as("ts"), sum("n_docs").as("tn"))
      sAgg.crossJoin(broadcast(g))
        .select(col("source"), col("n_docs"),
          expr("sq div n_docs").as("mean_q_micro"),
          expr("(sq + 20 * (ts div tn)) div (n_docs + 20)").as("shrunk_q_micro"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("shrunk_q_micro").desc, col("source"))).cast("bigint"))
        .orderBy("rank")
    },

    // --- blocklist content filter ---------------------------------------
    Q("q_cur_blocklist",
      """WITH f AS (SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         t -> t IN ('error', 'slow'))) AS BIGINT) AS n_hits
        |  FROM documents)
        |SELECT doc_id, lang, n_hits, n_hits >= 3 AS blocked
        |FROM f WHERE n_hits > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Blocklist/lexicon content filter — the moderation stage between
      // PII scrubbing and quality gating: count occurrences of a
      // blocked-term lexicon per document, block past a threshold (one
      // stray term is context; repeated terms are the signal — the
      // standard word-list moderation heuristic). The lexicon here is
      // a 2-term stand-in; production lists are 10⁴-10⁵ terms and ride
      // exactly the same way — a broadcast set membership inside one
      // row-local HOF, no join, no shuffle, scan speed (a regex
      // union would be slower and RE2-risky). Only hit documents are
      // emitted — at 100 TB the clean majority never leaves the scan.
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          expr("""CAST(size(filter(split(text, ' '),
            |  t -> t IN ('error', 'slow'))) AS BIGINT)""".stripMargin).as("n_hits"))
        .filter(col("n_hits") > 0)
        .withColumn("blocked", col("n_hits") >= 3)
        .orderBy("doc_id")
    },

    // --- preference-pair mining (DPO/RLHF data prep) --------------------
    Q("q_cur_pref_pairs",
      """WITH q AS (SELECT doc_id, lang, source,
        |    LEAST(n_chars * 1250, 500000)
        |      + LEAST((5000000 * len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'is'))))
        |              // len(w), 500000) AS qm
        |  FROM (SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS w
        |        FROM documents)),
        |g AS (SELECT lang, source, doc_id, qm,
        |        ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY qm DESC, doc_id) AS rb,
        |        ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY qm ASC, doc_id) AS rw
        |      FROM q),
        |b AS (SELECT lang, source, doc_id AS chosen_id, qm AS qb FROM g WHERE rb = 1),
        |w2 AS (SELECT lang, source, doc_id AS rejected_id, qm AS qw FROM g WHERE rw = 1)
        |SELECT b.lang, b.source, chosen_id, rejected_id,
        |  CAST(qb - qw AS BIGINT) AS margin_micro
        |FROM b JOIN w2 ON b.lang = w2.lang AND b.source = w2.source
        |WHERE qb > qw ORDER BY b.lang, b.source""".stripMargin) { (s, d) =>
      // Preference-pair mining — the DPO/reward-model data-prep stage:
      // per (lang, source) stratum, pair the highest-scoring document
      // (chosen) against the lowest (rejected), with the margin carried
      // so downstream can threshold weak pairs. Scores are the EXACT
      // integer micro-unit quality (the q_cur_source_reputation
      // recast), ties broken by doc_id on BOTH ends, degenerate
      // all-equal strata dropped (a zero-margin pair teaches nothing).
      // In production the scorer is a reward model and the stratum a
      // prompt cluster — the pairing plumbing is identical. Shape for
      // 100 TB: scores row-local; both extremes are partial-
      // aggregatable min_by/max_by on ONE stratum-keyed exchange — no
      // window sort over the corpus (the oracle's ROW_NUMBER spelling
      // is DuckDB-side readability).
      val q = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("lang"), col("source"),
          (least(col("n_chars") * 1250, lit(500000L)) +
            least(expr(s"(5000000 * size(filter(w, t -> $Stop))) div size(w)"),
              lit(500000L))).as("qm"))
      q.groupBy("lang", "source")
        .agg(
          min_by(struct(col("doc_id").as("chosen_id"), col("qm").as("qb")),
            struct((-col("qm")).as("neg"), col("doc_id"))).as("b"),
          min_by(struct(col("doc_id").as("rejected_id"), col("qm").as("qw")),
            struct(col("qm"), col("doc_id"))).as("w2"))
        .filter(col("b.qb") > col("w2.qw"))
        .select(col("lang"), col("source"),
          col("b.chosen_id").as("chosen_id"), col("w2.rejected_id").as("rejected_id"),
          (col("b.qb") - col("w2.qw")).as("margin_micro"))
        .orderBy("lang", "source")
    },

    // --- Bradley-Terry preference-strength fit --------------------------
    Q("q_cur_bradley_terry", BtSql) { (s, d) =>
      // Bradley-Terry strength fit over pairwise preferences — the
      // rating model behind reward-model data curation (rank the
      // sources/policies behind preference pairs, weight or filter
      // annotators, detect a degenerate "always wins" arm). Matchups
      // are derived deterministically from the corpus: per user, each
      // event-type pair duels and the more-frequent type wins (ties
      // drop); Laplace-smoothed (+1 per ordered pair) so every strength
      // is positive and the comparison graph connected. The fit is the
      // standard MM iteration p_i ← W_i / Σ_j N_ij/(p_i+p_j)
      // (Hunter 2004), run 12 rounds in 2^20 fixed point with floor
      // divisions and a sum-normalization each round — bit-identical in
      // both engines (the oracle unrolls the SAME 12 rounds by
      // generated SQL, the PcaPowerSql convention, so they cannot
      // drift). Shape for 100 TB: the corpus pass is the (user, type)
      // count + per-user duel (fan-out bounded by |types|² per user,
      // map-side partials to a |types|² wins matrix); the fit itself is
      // DRIVER MODEL STATE (|types|² longs — the k-means convention).
      // BIGINT-safe while W_i·2^40 < 2^63 (wins < ~8M; a larger run
      // renormalizes the wins matrix or lifts to DECIMAL(38,0)).
      val S = 1048576L
      val S2 = S * S
      val cnt = t(s, d, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      val a = cnt.select(col("user_id"), col("event_type").as("ta"), col("c").as("ca"))
      val b = cnt.select(col("user_id"), col("event_type").as("tb"), col("c").as("cb"))
      val duel = a.join(b, Seq("user_id"))
        .filter(col("ta") < col("tb") && col("ca") =!= col("cb"))
        .select(when(col("ca") > col("cb"), col("ta")).otherwise(col("tb")).as("i"),
          when(col("ca") > col("cb"), col("tb")).otherwise(col("ta")).as("j"))
      val wmat = duel.groupBy("i", "j").agg(count(lit(1)).as("w"))
      val ty = t(s, d, "events").select(col("event_type").as("t")).distinct()
      val wf = ty.select(col("t").as("i"))
        .crossJoin(broadcast(ty.select(col("t").as("j"))))
        .filter(col("i") =!= col("j"))
        .join(wmat, Seq("i", "j"), "left")
        .select(col("i"), col("j"), (coalesce(col("w"), lit(0L)) + 1L).as("w"))
      val rows = wf.collect() // |types|² driver model state
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val wij = rows.map { case (i, j, w) => (i, j) -> w }.toMap
      val types = rows.map(_._1).distinct.sorted
      def others(i: String) = types.filter(_ != i)
      val nij = (for (i <- types; j <- others(i)) yield (i, j) -> (wij((i, j)) + wij((j, i)))).toMap
      val wi = types.map(i => i -> others(i).map(j => wij((i, j))).sum).toMap
      val gi = types.map(i => i -> others(i).map(j => nij((i, j))).sum).toMap
      var p = types.map(_ -> S).toMap
      for (_ <- 1 to BtIters) {
        val den = types.map(i =>
          i -> others(i).map(j => (nij((i, j)) * S2) / (p(i) + p(j))).sum).toMap
        val u = types.map(i => i -> math.max((wi(i) * S2) / den(i), 1L)).toMap
        val sp = u.values.sum
        val nt = types.size
        p = types.map(i => i -> math.max((u(i) * S * nt) / sp, 1L)).toMap
      }
      import s.implicits._
      types.sortBy(i => (-p(i), i)).zipWithIndex
        .map { case (i, r) => (r + 1, i, wi(i), gi(i), p(i)) }.toSeq
        .toDF("rank", "event_type", "wins", "games", "rating")
        .select(col("rank").cast("int").as("rank"), col("event_type"),
          col("wins"), col("games"), col("rating"))
        .orderBy("rank")
    },

    // --- cross-source quantile normalization of quality scores ----------
    Q("q_cur_quantile_norm",
      """WITH q AS (SELECT doc_id, source,
        |    LEAST(n_chars * 1250, 500000)
        |      + LEAST((5000000 * len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'is'))))
        |              // len(w), 500000) AS qm
        |  FROM (SELECT doc_id, source, n_chars, string_split(text, ' ') AS w FROM documents)),
        |g AS (SELECT source, qm, CAST(COUNT(*) AS BIGINT) AS cnt FROM q GROUP BY 1, 2),
        |cum AS (SELECT source, qm, cnt,
        |    COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY qm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt
        |  FROM g),
        |ns AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
        |m AS (SELECT n AS m FROM ns WHERE source = 'src0'),
        |ref AS (SELECT qm, c_lt, cnt FROM cum WHERE source = 'src0'),
        |d AS (SELECT q.doc_id, q.source, q.qm,
        |    CASE WHEN ns.n > 1 THEN (cum.c_lt * (m.m - 1)) // (ns.n - 1)
        |         ELSE 0 END AS idx
        |  FROM q JOIN cum ON q.source = cum.source AND q.qm = cum.qm
        |       JOIN ns ON q.source = ns.source, m)
        |SELECT d.doc_id, d.source, CAST(d.qm AS BIGINT) AS qm,
        |  CAST(ref.qm AS BIGINT) AS norm_qm
        |FROM d JOIN ref ON d.idx >= ref.c_lt AND d.idx < ref.c_lt + ref.cnt
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      // Cross-source QUANTILE NORMALIZATION — the score-harmonization
      // pass a mixing pipeline runs when per-source quality scorers are
      // not comparable (different scorer versions, domain-specific
      // scales): each document's score is replaced by the REFERENCE
      // source's (src0) order statistic at the same within-source
      // quantile, so one global threshold afterwards means the same
      // thing everywhere. (q_cur_quality_calibrate emits per-stratum
      // percentile RANKS; this emits reference-scale VALUES — the form
      // downstream thresholds and mixes consume.) Exact integer end to
      // end: c_lt = strictly-smaller count from a cumulative window
      // over the per-source VALUE-DISTINCT frame (the q_agg_ks
      // economics — never a per-row corpus sort), target index =
      // floor(c_lt·(m−1)/(n_s−1)), and the reference order statistic
      // comes from a broadcast range join against src0's distinct-value
      // index intervals [c_lt, c_lt+cnt). Ties map to one deterministic
      // value by construction. At 100 TB the distinct frames are
      // bounded by the score grid, the ref frame broadcasts, and the
      // only corpus-sized operations are the two (source, qm)-keyed
      // joins.
      val q = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("source"),
          (least(col("n_chars") * 1250, lit(500000L)) +
            least(expr(s"(5000000 * size(filter(w, t -> $Stop))) div size(w)"),
              lit(500000L))).as("qm"))
      Qh.materializedWith(q) {
        val g = q.groupBy("source", "qm").agg(count(lit(1)).as("cnt"))
        val wcum = Window.partitionBy("source").orderBy("qm")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = g.select(col("source"), col("qm"), col("cnt"),
          coalesce(sum("cnt").over(wcum), lit(0L)).as("c_lt"))
        val ns = g.groupBy("source").agg(sum("cnt").as("n"))
        val m = ns.filter(col("source") === "src0").select(col("n").as("m"))
        val ref = cum.filter(col("source") === "src0")
          .select(col("qm").as("ref_qm"), col("c_lt").as("ref_lt"), col("cnt").as("ref_cnt"))
        q.join(cum, Seq("source", "qm"))
          .join(broadcast(ns), "source")
          .crossJoin(broadcast(m))
          .withColumn("idx", when(col("n") > 1,
            expr("(c_lt * (m - 1)) div (n - 1)")).otherwise(lit(0L)))
          .join(broadcast(ref),
            col("idx") >= col("ref_lt") && col("idx") < col("ref_lt") + col("ref_cnt"))
          .select(col("doc_id"), col("source"), col("qm"),
            col("ref_qm").as("norm_qm"))
          .orderBy("doc_id")
      }
    },

    // --- k-anonymity audit over quasi-identifiers -----------------------
    Q("q_cur_kanonymity",
      """WITH g AS (SELECT lang, source, n_chars // 100 AS len_bucket,
        |        CAST(COUNT(*) AS BIGINT) AS csize
        |      FROM documents GROUP BY 1, 2, 3),
        |k AS (SELECT unnest([2, 5, 10]) AS k)
        |SELECT CAST(k.k AS INT) AS k,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(MIN(csize) AS BIGINT) AS min_class,
        |  CAST(SUM(CASE WHEN csize < k.k THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(SUM(CASE WHEN csize < k.k THEN csize ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  CAST((1000000 * SUM(CASE WHEN csize < k.k THEN csize ELSE 0 END))
        |    // SUM(csize) AS BIGINT) AS risk_ppm
        |FROM g, k GROUP BY k.k ORDER BY k""".stripMargin) { (s, d) =>
      // k-anonymity audit — the privacy sibling of q_cur_pii's pattern
      // scrubbing: even with direct identifiers redacted, a record is
      // re-identifiable when its QUASI-IDENTIFIER combination (here
      // lang × source × length-centile-bucket; in production any
      // released metadata columns) lands in an equivalence class smaller
      // than k. Reported per policy threshold k ∈ {2, 5, 10}: class
      // count, smallest class, violating classes, rows at risk, and the
      // at-risk fraction in ppm (integer floor division — exact both
      // engines). This is the release-gate a datasheet (q_cur_datasheet)
      // cites before metadata columns ship alongside a corpus. Shape for
      // 100 TB: ONE two-phase count keyed by the quasi-identifier tuple
      // (map-side partials, class-cardinality rows on the wire), then
      // the ×3 threshold rollup runs on the CLASS frame — corpus-size-
      // independent; nothing here collects or windows over rows.
      import s.implicits._
      val g = t(s, d, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("csize"))
      g.crossJoin(broadcast(Seq(2, 5, 10).toDF("k")))
        .groupBy("k")
        .agg(count(lit(1)).as("n_classes"),
          min("csize").as("min_class"),
          sum(when(col("csize") < col("k"), 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("csize") < col("k"), col("csize")).otherwise(0L))
            .as("rows_at_risk"),
          expr("(1000000 * sum(CASE WHEN csize < k THEN csize ELSE 0 END))" +
            " div sum(csize)").as("risk_ppm"))
        .orderBy("k")
    },

    Q("q_cur_ldiversity",
      """WITH g AS (SELECT source, n_chars // 100 AS len_bucket,
        |        CAST(COUNT(*) AS BIGINT) AS csize,
        |        CAST(COUNT(DISTINCT lang) AS BIGINT) AS ndist
        |      FROM documents GROUP BY 1, 2),
        |l AS (SELECT unnest([2, 3]) AS l)
        |SELECT CAST(l.l AS INT) AS l,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(MIN(ndist) AS BIGINT) AS min_diversity,
        |  CAST(SUM(CASE WHEN ndist < l.l THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(SUM(CASE WHEN ndist < l.l THEN csize ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  CAST((1000000 * SUM(CASE WHEN ndist < l.l THEN csize ELSE 0 END))
        |    // SUM(csize) AS BIGINT) AS risk_ppm
        |FROM g, l GROUP BY l.l ORDER BY l""".stripMargin) { (s, d) =>
      // l-diversity audit — k-anonymity's sharper sibling (Machanavajjhala
      // et al., ICDE'06): a quasi-identifier class can satisfy k yet
      // still leak its SENSITIVE attribute when every member shares one
      // value (the homogeneity attack k-anonymity misses). Quasi-
      // identifiers here are source × length-centile-bucket and the
      // sensitive attribute is lang — a release that maps (source,
      // size) to a single language discloses each member's language
      // outright. Distinct-l-diversity per policy l ∈ {2, 3}: a class
      // violates when it holds < l distinct sensitive values; reported
      // with the same at-risk accounting as q_cur_kanonymity (classes,
      // min diversity, violating classes, rows at risk, ppm floor
      // division — exact both engines). Shape for 100 TB: one two-phase
      // (QI, lang)-keyed distinct + count pass collapsing map-side,
      // then the ×2 threshold rollup runs on the class frame —
      // corpus-size-independent, the k-anonymity economics.
      import s.implicits._
      val g = t(s, d, "documents")
        .groupBy(col("source"), expr("n_chars div 100").as("len_bucket"))
        .agg(count(lit(1)).as("csize"), countDistinct(col("lang")).as("ndist"))
      g.crossJoin(broadcast(Seq(2, 3).toDF("l")))
        .groupBy("l")
        .agg(count(lit(1)).as("n_classes"),
          min("ndist").as("min_diversity"),
          sum(when(col("ndist") < col("l"), 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("ndist") < col("l"), col("csize")).otherwise(0L))
            .as("rows_at_risk"),
          expr("(1000000 * sum(CASE WHEN ndist < l THEN csize ELSE 0 END))" +
            " div sum(csize)").as("risk_ppm"))
        .orderBy("l")
    },

    // --- Bloom-filter decontamination (the 100 TB two-stage shape) -------
    Q("q_cur_bloom_decontam",
      """WITH bw AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        |            WHERE len(string_split(text, ' ')) >= 3),
        |bs AS (SELECT doc_id, source,
        |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                               for i in range(1, len(w) - 1)])) AS sh
        |       FROM bw),
        |ed AS (SELECT DISTINCT sh FROM bs WHERE source = 'src0'),
        |cc AS (SELECT doc_id, source, sh FROM bs WHERE source <> 'src0'),
        |pb AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_probe FROM cc GROUP BY 1),
        |pz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_present
        |       FROM cc JOIN ed USING (sh) GROUP BY 1),
        |ce AS (SELECT doc_id AS eval_id, sh FROM bs WHERE source = 'src0'),
        |pr AS (SELECT cc.doc_id, cc.source, ce.eval_id, COUNT(*) AS n_ov
        |       FROM cc JOIN ce USING (sh) GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5),
        |pa AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_flagged,
        |         CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(SUM(n_ov) AS BIGINT) AS n_overlap_total
        |       FROM pr GROUP BY 1)
        |SELECT pb.source, n_probe,
        |  CAST(COALESCE(n_present, 0) AS BIGINT) AS n_present,
        |  CAST(COALESCE(n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(n_overlap_total, 0) AS BIGINT) AS n_overlap_total,
        |  TRUE AS fp_ok
        |FROM pb LEFT JOIN pz USING (source) LEFT JOIN pa USING (source)
        |ORDER BY source""".stripMargin) { (s, d) =>
      // q_cur_decontaminate's scale path made load-bearing: instead of
      // hash-joining every corpus shingle against the broadcast eval
      // set, the corpus side first passes a BLOOM FILTER built over the
      // eval suite's distinct 3-gram shingles — Spark's own runtime-
      // filter machinery (BloomFilterMightContain, codegen'd), probed
      // row-locally inside the scan stage with ZERO shuffle — and only
      // bloom survivors reach the exact verification join. Why this is
      // THE 100 TB shape: the eval suite is MBs but its shingle SET at
      // hash-set fidelity costs ~50 bytes/entry to broadcast and probe,
      // while the bloom costs ~2.4 bytes/entry at fpp 1e-4 (20x smaller,
      // cache-resident, O(1) per probe) and is built distributed with
      // map-side partial merge (treeAggregate) — the same economics that
      // make Spark inject bloom pruning into shuffle joins. The filter
      // itself is bounded driver model state (the IvfIndex convention:
      // centroids/codebooks/filters may collect; corpus rows never do).
      // CORRECTNESS IS BLOOM-INDEPENDENT BY CONSTRUCTION: blooms have no
      // false negatives, so the exact columns (per-source probe count,
      // true-membership count, flagged docs / pairs / overlap under the
      // >= 5-shingle rule) computed POST-bloom hash-match the oracle's
      // bloom-free SQL — the DuckDB gate itself certifies zero recall
      // loss. The false-positive side is certified in-plan: fp_ok =
      // (bloom candidates - true members) <= 1% of non-members, ~100x
      // above the deterministic fpp-1e-4 expectation (the hll_ok /
      // recall_ok convention).
      bloomDecontam(s, d)
    },

    // --- generalization ladder (the ACTION the privacy audits trigger) ---
    Q("q_cur_generalize",
      """WITH w AS (SELECT unnest([100, 200, 400, 800]) AS w),
        |g AS (SELECT w.w, source, n_chars // w.w AS lb,
        |        CAST(COUNT(*) AS BIGINT) AS csize
        |      FROM documents, w GROUP BY 1, 2, 3),
        |a AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |        CAST(MIN(csize) AS BIGINT) AS min_csize,
        |        CAST(SUM(CASE WHEN csize < 5 THEN csize ELSE 0 END) AS BIGINT)
        |          AS rows_at_risk,
        |        MIN(csize) >= 5 AS k5_ok
        |      FROM g GROUP BY 1),
        |m AS (SELECT MIN(w) AS cw FROM a WHERE k5_ok)
        |SELECT CAST(a.w AS INT) AS w, n_classes, min_csize, rows_at_risk, k5_ok,
        |  COALESCE(a.w = m.cw, FALSE) AS chosen
        |FROM a, m ORDER BY w""".stripMargin) { (s, d) =>
      // The privacy trio's audits (k-anonymity / l-diversity /
      // t-closeness) tell you a release is unsafe; this is the standard
      // FIX: generalize the quasi-identifier — coarsen the length
      // bucket — just enough that every class reaches k = 5, and no
      // further (coarser buckets destroy utility; the ladder quantifies
      // the trade so the release picks the finest safe rung). One pass
      // computes the full ladder: each doc expands into the 4 candidate
      // widths map-side (the q_events_hopping expand — 4× rows into a
      // two-phase count, collapsing to class frames before any wire),
      // the per-width rollup reports classes / min class size / rows
      // still at risk, and `chosen` marks the minimal width whose
      // minimum class size clears k. Monotonicity (coarser ⇒ classes
      // merge ⇒ min size can only grow) is pinned in CurationSpec; the
      // ladder itself is corpus-size-independent after the one expand.
      import s.implicits._
      val g = t(s, d, "documents")
        .crossJoin(broadcast(Seq(100, 200, 400, 800).toDF("w")))
        .groupBy(col("w"), col("source"), expr("n_chars div w").as("lb"))
        .agg(count(lit(1)).as("csize"))
      val a = g.groupBy("w")
        .agg(count(lit(1)).as("n_classes"),
          min("csize").as("min_csize"),
          sum(when(col("csize") < 5, col("csize")).otherwise(0L)).as("rows_at_risk"),
          (min("csize") >= 5).as("k5_ok"))
      val m = a.filter(col("k5_ok")).agg(min("w").as("cw"))
      a.crossJoin(broadcast(m))
        .select(col("w"), col("n_classes"), col("min_csize"),
          col("rows_at_risk"), col("k5_ok"),
          coalesce(col("w") === col("cw"), lit(false)).as("chosen"))
        .orderBy("w")
    },

    // --- t-closeness audit (the distribution-skew release gate) ----------
    Q("q_cur_tcloseness",
      """WITH g AS (SELECT source, n_chars // 100 AS lb, lang,
        |        CAST(COUNT(*) AS BIGINT) AS n
        |      FROM documents GROUP BY 1, 2, 3),
        |cl AS (SELECT source, lb, CAST(SUM(n) AS BIGINT) AS ncl FROM g GROUP BY 1, 2),
        |gl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS ng FROM g GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM g),
        |grid AS (SELECT cl.source, cl.lb, cl.ncl, gl.lang, gl.ng, tt.nt,
        |           COALESCE(g.n, 0) AS n
        |         FROM cl CROSS JOIN gl CROSS JOIN tt
        |         LEFT JOIN g ON g.source = cl.source AND g.lb = cl.lb
        |                    AND g.lang = gl.lang),
        |tv AS (SELECT source, lb, ncl,
        |         CAST((1000 * SUM(ABS(CAST(n AS HUGEINT) * nt
        |                              - CAST(ng AS HUGEINT) * ncl)))
        |           // (2 * CAST(ncl AS HUGEINT) * nt) AS BIGINT) AS tvd_milli
        |       FROM grid GROUP BY source, lb, ncl, nt),
        |p AS (SELECT unnest([200, 500]) AS t)
        |SELECT CAST(p.t AS INT) AS t,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(MAX(tvd_milli) AS BIGINT) AS max_tvd_milli,
        |  CAST(SUM(CASE WHEN tvd_milli > p.t THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(SUM(CASE WHEN tvd_milli > p.t THEN ncl ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  CAST((1000000 * SUM(CASE WHEN tvd_milli > p.t THEN ncl ELSE 0 END))
        |    // SUM(ncl) AS BIGINT) AS risk_ppm
        |FROM tv, p GROUP BY p.t ORDER BY t""".stripMargin) { (s, d) =>
      // t-closeness — the third gate of the privacy-release trio
      // (Li/Li/Venkatasubramanian ICDE'07), catching what BOTH
      // k-anonymity and l-diversity miss: a class can be large (k ok)
      // and hold l distinct sensitive values (l ok) yet still leak via
      // SKEW — 99% one language in a class vs 20% globally is a strong
      // Bayesian update about every member. A class violates when its
      // sensitive distribution sits farther than t from the global one;
      // distance = total variation (the categorical instance of the
      // paper's EMD), rendered EXACTLY in milli units: TVD = Σ|n·nt −
      // ng·ncl| / (2·ncl·nt) over the full class × lang grid (absent
      // languages included — skew toward absence is the leak). The
      // cross products are lifted to HUGEINT/DECIMAL(38,0) BEFORE
      // multiplying (the q_agg_ks d_milli convention: n·nt overflows
      // BIGINT past ~3e9 docs, real at 100 TB). Policy sweep t ∈
      // {200, 500} milli with the same at-risk accounting as its two
      // siblings. Shape: one two-phase (QI, lang) count pass collapses
      // the corpus map-side; everything after runs on the class frame ×
      // |langs| grid — corpus-size-independent, the trio's economics.
      import s.implicits._
      val g = t(s, d, "documents")
        .groupBy(col("source"), expr("n_chars div 100").as("lb"), col("lang"))
        .agg(count(lit(1)).as("n"))
      Qh.materializedWith(g) {
        val cl = g.groupBy("source", "lb").agg(sum("n").as("ncl"))
        val gl = g.groupBy("lang").agg(sum("n").as("ng"))
        val nt = g.agg(sum("n").as("nt"))
        val grid = cl.crossJoin(broadcast(gl)).crossJoin(broadcast(nt))
          .join(g, Seq("source", "lb", "lang"), "left")
          .withColumn("nn", coalesce(col("n"), lit(0L)))
        val tv = grid.groupBy(col("source"), col("lb"), col("ncl"), col("nt"))
          .agg(sum(abs(expr(
            "CAST(nn AS DECIMAL(38,0)) * nt - CAST(ng AS DECIMAL(38,0)) * ncl")))
            .as("dev"))
          .select(col("source"), col("ncl"), expr(
            "CAST((1000 * dev) div (2 * CAST(ncl AS DECIMAL(38,0)) * nt) AS BIGINT)")
            .as("tvd_milli"))
        tv.crossJoin(broadcast(Seq(200, 500).toDF("t")))
          .groupBy("t")
          .agg(count(lit(1)).as("n_classes"),
            max("tvd_milli").as("max_tvd_milli"),
            sum(when(col("tvd_milli") > col("t"), 1L).otherwise(0L)).as("n_violating"),
            sum(when(col("tvd_milli") > col("t"), col("ncl")).otherwise(0L))
              .as("rows_at_risk"),
            expr("(1000000 * sum(CASE WHEN tvd_milli > t THEN ncl ELSE 0 END))" +
              " div sum(ncl)").as("risk_ppm"))
          .orderBy("t")
      }
    }
  )

  /** The q_cur_mad_outliers pipeline.
    *
    * Round 18 (r17 verdict item #4; guide §1.2 "the distributed
    * algorithm" + §2.4): the round-17 spelling ran the
    * med→deviation→MAD→flag chain as windows + broadcast joins over the
    * value-distinct frame — 49 stages / ~12 exchanges of metadata-sized
    * frames, 2.9 s of almost pure stage latency at the gate (Profile:
    * 49 stages, 3 s CPU). The three order-statistics levels need the
    * per-source value support ONLY, and that support is BOUNDED (n_chars
    * values; an unbounded-support score pre-buckets to quantile cells
    * first, as documented below), so the whole post-collapse computation
    * now runs as per-source ARRAY math: one (source, x) count collapse,
    * one (source)-keyed rollup into the sorted (x, c) support array,
    * then med2 / mad4 / outlier counts as higher-order folds in a single
    * projection — 2 shuffles total, no windows, no joins, nothing to
    * persist. Bit-identical by the same tie-run argument as before:
    * "min value with cum ≥ k" over the x-sorted (dv-sorted) support is
    * exactly the windowed selector, and the outlier sum is
    * merge-order-free integer addition. The folds are interpreted HOFs,
    * but over ≤|support| elements per SOURCE row — ~200 at gate,
    * corpus-size-independent at 100 TB (the whole point of the
    * value-distinct collapse). */
  private def madOutliers(s: SparkSession, d: String): DataFrame = {
    // med2/mad4 selector: fold the sorted (value, count) support,
    // carrying (f = running count, m1 = first value with f >= k1,
    // m2 = first value with f >= k2); med2 = m1 + m2 (the two central
    // order statistics on the doubled scale — see the catalog comment).
    def pair2(arr: String, v: String) =
      s"""aggregate($arr,
         |  named_struct('f', 0L, 'm1', CAST(NULL AS BIGINT), 'm2', CAST(NULL AS BIGINT)),
         |  (st, e) -> named_struct(
         |    'f', st.f + e.c,
         |    'm1', coalesce(st.m1, IF(st.f + e.c >= k1, e.$v, CAST(NULL AS BIGINT))),
         |    'm2', coalesce(st.m2, IF(st.f + e.c >= k2, e.$v, CAST(NULL AS BIGINT)))),
         |  st -> st.m1 + st.m2)""".stripMargin
    t(s, d, "documents")
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sort_array(collect_list(struct(col("x"), col("c")))).as("a"))
      .withColumn("n", expr("aggregate(a, 0L, (acc, e) -> acc + e.c)"))
      .withColumn("k1", expr("(n + 1) div 2"))
      .withColumn("k2", expr("(n + 2) div 2"))
      .withColumn("med2", expr(pair2("a", "x")))
      .withColumn("ds", expr(
        "array_sort(transform(a, e -> named_struct('dv', abs(2 * e.x - med2), 'c', e.c)))"))
      .withColumn("mad4", expr(pair2("ds", "dv")))
      .withColumn("n_outliers", expr(
        "aggregate(ds, 0L, (acc, e) -> acc + IF(2 * e.dv > 3 * mad4, e.c, 0L))"))
      .select(col("source"), col("n").as("n_docs"),
        col("med2").as("median_x2"), col("mad4").as("mad_x4"),
        col("n_outliers"),
        expr("(1000000 * n_outliers) div n").as("outlier_ppm"))
      .orderBy("source")
  }

  /** The q_cur_bloom_decontam pipeline. The small summary is
    * localCheckpointed so the persisted eval shingle set can unpersist. */
  private def bloomDecontam(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.SqlShims
    import org.apache.spark.sql.types.BinaryType
    // codegen'd word-3-gram shingles (round 18) — see [[WordNgrams]] for
    // the exact-equality contract with the HOF spelling it replaces
    val tri = graft.functions.WordNgrams.word_ngrams(col("w"), lit(3))
    val sh = t(s, d, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("source"), explode(tri).as("sh"))
    val ed = sh.filter(col("source") === "src0").select("sh").distinct()
    Qh.materializedWith(ed) {
      val bloomBytes = {
        val nEval = ed.count() // sizes the filter; the build is distributed
        val b = ed.select(xxhash64(col("sh")).as("h"))
          .stat.bloomFilter("h", math.max(nEval, 64L), 0.0001)
        val bos = new java.io.ByteArrayOutputStream()
        b.writeTo(bos)
        bos.toByteArray
      }
      val mightHit = SqlShims.column(BloomFilterMightContain(
        Literal(bloomBytes, BinaryType),
        SqlShims.expression(xxhash64(col("sh")))))
      val ps = sh.filter(col("source") =!= "src0")
      // one corpus-shingle scan counts probes AND bloom candidates
      val perProbe = ps.groupBy("source").agg(
        count(lit(1)).as("n_probe"),
        sum(when(mightHit, 1L).otherwise(0L)).as("n_cand"))
      val cand = ps.filter(mightHit) // only survivors pay the exact joins
      val present = cand.join(broadcast(ed), "sh")
        .groupBy("source").agg(count(lit(1)).as("n_present"))
      val ev = sh.filter(col("source") === "src0")
        .select(col("doc_id").as("eval_id"), col("sh"))
      val pairs = cand.join(broadcast(ev), "sh")
        .groupBy("doc_id", "source", "eval_id").agg(count(lit(1)).as("n_ov"))
        .filter(col("n_ov") >= 5)
        .groupBy("source").agg(
          countDistinct("doc_id").as("n_docs_flagged"),
          count(lit(1)).as("n_pairs"),
          sum("n_ov").as("n_overlap_total"))
      perProbe.join(present, Seq("source"), "left")
        .join(pairs, Seq("source"), "left")
        .select(col("source"), col("n_probe"),
          coalesce(col("n_present"), lit(0L)).as("n_present"),
          coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_overlap_total"), lit(0L)).as("n_overlap_total"),
          ((col("n_cand") - coalesce(col("n_present"), lit(0L))) * 100 <=
            (col("n_probe") - coalesce(col("n_present"), lit(0L)))).as("fp_ok"))
        .orderBy("source")
    }
  }
}
