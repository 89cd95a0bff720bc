package graft.streaming

import graft.queries.Qh
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One document as it arrives on an ingestion stream (mirrors the
  * driver's `documents` table schema). */
final case class Doc(
    doc_id: Long,
    text: String,
    lang: String,
    source: String,
    n_chars: Long)

/** One document on the packing ingest stream (token count precomputed
  * row-locally at parse time). */
final case class PackDoc(
    doc_id: Long,
    ts: java.sql.Timestamp,
    source: String,
    n_tokens: Int)

/** Per-source packer state: the running token offset of the source's
  * concatenated stream — ONE long per source, regardless of volume. */
final case class PackState(off: Long)

/** A document's placement in its source's packed context-window stream
  * (the shape q_cur_pack_sequences emits for the static corpus). */
final case class PackedDoc(
    source: String,
    doc_id: Long,
    n_tokens: Int,
    tok_start: Long,
    seq_first: Long,
    seq_last: Long,
    n_seqs: Long)

/** Streaming-ingestion curation: the quality gate and repetition filter
  * applied AT INGEST TIME, before documents ever land in the corpus.
  *
  * The batch catalog computes the same signals with explode + two-phase
  * (doc, gram) counts (`q_text_repetition`) — the cheaper plan for data
  * at rest. This module computes them ROW-LOCALLY (a sorted-run-length
  * fold inside one `aggregate` higher-order function), because a
  * streaming ingester wants the map-only form: no shuffle, no state
  * store, append output mode, works per micro-batch with arbitrary
  * batch boundaries. Most-frequent-gram count == longest equal run in
  * the sorted gram array, so the two forms are provably equal —
  * StreamingSpec asserts batch-vs-catalog and stream-vs-batch equality.
  *
  * At 100 TB/day of ingest this is the shape you want: every signal is
  * computed where the document is parsed, the filter drops rejects
  * before they are ever shuffled or stored, and the SAME code audits
  * the static corpus in batch mode.
  */
object DocStreams {

  /** Count of the most frequent element of `arr`, as the longest equal
    * run of the sorted array — one row-local fold, no shuffle. */
  private def topRun(arr: String): String =
    s"""aggregate(sort_array($arr),
       |  named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
       |  (a, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, 1),
       |    'best', greatest(a.best, IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, 1))),
       |  a -> a.best)""".stripMargin

  /** doc_id, lang, quality, repetition signals, and the keep decision —
    * identical semantics to q_text_quality + q_text_repetition's flags,
    * computed without any shuffle. Works on a streaming OR batch frame. */
  def signals(docs: DataFrame): DataFrame = {
    val stop = "t IN ('the', 'a', 'of', 'and', 'is')"
    val bigrams =
      "IF(size(w) >= 2, transform(sequence(0, size(w) - 2), " +
        "i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2))), " +
        "CAST(array() AS ARRAY<STRING>))"
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("quality",
        round(lit(0.5) * least(col("n_chars") / 400.0, lit(1.0)) +
          lit(0.5) * least(
            expr(s"size(filter(w, t -> $stop))").cast("double") / size(col("w")) * 10,
            lit(1.0)), 9))
      .withColumn("top_word_n", expr(topRun("w")))
      .withColumn("bg", expr(bigrams))
      .withColumn("top_bigram_n", expr(topRun("bg")))
      .withColumn("word_frac", col("top_word_n").cast("double") / size(col("w")))
      .withColumn("bigram_frac",
        when(size(col("bg")) > 0, col("top_bigram_n").cast("double") / size(col("bg")))
          .otherwise(lit(0.0)))
      .withColumn("repetitive", col("word_frac") > 0.2 || col("bigram_frac") > 0.18)
      .select(col("doc_id"), col("lang"), col("quality"),
        col("top_word_n"), col("top_bigram_n"), col("repetitive"))
  }

  /** The ingest-time keep filter: quality gate + repetition filter. */
  def curate(docs: DataFrame, minQuality: Double = 0.5): DataFrame =
    signals(docs).filter(col("quality") >= minQuality && !col("repetitive"))

  /** Watermarked per-window token counts over a timestamped text stream
    * — the trending-terms pipeline's stateful stage. Tokens explode
    * map-side; the windowed two-phase count's state is bounded by open
    * windows × vocabulary (windows retire as the watermark passes), not
    * by stream volume; append mode emits each (window, token) count
    * exactly once, finalized. */
  def tokenCounts(
      docs: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    docs
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(col("text"), " ")).as("token"))
      .groupBy(window(col("ts"), windowLen), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("token"), col("n"))

  /** Trending terms: top-k tokens per finalized window. Runs over
    * `tokenCounts` output — in streaming, downstream of the append sink
    * (the rows are final, so the rank is final); in batch, directly.
    * Per-window vocabulary bounds the sort. */
  def trendingTerms(finalizedCounts: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("n").desc, col("token"))
    finalizedCounts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("window_start", "rank")
  }

  /** Ingest-time PII redaction (streaming twin of the batch `q_cur_pii`
    * audit, same Java-regex/RE2-identical patterns): scrub email/phone
    * shapes and carry the per-doc redaction counts with the document —
    * row-local, no state, append mode; PII never reaches the corpus
    * store. */
  def redactPii(docs: DataFrame): DataFrame = {
    val email = "[a-z0-9]+@[a-z.]+[a-z]"
    val phone = "555-[0-9]{4}"
    docs.select(col("doc_id"), col("lang"),
      size(regexp_extract_all(col("text"), lit(email), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(phone), lit(0))).as("n_phones"),
      regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
        phone, "<PHONE>").as("text"))
  }

  /** Ingest-time decontamination: flag documents sharing >= `minOverlap`
    * distinct word 3-grams with the eval SUITE (the union of all eval
    * docs' shingles — the batch audit `q_cur_decontaminate` is finer,
    * counting per eval DOC; union overlap is a superset flag, which is
    * the safe direction for a block-at-ingest filter). The eval shingle
    * set is benchmark-sized (MBs), so it rides into the stream as one
    * literal array and the whole check is row-local: distinct doc
    * shingles ∩ eval set, no state, no shuffle, append mode. */
  def decontaminate(docs: DataFrame, evalShingles: Seq[String], minOverlap: Int = 5): DataFrame = {
    val tri =
      "IF(size(w) >= 3, array_distinct(transform(sequence(0, size(w) - 3), " +
        "i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3)))), " +
        "CAST(array() AS ARRAY<STRING>))"
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_overlap_eval",
        size(array_intersect(expr(tri), array(evalShingles.map(lit): _*))))
      .withColumn("contaminated", col("n_overlap_eval") >= minOverlap)
      .select(col("doc_id"), col("lang"), col("n_overlap_eval"), col("contaminated"))
  }

  /** The frozen DSIR model for ingest-time scoring: (bucket → micro-unit
    * log importance ratio), trained ONCE in batch over the existing
    * corpus (same construction as `q_cur_dsir`'s oracle-verified model).
    * 1024 entries — rides into the stream as a literal map, the same
    * way the decontamination shingle set does. */
  def dsirModel(corpus: DataFrame): Map[Long, Long] =
    graft.queries.CurationQueries
      .dsirLogRatios(graft.queries.CurationQueries.dsirHashedTokens(corpus))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Ingest-time DSIR scoring against a frozen model: hash each word to
    * its bucket INSIDE a transform lambda, sum the looked-up micro-unit
    * ratios with one row-local aggregate fold — no shuffle, no state,
    * append mode. Buckets unseen at training time score 0 (a new-corpus
    * token carries no importance evidence). The batch catalog computes
    * the identical score with a (doc, bucket) join against the same
    * model — StreamingSpec pins stream ≡ batch on the full corpus. */
  def dsirScore(docs: DataFrame, model: Map[Long, Long]): DataFrame = {
    val m = map(model.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    docs.select(col("doc_id"), col("lang"),
      aggregate(
        transform(split(col("text"), " "),
          g => coalesce(
            element_at(m, graft.functions.RollingHash.rolling_hash(g) % 1024),
            lit(0L))),
        lit(0L), (acc, x) => acc + x).as("wfp"))
      .withColumn("dsir_w", round(col("wfp") / 1e6, 6))
  }

  /** The frozen boilerplate model for ingest-time stripping: the
    * (source, segment-hash) pairs whose non-overlapping 8-word segment
    * repeats across ≥ 2 distinct docs of the same source — the SAME
    * rule q_text_boilerplate oracle-verifies in batch. Keys encode as
    * "source|hash" text so the stream tests membership against one
    * literal array (model state, like the DSIR ratios above).
    *
    * The collect is BOUNDED (round-9 verdict: at 100 TB the df≥2
    * segment set is not guaranteed "tiny"): keep the top `maxKeys` by
    * (df DESC, key) — highest-df segments are the template chrome the
    * stripper exists for; a dropped tail key was near the df threshold
    * anyway — and report the engaged cap LOUDLY with the exact drop
    * count (the capped-drop discipline of the LSH bucket caps; the
    * TakeOrdered top-N never sorts the full key set). A dropped key
    * means ingest under-strips until the next retrain, never that it
    * corrupts: stripping is monotone in the model. */
  def boilerplateModel(corpus: DataFrame, maxKeys: Int = 100000): Seq[String] = {
    val keys = corpus
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, (size(w) + 7) div 8 - 1), " +
          "i -> concat_ws(' ', slice(w, i * 8 + 1, 8)))")).as("s"))
      .select(col("source"), xxhash64(col("s")).as("hs"), col("doc_id"))
      .distinct()
      .groupBy("source", "hs").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(concat_ws("|", col("source"), col("hs").cast("string")).as("k"),
        col("df"))
    Qh.persisting(keys) {
      val total = keys.count()
      val kept = keys.orderBy(col("df").desc, col("k")).limit(maxKeys)
        .select("k").collect().map(_.getString(0)).toSeq.sorted
      val dropped = total - kept.size
      if (dropped > 0)
        System.err.println(
          s"[graft] boilerplateModel cap ENGAGED: kept ${kept.size} of " +
            s"$total df>=2 segment keys ($dropped lowest-df keys dropped; " +
            "ingest under-strips those templates until the next retrain)")
      kept
    }
  }

  /** Ingest-time boilerplate accounting against the frozen model:
    * segment the document ROW-LOCALLY (same 8-word windows), test each
    * segment's (source, hash) key against the broadcast-literal model,
    * and emit exactly q_text_boilerplate's per-doc columns — no
    * shuffle, no state, append mode. New boilerplate that emerges
    * AFTER training (a template introduced mid-stream) is invisible
    * until the next batch retrain, the standard frozen-model trade the
    * DSIR scorer documents. StreamingSpec pins stream ≡ batch-catalog
    * equality over the full corpus. */
  def stripBoilerplate(docs: DataFrame, model: Seq[String]): DataFrame = {
    val keys = array(model.map(lit): _*)
    val segs = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), expr(
        """transform(sequence(0, (size(w) + 7) div 8 - 1),
          |  i -> struct(concat_ws(' ', slice(w, i * 8 + 1, 8)) AS s,
          |              size(slice(w, i * 8 + 1, 8)) AS sn))""".stripMargin).as("segs"),
        col("source"))
      .select(col("doc_id"),
        transform(col("segs"), g => struct(
          g.getField("sn").cast("long").as("sn"),
          array_contains(keys,
            concat_ws("|", col("source"), xxhash64(g.getField("s")).cast("string")))
            .as("b"))).as("fl"))
    segs.select(col("doc_id"),
      size(col("fl")).cast("long").as("n_seg"),
      size(filter(col("fl"), g => g.getField("b"))).cast("long").as("n_boiler"),
      aggregate(col("fl"), lit(0L), (acc, g) => acc + g.getField("sn")).as("n_tok"),
      aggregate(col("fl"), lit(0L),
        (acc, g) => acc + when(g.getField("b"), g.getField("sn")).otherwise(lit(0L)))
        .as("n_tok_removed"))
      .withColumn("boiler_share",
        round(col("n_tok_removed").cast("double") / col("n_tok"), 9))
  }

  /** The eval suite's distinct shingle union, computed once in batch
    * from the eval partition of the corpus (source = 'src0'). */
  def evalShingleSet(evalDocs: DataFrame): Seq[String] = {
    val tri =
      "array_distinct(transform(sequence(0, size(w) - 3), " +
        "i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))"
    evalDocs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(explode(expr(tri)).as("sh")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Ingest-time encoding QA (streaming twin of the batch
    * `q_text_mojibake` audit, same RE2-safe patterns over the REAL text
    * — no derived corruption here; the batch audit injects its own to
    * exercise branches): flag U+FFFD replacement characters, C0 control
    * characters, and a >5% non-ASCII share, and carry the flags with the
    * document so the sink can quarantine instead of ingesting garbage.
    * Row-local, no state, append mode — runs at scan speed in the same
    * select as the quality gate. */
  def encodingFlags(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("text"),
      (instr(col("text"), "\uFFFD") > 0).as("has_replacement"),
      col("text").rlike("[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]").as("has_control"),
      (lit(1000) * (length(col("text"))
          - length(regexp_replace(col("text"), "[^\\x01-\\x7f]", "")))
        > lit(50) * length(col("text"))).as("high_nonascii"))
      .withColumn("keep",
        !col("has_replacement") && !col("has_control") && !col("high_nonascii"))

  /** The windowed histogram the drift monitors score: `docs`' `ts` cast
    * to a timestamp and watermarked, `bucketed` maps each row to (ts,
    * keys…, bucket `b`), and each event-time window and key set gets its
    * `buckets` counts as the array `h` — one conditional sum per bucket
    * inside the ONE streaming aggregation, so the state per open window
    * is `buckets` longs, no value lists — and their total `n`, next to
    * `window_start` and the keys. */
  private def windowHistogram(docs: DataFrame, buckets: Int, windowLen: String,
      watermark: String, keys: String*)(bucketed: DataFrame => DataFrame): DataFrame = {
    val hcols = (0 until buckets).map(i =>
      sum(when(col("b") === i, 1L).otherwise(0L)).as(s"h$i"))
    bucketed(docs.withColumn("ts", col("ts").cast("timestamp")).withWatermark("ts", watermark))
      .groupBy(window(col("ts"), windowLen) +: keys.map(col): _*)
      .agg(hcols.head, hcols.tail: _*)
      .select((col("window.start").as("window_start") +: keys.map(col)) :+
        array((0 until buckets).map(i => col(s"h$i")): _*).as("h"): _*)
      .withColumn("n", expr("aggregate(h, 0L, (a, x) -> a + x)"))
  }

  /** The 64 fixed length buckets of the KS and Mann-Whitney monitors
    * and their reference models. */
  private def lengthBucket: Column = expr("least(length(text) div 64, 63)").as("b")

  /** ONE reference-corpus count pass over the 64 fixed length buckets —
    * the shared derivation of both frozen drift models ([[ksRefModel]]'s
    * CDF and [[mwRefModel]]'s histogram are driver-side folds of this
    * same 64-long array, so freezing both monitors costs one corpus
    * scan, not two). */
  private def refBucketCounts(corpus: DataFrame): Array[Long] = {
    val counts = corpus
      .select(lengthBucket)
      .groupBy("b").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Array.tabulate(64)(i => counts.getOrElse(i, 0L))
  }

  /** Frozen reference length-distribution model for [[ksDriftAlerts]]:
    * cumulative counts over 64 FIXED buckets (least(len div 64, 63)) of
    * `length(text)` plus the total — 65 longs of driver model state,
    * bounded BY CONSTRUCTION (the pre-bucketed production form the
    * q_agg_ks batch comment prescribes for unbounded-support scores).
    * One two-phase count pass over the reference corpus. */
  def ksRefModel(corpus: DataFrame): (Array[Long], Long) = {
    val cnt = refBucketCounts(corpus)
    val cum = cnt.scanLeft(0L)(_ + _).drop(1)
    (cum, cum.last)
  }

  /** Streaming distribution-drift monitor — the live twin of the batch
    * `q_agg_ks` two-sample Kolmogorov-Smirnov gate: each finalized
    * event-time window's length distribution is KS-tested against the
    * FROZEN reference CDF (broadcast literal — the frozen-baseline
    * lambda shape of `EventStreams.anomalies`). The window histogram is
    * [[windowHistogram]]'s 64 longs of state per window; the sup and
    * the asymptotic 95% reject bar are then ROW-LOCAL integer folds
    * over the finalized histogram, exactly q_agg_ks's integer-sup form
    * (D on the common refN·n denominator; reject bar squared to ppm).
    * Append mode: a drift row finalizes exactly once per window —
    * enforcement sinks can quarantine the window's shard without
    * dedup. Flag products run in 128-bit (the q_agg_ks convention) so
    * no pooled-sample scale overflows them. */
  def ksDriftAlerts(
      docs: DataFrame,
      refCum: Array[Long],
      refN: Long,
      windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame = {
    val refLit = refCum.mkString("array(", "L, ", "L)")
    windowHistogram(docs, 64, windowLen, watermark)(_.select(col("ts"), lengthBucket))
      .withColumn("d_num", expr(
        s"""aggregate(sequence(0, 63),
           |  named_struct('cum', 0L, 'best', 0L),
           |  (a, i) -> named_struct(
           |    'cum', a.cum + element_at(h, i + 1),
           |    'best', greatest(a.best,
           |      abs(${refN}L * (a.cum + element_at(h, i + 1))
           |          - n * element_at($refLit, i + 1)))),
           |  a -> a.best)""".stripMargin))
      .select(col("window_start"), col("n"), col("d_num"),
        // 128-bit numerator (q_agg_ks convention): d_num ≤ refN·n, so
        // 1000·d_num overflows BIGINT past ~9.2e15 — decimal div
        // returns BIGINT and the quotient is ≤ 1000 by construction
        when(col("n") > 0, expr(
          s"""(CAST(1000 AS DECIMAL(38,0)) * d_num)
             | div (CAST($refN AS DECIMAL(38,0)) * n)""".stripMargin))
          .otherwise(lit(0L)).as("d_milli"),
        (col("n") > 0 && {
          // 128-bit flag products, the q_agg_ks convention — BIGINT
          // overflows past ~1.4M pooled samples
          val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
          lit(1000000L).cast(d38) * col("d_num").cast(d38) *
            col("d_num").cast(d38) >
            lit(1844164L).cast(d38) * lit(refN).cast(d38) *
              col("n").cast(d38) * (lit(refN) + col("n")).cast(d38)
        }).as("drift"))
  }

  /** Frozen reference model for [[mwDriftAlerts]]: PER-BUCKET counts
    * (not the CDF — the rank fold needs both the count at each bucket
    * and the cumulative before it) over the same 64 fixed length
    * buckets as [[ksRefModel]], plus the total. 65 longs of bounded
    * driver model state; one two-phase count pass over the reference
    * corpus. */
  def mwRefModel(corpus: DataFrame): (Array[Long], Long) = {
    val cnt = refBucketCounts(corpus)
    (cnt, cnt.sum)
  }

  /** Streaming stochastic-dominance monitor — the live twin of the
    * batch `q_agg_mannwhitney` rank-sum test, in the same
    * frozen-baseline lambda shape as [[ksDriftAlerts]]: each finalized
    * window's length distribution is Mann-Whitney-tested against the
    * FROZEN reference histogram (broadcast literals). Where KS asks
    * "same distribution?", this asks the DIRECTED question a crawl-ops
    * rotation actually pages on: "are the new window's documents
    * stochastically LONGER/SHORTER than the reference mix?".
    *
    * The statistic is the batch query's exact tie-averaged doubled-rank
    * form evaluated over the 64-bucket pooled support: for bucket b
    * with pooled count ct = ref(b) + h(b) after cb pooled predecessors,
    * each window doc in b contributes the integer 2·cb + ct + 1, so
    * r1x2 folds row-locally over the finalized histogram with ZERO new
    * stream state (the same 64-long window state as the KS monitor;
    * u1_x2 + u2_x2 = 2·n·refN by the batch identity). r1x2 ≤ 2·n·N
    * stays BIGINT-safe to ~2e9 pooled samples; auc_milli's numerator is
    * lifted to DECIMAL(38,0), the q_agg_ks d_milli convention.
    * dominant_95 applies the two-sided 5% normal approximation WITH the
    * tie correction (binned data is all ties); unlike the exact integer
    * statistics it is computed in double — the 1.96 bar is itself an
    * asymptotic truncation, and the pure-integer spelling of the
    * tie-corrected variance needs ~n1·n2·N³ digits, past DECIMAL(38)
    * at window scales the integer KS bar still handles. Append mode:
    * one row per finalized window, quarantine-ready without dedup. */
  def mwDriftAlerts(
      docs: DataFrame,
      refCnt: Array[Long],
      refN: Long,
      windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame = {
    val refLit = refCnt.mkString("array(", "L, ", "L)")
    val refCumB = refCnt.scanLeft(0L)(_ + _).dropRight(1) // pooled-before, ref side
      .mkString("array(", "L, ", "L)")
    windowHistogram(docs, 64, windowLen, watermark)(_.select(col("ts"), lengthBucket))
      // doubled tie-averaged rank sum of the window group over the
      // pooled 64-bucket support: one row-local integer fold
      .withColumn("r1x2", expr(
        s"""aggregate(sequence(0, 63),
           |  named_struct('cw', 0L, 'acc', 0L),
           |  (a, i) -> named_struct(
           |    'cw', a.cw + element_at(h, i + 1),
           |    'acc', a.acc + element_at(h, i + 1) *
           |      (2 * (element_at($refCumB, i + 1) + a.cw)
           |       + element_at($refLit, i + 1) + element_at(h, i + 1) + 1)),
           |  a -> a.acc)""".stripMargin))
      // tie spectrum sum T = sum over buckets of (ct^3 - ct), for the
      // tie-corrected variance (every bucket is one tie group)
      .withColumn("tie_t", expr(
        s"""aggregate(sequence(0, 63), CAST(0 AS DOUBLE),
           |  (a, i) -> a + CAST(element_at($refLit, i + 1) + element_at(h, i + 1) AS DOUBLE)
           |              * (element_at($refLit, i + 1) + element_at(h, i + 1))
           |              * (element_at($refLit, i + 1) + element_at(h, i + 1))
           |            - (element_at($refLit, i + 1) + element_at(h, i + 1)))""".stripMargin))
      .withColumn("u1_x2", col("r1x2") - col("n") * (col("n") + 1))
      .select(col("window_start"), col("n"),
        col("u1_x2"),
        (lit(2L) * col("n") * lit(refN) - col("u1_x2")).as("u2_x2"),
        when(col("n") > 0, expr(
          s"""(CAST(1000 AS DECIMAL(38,0)) * u1_x2)
             | div (CAST(2 AS DECIMAL(38,0)) * n * ${refN}L)""".stripMargin))
          .otherwise(lit(0L)).as("auc_milli"),
        (col("n") > 0 && {
          // two-sided 5% bar, tie-corrected: (u1_x2 - n·refN)^2 =
          // 4·(U1 - mean)^2 > 4·1.96²·Var(U1), with Var = n·refN/12 ·
          // ((N+1) - T/(N(N-1))), N = n + refN
          val bigN = col("n").cast("double") + lit(refN.toDouble)
          val dev2 = (col("u1_x2") - col("n") * lit(refN)).cast("double")
          val varU = col("n").cast("double") * lit(refN.toDouble) / 12.0 *
            ((bigN + 1.0) - col("tie_t") / (bigN * (bigN - 1.0)))
          dev2 * dev2 > lit(4.0 * 1.96 * 1.96) * varU
        }).as("dominant_95"))
  }

  /** Frozen reference content model for [[psiDriftAlerts]]: per-bucket
    * token counts of the REFERENCE source over the same 256
    * rolling-hash content buckets as the batch `q_text_psi_bysource`
    * feature space, plus the total. 257 longs of driver model state;
    * the corpus pass collapses map-side to (bucket, count) before
    * anything reaches the driver. */
  def psiRefModel(corpus: DataFrame, refSource: String = "src0"): (Array[Long], Long) = {
    val m = corpus.filter(col("source") === refSource)
      .select(explode(split(col("text"), " ")).as("g"))
      .select((graft.functions.RollingHash.rolling_hash(col("g")) % 256).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val cnt = Array.tabulate(256)(m.getOrElse(_, 0L))
    (cnt, cnt.sum)
  }

  /** Streaming content-drift monitor — the live twin of the batch
    * `q_text_psi_bysource` Population Stability Index, in the same
    * frozen-baseline lambda shape as [[ksDriftAlerts]]/[[mwDriftAlerts]]:
    * each source's tokens in each finalized event-time window are
    * bucketed by the SAME rolling-hash-mod-256 content features, and
    * the window histogram is PSI-scored against the frozen reference
    * source model (broadcast literals) with the batch query's exact
    * Laplace-(+1/+256) smoothing, per-bucket nano integerization
    * (terms rounded to integers BEFORE summing, so the fold is
    * merge-order-independent), and the classic credit-scoring
    * thresholds (0.10 moderate / 0.25 major). Where the KS monitor
    * watches the LENGTH distribution, this pages on CONTENT shift per
    * source — the crawl-ops "did src7 start serving something else"
    * alarm. State per (window, source) is exactly 256 longs regardless
    * of corpus size; tokens collapse map-side into the histogram
    * columns and never reach the state store. Append mode: one row per
    * finalized (window, source). A window holding precisely the
    * reference multiset scores psi_nano = 0 (every term is ln(1)),
    * which StreamingSpec pins along with stream ≡ batch. */
  def psiDriftAlerts(
      docs: DataFrame,
      refCnt: Array[Long],
      refN: Long,
      windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame = {
    val refLit = refCnt.mkString("array(", "L, ", "L)")
    windowHistogram(docs, 256, windowLen, watermark, "source") {
      _.select(col("ts"), col("source"), explode(split(col("text"), " ")).as("g"))
        .select(col("ts"), col("source"),
          (graft.functions.RollingHash.rolling_hash(col("g")) % 256).as("b"))
    }.withColumnRenamed("n", "n_tokens")
      // 1.0D/256.0D: in SQL text a bare `1.0` is a DECIMAL literal, and
      // decimal division rounds differently from the batch query's
      // double arithmetic — the D suffix keeps every term in the exact
      // same double ops as q_text_psi_bysource's Column spelling
      .withColumn("psi_nano", expr(
        s"""aggregate(sequence(0, 255), 0L, (a, i) ->
           |  a + CAST(ROUND(
           |    ((element_at(h, i + 1) + 1.0D) / (n_tokens + 256.0D)
           |      - (element_at($refLit, i + 1) + 1.0D) / (${refN}L + 256.0D))
           |    * ln(((element_at(h, i + 1) + 1.0D) / (n_tokens + 256.0D))
           |         / ((element_at($refLit, i + 1) + 1.0D) / (${refN}L + 256.0D)))
           |    * 1e9) AS BIGINT))""".stripMargin))
      .select(col("window_start"), col("source"), col("n_tokens"),
        col("psi_nano"),
        (col("psi_nano") > 100000000L).as("moderate_shift"),
        (col("psi_nano") > 250000000L).as("major_shift"))
  }

  /** Streaming sequence packer — the ingest twin of the batch
    * `q_cur_pack_sequences` concat-and-chunk: documents are packed into
    * fixed `window`-token context sequences AS THEY ARRIVE, one packed
    * stream per source, via `flatMapGroupsWithState`. State per source
    * is exactly ONE long (the running token offset of the concatenated
    * stream) no matter how many documents flow through — the packer
    * never buffers text, only arithmetic on token counts; each emitted
    * row is the document's byte-map into its source's window stream
    * (tok_start, first/last window, span), the same columns the batch
    * operator computes for data at rest. Zero padding waste by
    * construction, like the batch twin. ORDER CONTRACT: the batch
    * operator packs in doc_id order (a static corpus has no arrival
    * order); the ingest packer packs in ARRIVAL order, (ts, doc_id)-
    * sorted within each micro-batch — deterministic under replay with
    * the same batch boundaries, and the honest semantics of a loader-
    * side packer (a global order over an unbounded stream doesn't
    * exist). StreamingSpec pins stream ≡ the window-function batch
    * spelling of the same per-source prefix sum, and gap-freeness. */
  def packAtIngest(docs: Dataset[PackDoc], window: Int = 256): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[PackState, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src, batch, state) =>
          val sorted = batch.toSeq.sortBy(d => (d.ts.getTime, d.doc_id))
          var off = state.getOption.map(_.off).getOrElse(0L)
          val out = sorted.map { d =>
            val first = off / window
            val last = (off + math.max(d.n_tokens, 1) - 1) / window
            val r = PackedDoc(src, d.doc_id, d.n_tokens, off,
              first, last, last - first + 1)
            off += d.n_tokens
            r
          }
          state.update(PackState(off))
          out.iterator
      }
  }

  /** Ingest-time REAL image decode (streaming twin of the batch
    * `q_mm_decode_real` catalog row): binary PNG payloads arrive on the
    * stream, each micro-batch decodes through the actual JDK codec
    * (`javax.imageio`) partition-locally, and only doc_id + dims +
    * per-channel pixel sums reach the sink \u2014 payloads live and die
    * inside the task, exactly the batch query's shuffle profile.
    * Stateless append mode: the multimodal feature-extraction stage of
    * a streaming ingest runs at scan speed with no watermark, no state
    * store, and no codec work on the driver. StreamingSpec pins
    * stream \u2261 batch on the same generated corpus. */
  def decodeImageStats(recs: Dataset[(Long, Array[Byte])]): DataFrame = {
    val enc = org.apache.spark.sql.Encoders
      .product[(Long, Int, Int, Long, Long, Long)]
    recs.mapPartitions(_.map { case (id, png) =>
      val (w, h, sr, sg, sb) = graft.queries.MultimodalQueries.decodeStats(png)
      (id, w, h, sr, sg, sb)
    })(enc).toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Frozen robust thresholds for [[madGate]]: per-source (2·median,
    * 4·MAD) of `n_chars` on the doubled integer scale, exactly the
    * q_cur_mad_outliers statistics (sum of the two central order
    * statistics — no interpolation float). The corpus pass collapses
    * map-side to (source, value) COUNTS before anything reaches the
    * driver — the q_agg_ks value-distinct economics, same as the other
    * frozen-model builders — so driver state is bounded by the value
    * support (pre-bucket an unbounded score first, like the KS
    * monitor), never the corpus; the medians are exact weighted order
    * statistics over those counts. */
  def madModel(corpus: DataFrame): Map[String, (Long, Long)] = {
    val vc = corpus.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // k-th order statistic (1-indexed) of the weighted, sorted values
    def kth(sorted: Seq[(Long, Long)], k: Long): Long = {
      var cum = 0L
      sorted.find { case (_, c) => cum += c; cum >= k }.get._1
    }
    vc.groupBy(_._1).map { case (src, rows) =>
      val xs = rows.map(t => (t._2, t._3)).sortBy(_._1)
      val n = xs.map(_._2).sum
      val (k1, k2) = ((n + 1) / 2, (n + 2) / 2)
      val med2 = kth(xs, k1) + kth(xs, k2)
      val dv = xs.groupBy { case (x, _) => (2 * x - med2).abs }
        .map { case (d, g) => (d, g.map(_._2).sum) }.toSeq.sortBy(_._1)
      src -> (med2, kth(dv, k1) + kth(dv, k2))
    }
  }

  /** Frozen eval-suite bloom filter for [[bloomGate]]: the distinct
    * 3-gram shingles of the eval source, hashed into ~2.4 bytes/entry
    * at fpp 1e-4 (built distributed via treeAggregate; the same filter
    * bytes q_cur_bloom_decontam embeds). Driver model state. */
  def bloomModel(corpus: DataFrame, evalSource: String = "src0"): Array[Byte] = {
    val tri = expr(
      "array_distinct(transform(sequence(0, size(w) - 3), i -> " +
        "concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))")
    val ed = corpus.filter(col("source") === evalSource)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(explode(tri).as("sh")).distinct()
    Qh.persisting(ed) {
      val n = ed.count()
      val b = ed.select(xxhash64(col("sh")).as("h"))
        .stat.bloomFilter("h", math.max(n, 64L), 0.0001)
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
  }

  /** Ingest-time decontamination gate — the streaming first stage of
    * q_cur_bloom_decontam: each arriving document's distinct 3-gram
    * shingles probe the FROZEN eval-suite bloom ROW-LOCALLY (a
    * higher-order `filter` whose predicate is the codegen
    * BloomFilterMightContain over the broadcast filter bytes — no
    * explode, no shuffle, no state; stateless append at scan speed),
    * and a document with ≥ `minHits` bloom-positive shingles is
    * QUARANTINED for exact verification. Recall is structural: a doc
    * sharing ≥ minHits exact shingles with any eval doc has ≥ minHits
    * present shingles, every present shingle is bloom-positive (no
    * false negatives), so every doc the batch exact audit flags is
    * quarantined — StreamingSpec pins that superset plus stream ≡
    * batch; false positives only widen the quarantine, never the
    * release. */
  def bloomGate(docs: DataFrame, bloom: Array[Byte], minHits: Int = 5): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.SqlShims
    import org.apache.spark.sql.types.BinaryType
    val tri = expr(
      "array_distinct(transform(sequence(0, size(w) - 3), i -> " +
        "concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))")
    def hit(x: org.apache.spark.sql.Column) = SqlShims.column(
      BloomFilterMightContain(Literal(bloom, BinaryType),
        SqlShims.expression(xxhash64(x))))
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("sh",
        when(size(col("w")) >= 3, tri)
          .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), col("source"),
        size(col("sh")).as("n_shingles"),
        size(filter(col("sh"), hit _)).as("n_cand"))
      .withColumn("quarantine", col("n_cand") >= minHits)
  }

  /** Ingest-time robust outlier gate (streaming twin of the batch
    * `q_cur_mad_outliers` audit): each arriving document is flagged
    * against its source's FROZEN median/MAD thresholds — the
    * frozen-baseline lambda shape of the drift monitors, but row-local
    * and stateless (no window, no state store, append mode at scan
    * speed): keep ⟺ |x − med| ≤ 3·MAD, spelled in the same pure
    * integers as the batch query (2·|2x − med2| ≤ 3·mad4). A source
    * absent from the frozen model passes (audit-new-sources-first
    * policy; the flag column keeps it visible). */
  def madGate(docs: DataFrame, model: Map[String, (Long, Long)]): DataFrame = {
    val med2 = typedLit(model.map { case (k, v) => k -> v._1 })
    val mad4 = typedLit(model.map { case (k, v) => k -> v._2 })
    docs.select(col("doc_id"), col("source"), col("n_chars"),
      (element_at(med2, col("source")).isNotNull &&
        lit(2) * abs(lit(2) * col("n_chars") - element_at(med2, col("source"))) >
          lit(3) * element_at(mad4, col("source"))).as("outlier"))
      .withColumn("keep", !col("outlier"))
  }

  /** Ingest-time REAL multi-frame video decode (streaming twin of the
    * batch `q_mm_video_frames_real` catalog row): animated-GIF payloads
    * arrive on the stream, each micro-batch decodes EVERY stored frame
    * through the actual JDK ImageReader partition-locally, and one row
    * per (doc, frame) with integer pixel stats reaches the sink — the
    * per-record fan-out (rows = frames) happens inside the same narrow
    * stage, payloads never shuffle. Stateless append mode, same
    * scan-speed profile as the image/audio ingest twins. */
  def decodeVideoFrames(recs: Dataset[(Long, Array[Byte])]): DataFrame = {
    val enc = org.apache.spark.sql.Encoders
      .product[(Long, Int, Int, Long, Long, Int, Int)]
    recs.mapPartitions(_.flatMap { case (id, gif) =>
      val frames = graft.queries.MultimodalQueries.decodeGifFrames(gif)
      frames.map { case (f, w, h, sum, mn, mx) =>
        (id, frames.length, f, w.toLong * h, sum, mn, mx)
      }
    })(enc).toDF("doc_id", "n_frames", "frame_idx", "n_pixels", "sum_v", "min_v", "max_v")
  }

  /** Ingest-time REAL audio decode (streaming twin of the batch
    * `q_mm_audio_decode_real` catalog row): WAV payloads decode through
    * the actual JDK codec (`javax.sound.sampled`) per micro-batch,
    * partition-local and stateless, emitting only doc_id + integer
    * sample stats — the speech-corpus QA scan at ingest. */
  def decodeAudioStats(recs: Dataset[(Long, Array[Byte])]): DataFrame = {
    val enc = org.apache.spark.sql.Encoders
      .product[(Long, Long, Long, Long, Int, Int)]
    recs.mapPartitions(_.map { case (id, wav) =>
      val (n, sum, sabs, mn, mx) = graft.queries.MultimodalQueries.decodeWavStats(wav)
      (id, n, sum, sabs, mn, mx)
    })(enc).toDF("doc_id", "n_samples", "sum_s", "sum_abs", "min_s", "max_s")
  }
}
