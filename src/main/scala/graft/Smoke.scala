package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smokes: build derived large corpora under /tmp (documents × M
  * with exact duplicate copies — a dedup stress; embeddings × M with
  * deterministically jittered copies — distinct vectors so ANN recall is
  * a real measurement, not a tie-break artifact), run the scale-path
  * operators on them through the SAME catalog entries the gate runs, and
  * report wall-clock + recall/convergence. This is the evidence
  * BASELINE.md's "Scale smoke" section cites; it is not part of the
  * driver gate.
  *
  * Usage: Smoke <sfDir> [docMult] [vecMult]   (defaults 10, 25)
  */
object Smoke {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def topIds(spark: SparkSession, dir: String, q: String): Set[Long] =
    SparkEntry.queries(q)(spark, dir).select("vec_id").collect().map(_.getLong(0)).toSet

  /** Build (or reuse) the derived ×M corpus under /tmp, keyed by its
    * multipliers so reruns measure the same artifacts. */
  private def ensureCorpus(spark: SparkSession, sfDir: String, dir: String,
      docMult: Int, vecMult: Int): Unit = {
    if (!new java.io.File(s"$dir/documents.parquet", "_SUCCESS").exists()) {
      val docs = Tables.df(spark, sfDir, "documents")
      val n = docs.count()
      docs.crossJoin(spark.range(docMult).toDF("copy"))
        .withColumn("doc_id", col("doc_id") + col("copy") * n)
        .drop("copy")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    }
    if (!new java.io.File(s"$dir/embeddings.parquet", "_SUCCESS").exists()) {
      val em = Tables.df(spark, sfDir, "embeddings")
      val n = em.count()
      // copy 0 keeps original ids (so vec_id=0, the catalog's query
      // vector, exists); every copy is jittered by a deterministic
      // per-(id, dim) term so copies are near- but not exact duplicates
      em.crossJoin(spark.range(vecMult).toDF("copy"))
        .withColumn("vec_id", col("vec_id") + col("copy") * n)
        .withColumn("embedding", expr(
          "transform(embedding, (x, i) -> x + CAST(0.01 * sin(CAST(vec_id AS DOUBLE) * (i + 1)) AS FLOAT))"))
        .drop("copy")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    }
    if (!new java.io.File(s"$dir/events.parquet", "_SUCCESS").exists()) {
      // ×docMult events as DISTINCT users (ids offset per copy): the
      // temporal operators are per-user, so semantics stay exact and
      // outputs scale linearly — a pure wall-clock probe of the
      // user_id-shuffle family (asof/interval/resample/sessionize)
      val ev = Tables.df(spark, sfDir, "events")
      val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
      val maxEvent = ev.agg(max("event_id")).head().getLong(0) + 1
      ev.crossJoin(spark.range(docMult).toDF("copy"))
        .withColumn("user_id", col("user_id") + col("copy") * maxUser)
        .withColumn("event_id", col("event_id") + col("copy") * maxEvent)
        .drop("copy")
        .withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val docMult = if (args.length > 1) args(1).toInt else 10
    val vecMult = if (args.length > 2) args(2).toInt else 25
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(master = s"local[$cpus]", appName = "graft-smoke")
    val dir = s"/tmp/graft_smoke/${new java.io.File(sfDir).getName}_d${docMult}_v$vecMult"
    ensureCorpus(spark, sfDir, dir, docMult, vecMult)
    val nDocs = Tables.parquet(spark, s"$dir/documents.parquet").count()
    val nVecs = Tables.parquet(spark, s"$dir/embeddings.parquet").count()
    val nEvents = Tables.parquet(spark, s"$dir/events.parquet").count()
    println(s"SMOKE corpus: $nDocs docs, $nVecs vectors, $nEvents events at $dir")

    // --- ANN recall at scale (vs brute force on the same corpus) -------
    val (exact, tBf) = time(topIds(spark, dir, "q_ann_bruteforce"))
    val (lsh, tLsh) = time(topIds(spark, dir, "q_ann_lsh"))
    val (ivf, tIvf) = time(topIds(spark, dir, "q_ann_ivf"))
    val (ivfIdxBuild, tIdx) = time(topIds(spark, dir, "q_ann_ivf_index")) // build + first probe
    val (ivfIdx, tProbe) = time(topIds(spark, dir, "q_ann_ivf_index"))    // warm probe only
    require(ivfIdxBuild == ivfIdx, "persisted-index probe must be deterministic")
    val (pqBuild, tPqB) = time(topIds(spark, dir, "q_ann_pq"))            // codebook+encode+probe
    val (pq, tPq) = time(topIds(spark, dir, "q_ann_pq"))                  // warm ADC probe
    require(pqBuild == pq, "PQ probe must be deterministic")
    def recall(a: Set[Long]): Double = exact.intersect(a).size.toDouble / exact.size
    println(f"SMOKE ann: bruteforce=${tBf}%.1fs lsh=${tLsh}%.1fs (recall=${recall(lsh)}%.2f) " +
      f"ivf=${tIvf}%.1fs (recall=${recall(ivf)}%.2f) " +
      f"ivf_index build+probe=${tIdx}%.1fs probe=${tProbe}%.1fs (recall=${recall(ivfIdx)}%.2f) " +
      f"pq build+probe=${tPqB}%.1fs probe=${tPq}%.1fs (recall=${recall(pq)}%.2f)")

    // --- dedup scale path ----------------------------------------------
    val (nPairs, tMh) = time(SparkEntry.queries("q_dedup_minhash")(spark, dir).count())
    val (nClustered, tCl) = time(SparkEntry.queries("q_dedup_clusters")(spark, dir).count())
    val (nNgPairs, tNg) = time(SparkEntry.queries("q_dedup_ngram_jaccard")(spark, dir).count())
    println(f"SMOKE dedup: minhash=${tMh}%.1fs ($nPairs pairs) " +
      f"clusters=${tCl}%.1fs ($nClustered labeled docs) " +
      f"ngram_jaccard=${tNg}%.1fs ($nNgPairs pairs)")

    // --- adversarial LSH mega-bucket ------------------------------------
    // 10k boilerplate variants that SURVIVE exact dedup (each ends in a
    // unique token, jaccard ≈ 0.93 to its siblings) — uncapped, all land
    // in the same band buckets and expand ~10k²/2 ≈ 50M candidate pairs
    // PER BAND from single collect_set rows; the bucket cap must keep
    // this bounded (≤ 16·cap²/2 candidates) and report its drops via the
    // graft_lsh_bucket_cap observe metric (printed on stderr).
    val advDir = s"$dir/adversarial"
    if (!new java.io.File(s"$advDir/documents.parquet", "_SUCCESS").exists()) {
      val boiler = (1 to 60).map(i => s"tok$i").mkString(" ")
      spark.range(10000).selectExpr(
        "id + 1 AS doc_id",
        s"concat('$boiler', ' unique', CAST(id AS STRING)) AS text")
        .write.mode(SaveMode.Overwrite).parquet(s"$advDir/documents.parquet")
    }
    val (nAdvPairs, tAdv) = time(
      graft.queries.PipelineQueries
        .minhashPairs(spark, advDir, graft.queries.PipelineQueries.LshBucketCap)
        .count())
    println(f"SMOKE adversarial mega-bucket: 10000 boilerplate docs, " +
      f"capped pair expansion=${tAdv}%.1fs ($nAdvPairs verified pairs; " +
      f"uncapped would expand ~800M candidates)")
    // Same corpus through the ngram-jaccard path: every boilerplate gram's
    // posting list is 10k docs; the df cap must bound each at `cap`
    // smallest ids (cluster still found) with drops on stderr.
    val (nAdvNg, tAdvNg) = time(
      graft.queries.PipelineQueries
        .ngramJaccardPairs(spark, advDir, graft.queries.PipelineQueries.NgramDfCap)
        .count())
    println(f"SMOKE adversarial ngram-jaccard: capped postings=${tAdvNg}%.1fs " +
      f"($nAdvNg verified pairs; uncapped would expand ~60·10k²/2 candidates)")

    // --- curation/text operators at scale (round 7) ---------------------
    // The ×M corpus multiplies BOTH sides of the decontamination audit
    // (every eval doc and every contaminated doc appears M times →
    // pair count scales ~M², broadcast profile/shingle sets scale ~M —
    // still model-sized); repetition and langid scale linearly in docs.
    // --- temporal operators at scale (round 7) --------------------------
    val (nAsof, tAsof) = time(SparkEntry.queries("q_join_asof")(spark, dir).count())
    val (nIv, tIv) = time(SparkEntry.queries("q_join_interval")(spark, dir).count())
    val (nRs, tRs) = time(SparkEntry.queries("q_events_resample")(spark, dir).count())
    val (nSess, tSess) = time(SparkEntry.queries("q_events_sessionize")(spark, dir).count())
    println(f"SMOKE temporal: asof=${tAsof}%.1fs ($nAsof rows) interval=${tIv}%.1fs ($nIv) " +
      f"resample=${tRs}%.1fs ($nRs) sessionize=${tSess}%.1fs ($nSess)")

    val (nDecon, tDecon) = time(SparkEntry.queries("q_cur_decontaminate")(spark, dir).count())
    val (nRep, tRep) = time(
      SparkEntry.queries("q_text_repetition")(spark, dir).filter("repetitive").count())
    val (nLang, tLang) = time(SparkEntry.queries("q_text_langid")(spark, dir).count())
    val (nE2e, tE2e) = time(SparkEntry.queries("q_cur_end2end")(spark, dir).count())
    println(f"SMOKE curation: decontaminate=${tDecon}%.1fs ($nDecon pairs) " +
      f"repetition=${tRep}%.1fs ($nRep flagged) langid=${tLang}%.1fs ($nLang scored) " +
      f"end2end=${tE2e}%.1fs ($nE2e lang-split cells)")

    // --- round-8 operators at scale --------------------------------------
    // heavy hitters: sketch pass + candidate recount, both linear scans;
    // domain caps: heap partials bound the per-source shuffle; pii +
    // upsert + weighted sample: row-local / broadcast-delta shapes;
    // hopping: 4× map-side expand then windows×types-bounded agg.
    val (_, tBpe) = time(SparkEntry.queries("q_text_bpe")(spark, dir).count())
    val (nPmi, tPmi) = time(SparkEntry.queries("q_text_pmi")(spark, dir).count())
    val (nHn, tHn) = time(SparkEntry.queries("q_embed_hard_negatives")(spark, dir).count())
    println(f"SMOKE round8b: bpe=${tBpe}%.1fs (3 merges) pmi=${tPmi}%.1fs ($nPmi collocations) " +
      f"hard_negatives=${tHn}%.1fs ($nHn anchors)")
    val (hh, tHh) = time(SparkEntry.queries("q_text_heavy_hitters")(spark, dir).count())
    val (nCap, tCap) = time(SparkEntry.queries("q_cur_domain_cap")(spark, dir).count())
    // count() would prune the regex projections to a bare scan — noop
    // write (the Bench convention) forces the real redaction work
    val (nPii, tPii) = time {
      val df = SparkEntry.queries("q_cur_pii")(spark, dir)
      df.write.format("noop").mode(SaveMode.Overwrite).save()
      df.count()
    }
    val (nUp, tUp) = time(SparkEntry.queries("q_cur_upsert")(spark, dir).count())
    val (nWs, tWs) = time(SparkEntry.queries("q_cur_sample_weighted")(spark, dir).count())
    val (nHop, tHop) = time(SparkEntry.queries("q_events_hopping")(spark, dir).count())
    println(f"SMOKE round8: heavy_hitters=${tHh}%.1fs ($hh terms) " +
      f"domain_cap=${tCap}%.1fs ($nCap kept) pii=${tPii}%.1fs ($nPii docs) " +
      f"upsert=${tUp}%.1fs ($nUp rows) weighted_sample=${tWs}%.1fs ($nWs) " +
      f"hopping=${tHop}%.1fs ($nHop windows)")
    // Z-order layout at scale: one-time layout write (the expensive,
    // amortized step) then the pruned 2-D probe
    val (_, tZw) = time(graft.queries.SourceQueries.zorderedEvents(spark, dir))
    val (nZ, tZp) = time(SparkEntry.queries("q_zorder_scan")(spark, dir).count())
    println(f"SMOKE zorder: layout write=${tZw}%.1fs probe=${tZp}%.1fs ($nZ rows)")
    // incremental dedup: first call builds the corpus bands index, the
    // second measures the steady-state delta probe alone
    val (nInc1, tIdxB) = time(SparkEntry.queries("q_dedup_incremental")(spark, dir).count())
    val (nInc, tProbeI) = time(SparkEntry.queries("q_dedup_incremental")(spark, dir).count())
    require(nInc1 == nInc, "incremental probe must be deterministic")
    println(f"SMOKE incremental dedup: index build+probe=${tIdxB}%.1fs " +
      f"warm probe=${tProbeI}%.1fs ($nInc delta-corpus pairs)")

    // --- round-8c operators at scale -------------------------------------
    // semantic dedup: cell map stage + within-cell pair join over the
    // ×M jittered vector corpus (cells bound the fan-out; the jitter
    // keeps copies NEAR-duplicate, so drops are a real measurement);
    // ivfpq upsert: build+encode once, then the warm pruned ADC probe;
    // bpe_encode: vocab-bounded merge chain + (doc,word)-counts join;
    // lm_score: vocab²-bounded model + counts-only scoring join.
    // the bit count is the operator's scale knob (cells ≈ corpus/2^bits,
    // within-cell join quadratic in cell size): the gate's 4 bits on the
    // ×25 corpus is the WRONG knob setting (cells of ~3k → ~77M pairs),
    // 8 bits holds per-cell work at the base corpus's budget — run both
    // so the knob's effect is measured, not asserted
    val (nSem4, tSem4) = time(
      graft.queries.PipelineQueries.semanticDedupSurvivors(spark, dir, 4, 0.3).count())
    val (nSem8, tSem8) = time(
      graft.queries.PipelineQueries.semanticDedupSurvivors(spark, dir, 8, 0.3).count())
    println(f"SMOKE semantic dedup: 4bit/16cells=${tSem4}%.1fs ($nSem4 survivors of $nVecs) " +
      f"8bit/256cells=${tSem8}%.1fs ($nSem8 survivors)")
    val (pqU1, tPqU1) = time(topIds(spark, dir, "q_ann_ivfpq_upsert"))
    val (pqU, tPqU) = time(topIds(spark, dir, "q_ann_ivfpq_upsert"))
    require(pqU1 == pqU, "upserted IVF+PQ probe must be deterministic")
    println(f"SMOKE ivfpq upsert: build+upsert+probe=${tPqU1}%.1fs " +
      f"warm probe=${tPqU}%.1fs (recall=${recall(pqU)}%.2f)")
    val (nEnc, tEnc) = time(SparkEntry.queries("q_text_bpe_encode")(spark, dir).count())
    val (nLm, tLm) = time(SparkEntry.queries("q_text_lm_score")(spark, dir).count())
    println(f"SMOKE round8c text: bpe_encode=${tEnc}%.1fs ($nEnc docs priced) " +
      f"lm_score=${tLm}%.1fs ($nLm docs scored)")

    // --- round-8d operators at scale -------------------------------------
    // cdc: one row-local chunking pass, shuffle carries (hash, ids, len);
    // the ×M exact copies make every chunk of copies 1..M-1 a duplicate,
    // so dup accounting is exercised at full fan-in. nb_classify: the
    // model stays vocabulary-bounded while train/score streams scale ×M.
    val (nCdc, tCdc) = time(SparkEntry.queries("q_dedup_cdc")(spark, dir).count())
    val (nNb, tNb) = time(SparkEntry.queries("q_text_nb_classify")(spark, dir).count())
    println(f"SMOKE round8d: cdc=${tCdc}%.1fs ($nCdc docs chunk-audited) " +
      f"nb_classify=${tNb}%.1fs ($nNb held-out docs classified)")

    // --- round-8e operators at scale -------------------------------------
    // substring: the ×M exact copies put EVERY L-gram window in a
    // duplicated group (adversarial full-duplication regime, like cdc);
    // bm25: two linear passes, model-state scalars only; kmeans: three
    // linear passes over ×V vectors, k×64 driver state; retention:
    // distinct (user, week) collapse at ×M distinct users.
    val (nSub, tSub) = time(SparkEntry.queries("q_dedup_substring")(spark, dir).count())
    val (nBm, tBm) = time(SparkEntry.queries("q_text_bm25")(spark, dir).count())
    val (nKm, tKm) = time(SparkEntry.queries("q_embed_kmeans")(spark, dir).count())
    val (nRet, tRet) = time(SparkEntry.queries("q_events_retention")(spark, dir).count())
    println(f"SMOKE round8e: substring=${tSub}%.1fs ($nSub docs span-audited) " +
      f"bm25=${tBm}%.1fs ($nBm ranked) kmeans=${tKm}%.1fs ($nKm clusters) " +
      f"retention=${tRet}%.1fs ($nRet cohort cells)")

    // --- round-8f operators at scale -------------------------------------
    // pagerank: the ×M exact copies turn every original doc into an
    // M-clique in the near-dup graph (plus its real near-dup edges), so
    // edge count grows ~M² per component — the adversarial regime for
    // the 3 dst-keyed iteration shuffles (which carry only longs);
    // winnow: row-local HOF pass, no shuffle; rake: linear islands pass
    // + vocab-bounded score broadcast; unimax: corpus count/rank passes
    // + |langs|-row quota math.
    val (nPr, tPr) = time(SparkEntry.queries("q_graph_pagerank")(spark, dir).count())
    val (nWn, tWn) = time(SparkEntry.queries("q_text_winnow")(spark, dir).count())
    val (nRk, tRk) = time(SparkEntry.queries("q_text_rake")(spark, dir).count())
    val (nUx, tUx) = time(SparkEntry.queries("q_cur_mix_unimax")(spark, dir).count())
    println(f"SMOKE round8f: pagerank=${tPr}%.1fs ($nPr ranked vertices) " +
      f"winnow=${tWn}%.1fs ($nWn docs fingerprinted) rake=${tRk}%.1fs ($nRk keywords) " +
      f"unimax=${tUx}%.1fs ($nUx selected docs)")

    // --- round-9g operators at scale -------------------------------------
    // boilerplate: the ×M EXACT copies drive every segment to df = M ≥ 2 —
    // the adversarial all-boilerplate regime, where the "tiny broadcast
    // set" degenerates to ALL distinct segments (worst case for the
    // marking join); containment/editdist: every posting/bucket carries
    // the M copies of its members, pushing candidate fan-out toward the
    // caps; fertility: the merge chain stays vocabulary-bounded while
    // (lang, word) counts scale ×M; rrf: fuses two top-15 lists whatever
    // the corpus size — the costs are its two input rankings.
    val (nBp, tBp) = time(SparkEntry.queries("q_text_boilerplate")(spark, dir).count())
    val (nCt, tCt) = time(SparkEntry.queries("q_dedup_containment")(spark, dir).count())
    val (nEd, tEd) = time(SparkEntry.queries("q_dedup_editdist")(spark, dir).count())
    val (nFt, tFt) = time(SparkEntry.queries("q_text_fertility")(spark, dir).count())
    val (nRrf, tRrf) = time(SparkEntry.queries("q_ret_rrf")(spark, dir).count())
    println(f"SMOKE round9g: boilerplate=${tBp}%.1fs ($nBp docs accounted) " +
      f"containment=${tCt}%.1fs ($nCt pairs) editdist=${tEd}%.1fs ($nEd pairs) " +
      f"fertility=${tFt}%.1fs ($nFt langs) rrf=${tRrf}%.1fs ($nRrf fused)")
    // boiler-model maintenance: first call builds the df artifact for
    // this corpus, second measures the steady-state O(delta) probe
    val (nBi1, tBi1) = time(SparkEntry.queries("q_text_boiler_incremental")(spark, dir).count())
    val (nBi, tBi) = time(SparkEntry.queries("q_text_boiler_incremental")(spark, dir).count())
    println(f"SMOKE boiler incremental: build+probe=${tBi1}%.1fs warm probe=${tBi}%.1fs " +
      f"($nBi sources audited, $nBi1 first run)")
    val (nKc, tKc) = time(SparkEntry.queries("q_graph_kcore")(spark, dir).count())
    println(f"SMOKE kcore: peel=${tKc}%.1fs ($nKc core vertices)")
    val (nSw, tSw) = time(SparkEntry.queries("q_dedup_threshold_sweep")(spark, dir).count())
    println(f"SMOKE threshold sweep: t>=0.5 histogram=${tSw}%.1fs ($nSw buckets)")
    spark.stop()
  }
}
