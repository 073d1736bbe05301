package graft.index

import graft.SparkSpec
import graft.operators.Knn

class NprobeTunerSpec extends SparkSpec {

  test("recall is monotonically non-decreasing in nprobe and hits 1.0 at nlist") {
    val cents = Ivf.deterministicCentroids(emb, 50) // 10 centroids at sf0.001
    val qs = Knn.defaultQueries(emb)
    val swept = NprobeTuner.sweep(spark, emb, qs, cents, "ip", 10,
      Seq(1, 2, 4, 10))
    val rows = swept.orderBy("nprobe").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(rows.map(_._2).sliding(2).forall(w => w(0) <= w(1)), rows.toSeq)
    assert(rows.last._2 === 1.0) // probing every list IS the exact search
  }

  test("pick returns smallest nprobe meeting target, clamps otherwise") {
    val cents = Ivf.deterministicCentroids(emb, 50)
    val qs = Knn.defaultQueries(emb)
    val swept = NprobeTuner.sweep(spark, emb, qs, cents, "ip", 10,
      Seq(1, 2, 4, 10)).cache()
    val picked = NprobeTuner.pick(swept, target = 0.9)
    assert(picked >= 1 && picked <= 10)
    assert(NprobeTuner.pick(swept, target = 2.0) === 10) // unreachable → clamp
  }

  // drive the controller with a synthetic recall curve: `windows` decision
  // windows of `window` identical observations each; returns nprobe history
  private def drive(ctl: AdaptiveNprobe, recallOf: Int => Double,
      windows: Int, window: Int = 10): Seq[Int] =
    (0 until windows).map { _ =>
      (0 until window).foreach(_ => ctl.observe(recallOf(ctl.current)))
      ctl.current
    }

  test("AdaptiveNprobe converges to the smallest nprobe meeting target, tracks drift both ways") {
    // regime 1: recall 1→0.80, 2→0.90, 4→0.96, 8+→0.99; smallest ok = 4
    val r1 = Map(1 -> 0.80, 2 -> 0.90).withDefault(np =>
      if (np >= 8) 0.99 else if (np >= 4) 0.96 else 0.0)
    val ctl = new AdaptiveNprobe(1, 16, target = 0.95, window = 10,
      margin = 0.02, probeEvery = 4)
    val h1 = drive(ctl, r1, windows = 8)
    assert(h1.take(2) === Seq(2, 4), h1) // 1 fails → 2; 2 fails → 4
    assert(h1.drop(2).forall(_ === 4), h1) // 0.96 < target+margin → hold
    // drift DOWN (harder corpus): 4 now yields 0.90 — must climb to 8
    val r2 = Map(1 -> 0.70, 2 -> 0.80, 4 -> 0.90).withDefault(np =>
      if (np >= 8) 0.955 else 0.0)
    val h2 = drive(ctl, r2, windows = 6)
    assert(h2.head === 8, h2)
    assert(h2.forall(_ === 8), h2) // 0.955 < 0.97: no step-down dither
    // drift UP (easier corpus): everything ≥2 is now ≥ target+margin; the
    // floor memory ages out after probeEvery windows and the controller
    // walks down to the new smallest = 2, re-probing 1 only periodically
    val r3 = Map(1 -> 0.80).withDefault(np => if (np >= 2) 0.99 else 0.0)
    val h3 = drive(ctl, r3, windows = 40)
    val settled = h3.drop(8)
    assert(settled.toSet.subsetOf(Set(1, 2)), h3)
    // dominated by the new optimum; floor re-probes are periodic, not a
    // dither (one per ~probeEvery+1 windows)
    assert(settled.count(_ === 2).toDouble / settled.length >= 0.7, h3)
  }

  test("AdaptiveNprobe kills the sawtooth at a sharp recall cliff") {
    // cliff: 8 → 0.94 (just under), 9+ → 0.999 (well over margin). A
    // memory-less controller would cycle 9→8→16→9→8→16...; the floor
    // memory pins 9 between re-probes.
    val cliff = (np: Int) => if (np >= 9) 0.999 else 0.70
    val ctl = new AdaptiveNprobe(4, 16, target = 0.95, window = 10,
      margin = 0.02, probeEvery = 8, start = Some(16))
    val h = drive(ctl, cliff, windows = 24)
    // after the initial walk-down finds the cliff, it sits at 9 except
    // for the periodic single-window floor re-probe
    val tail = h.drop(8)
    assert(tail.count(_ < 9) <= 3, h)
    assert(tail.count(_ === 9) >= tail.length - 6, h)
    assert(h.last >= 9, h)
  }

  test("AdaptiveServingIndex settles inside its band on the real fixture (vs band-ceiling reference)") {
    val cents = Ivf.deterministicCentroids(emb, 50)
    val idx = ServingIndex.build(Ivf.assign(emb, cents), cents, "ip")
    val qs = Knn.defaultQueries(emb).collect()
      .map(r => r.getSeq[Float](1).toArray)
    val nlist = cents.count().toInt
    val hi = nlist // ceiling = probe-all on this small fixture
    val adaptive = new AdaptiveServingIndex(idx, lo = 1, hi = hi,
      target = 0.95, window = 5, sampleEvery = 1)
    // serve the battery repeatedly; every request is sampled (test mode)
    (0 until 30).foreach(_ => qs.foreach(q => adaptive.search(q, 10)))
    val settled = adaptive.currentNprobe
    assert(settled >= 1 && settled <= hi)
    // the settled nprobe really meets the target against the ceiling
    val recallAt = qs.map { q =>
      val ref = idx.search(q, 10, hi).map(_._1).toSet
      val got = idx.search(q, 10, settled).map(_._1)
      got.count(ref).toDouble / ref.size
    }
    assert(recallAt.sum / recallAt.length >= 0.95,
      s"settled=$settled recall=${recallAt.sum / recallAt.length}")
    idx.unpersist()
  }

  test("AdaptiveServingIndex composes with the overlay: tiered requests ride the tuned nprobe and the tiered recall sample") {
    import org.apache.spark.sql.functions._
    val cents = Ivf.deterministicCentroids(emb, 50)
    val log = graft.ingest.MutationLog.deterministicLog(emb)
    val entries = Ivf.assign(
        log.withColumn("id_hash",
            graft.functions.VectorFunctions.hashId(col("id")))
          .withColumn("deleted", col("op") === "DELETE"),
        cents, vecCol = "vec")
      .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
      .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
      .cache()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-adaptive-overlay-").toString
    try {
      graft.segments.Segments.writeSegment(
        entries.filter(col("epoch") < 2000), dir, "delta-000",
        isStable = false)
      val stored = ServingIndex.buildStored(spark, dir, cents, "ip")
      // the live tiered world: the buffered rows folded in by patched
      val idx = Patches.fold(stored, entries.filter(col("epoch") >= 2000))
      stored.unpersist()
      val qs = Knn.defaultQueries(emb).collect()
        .map(r => r.getSeq[Float](1).toArray)
      val hi = cents.count().toInt
      val adaptive = new AdaptiveServingIndex(idx, lo = 1, hi = hi,
        target = 0.95, window = 5, sampleEvery = 1)
      (0 until 10).foreach(_ =>
        qs.foreach(q => adaptive.search(q, 10)))
      val settled = adaptive.currentNprobe
      assert(settled >= 1 && settled <= hi)
      // at the settled nprobe, the adaptive tiered answer IS the direct
      // tiered answer — the controller only picks nprobe, never alters
      // results
      qs.take(4).foreach { q =>
        val want = idx.search(q, 10, settled).toSeq
        assert(adaptive.search(q, 10).toSeq === want
          || adaptive.currentNprobe != settled) // controller may step
      }
      // tiered recall at the settled nprobe meets the target vs ceiling
      val recallAt = qs.map { q =>
        val ref = idx.search(q, 10, hi).map(_._1).toSet
        val got = idx.search(q, 10, settled).map(_._1)
        got.count(ref).toDouble / ref.size
      }
      assert(recallAt.sum / recallAt.length >= 0.95,
        s"settled=$settled recall=${recallAt.sum / recallAt.length}")
      idx.unpersist()
    } finally {
      entries.unpersist()
      graft.segments.Segments.deleteDir(dir)
    }
  }

  test("adaptive controller over the local tier serves identically and tunes from the local path") {
    import graft.ingest.VectorEntries
    val cents = Ivf.deterministicCentroids(emb, 50)
    val entries = Ivf.assign(VectorEntries.fromEmbeddings(emb), cents)
      .cache()
    val idx = ServingIndex.build(entries, cents, "ip",
      tenantCol = Some("tenant"), tagsCol = Some("tags"))
    val local = idx.toLocal()
    val hi = 8
    val adaptive = new AdaptiveServingIndex(local, 2, hi,
      window = 5, sampleEvery = 2)
    val qs = graft.operators.Knn.defaultQueries(emb)
      .collect().map(_.getSeq[Float](1).toArray)
    // every controlled request equals the local tier's answer at the
    // controller's own nprobe (read before the call: sampling advances
    // the window, but the decision applies from the NEXT request)
    qs.take(12).foreach { q =>
      val np = adaptive.currentNprobe
      val want = local.search(q, 10, np).toSeq
      assert(adaptive.search(q, 10).toSeq === want)
    }
    // the sample fed the controller: decisions accumulate
    assert(adaptive.decisions.nonEmpty || adaptive.currentNprobe >= 2)
    // resume composes: persist from the local controller, seed a new one
    val p = java.nio.file.Files
      .createTempDirectory("graft-nprobe-local-").toString + "/d"
    if (adaptive.decisions.nonEmpty) {
      NprobeTuner.persistDecisions(spark, p, adaptive.decisions, 5000L)
      val seed = NprobeTuner.resumeNprobe(spark, p, 6000L)
      val resumed = new AdaptiveServingIndex(local, 2, hi,
        start = seed)
      assert(resumed.currentNprobe === seed.getOrElse(2))
    }
    idx.unpersist(); entries.unpersist()
  }

  test("decision persistence: restart resumes the persisted nprobe within the decision window, cold-starts past it (config.h:145-146)") {
    // drive to a known settled point: smallest ok = 4 (same curve as the
    // convergence test)
    val recall = Map(1 -> 0.80, 2 -> 0.90).withDefault(np =>
      if (np >= 4) 0.96 else 0.0)
    val ctl = new AdaptiveNprobe(1, 16, target = 0.95, window = 10,
      margin = 0.02, probeEvery = 4)
    drive(ctl, recall, windows = 6)
    assert(ctl.current === 4)
    // every window boundary recorded a decision with its observed recall
    val ds = ctl.decisions
    assert(ds.length === 6)
    assert(ds.map(_.window) === (0L until 6L))
    assert(!ds.head.met && ds.last.met && ds.last.nprobe === 4)
    // persist (two flushes — the log is append-mode), then resume
    val path = java.nio.file.Files
      .createTempDirectory("graft-nprobe-log-").toString + "/decisions"
    val t1 = 1000000L
    NprobeTuner.persistDecisions(spark, path, ds.take(3), t1 - 500)
    NprobeTuner.persistDecisions(spark, path, ds.drop(3), t1)
    // restart within the window: seed = latest decision's nprobe
    val resumed = NprobeTuner.resumeNprobe(spark, path, t1 + 60000,
      windowMs = 3600000)
    assert(resumed === Some(4))
    val warm = new AdaptiveNprobe(1, 16, target = 0.95, window = 10,
      margin = 0.02, probeEvery = 4, start = resumed)
    assert(warm.current === 4) // no re-climb from lo
    // restart past decision_window_hours: stale decisions are ignored
    assert(NprobeTuner.resumeNprobe(spark, path,
      t1 + 2 * 3600000L, windowMs = 3600000).isEmpty)
    // no log at all → cold start, not an error
    assert(NprobeTuner.resumeNprobe(spark, path + "-nope", t1).isEmpty)
  }

  test("concurrent requests on one controller: every sample counted, windows contiguous, drained + remaining decisions = all") {
    // a driver-side stub tier: the tuned answer drops a seeded share of
    // the ceiling answer's ids, so the observed recall varies and the
    // controller moves; every call is counted
    val calls = new java.util.concurrent.atomic.AtomicLong(0L)
    val hi = 16
    val stub = new RawServingTier {
      def search(q: Array[Float], k: Int, nprobe: Int,
          filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] = {
        calls.incrementAndGet()
        val seed = q(0).toLong
        val rnd = new scala.util.Random(seed * 31 + nprobe)
        (0 until k).filter(_ =>
            nprobe >= hi || rnd.nextInt(hi) < nprobe + 4)
          .map(i => (seed * 100 + i, 1.0 / (i + 1))).toArray
      }
    }
    val sampleEvery = 4
    val window = 5
    val n = 20000
    val adaptive = new AdaptiveServingIndex(stub, 1, hi, window = window,
      sampleEvery = sampleEvery)
    val rnd = new scala.util.Random(42)
    val qs = Seq.fill(n)(Array(rnd.nextInt(1000).toFloat, 0.0f))
    val drained =
      new java.util.concurrent.ConcurrentLinkedQueue[NprobeDecision]()
    graft.operators.Parallelism.parRequests(qs.indices, threads = 8) { i =>
      adaptive.search(qs(i), 10)
      // a flusher draining mid-run must lose no decision
      if (i % 997 == 0) adaptive.drainDecisions().foreach(drained.add)
    }
    val samples = n / sampleEvery
    // one call per request plus one ceiling call per sample
    assert(calls.get() === n + samples)
    val all = drained.toArray(Array.empty[NprobeDecision]).toSeq ++
      adaptive.decisions
    // every sample reached the controller: samples / window decisions
    assert(samples % window === 0)
    assert(all.length === samples / window)
    // window indices contiguous from 0, each exactly once
    assert(all.map(_.window).sorted === (0L until all.length.toLong))
    assert(all.forall(d => d.nprobe >= 1 && d.nprobe <= hi))
  }
}
