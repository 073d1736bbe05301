package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[PqTieredServing]] — the L0 driver / L1 distributed / L2 stored
  * routing for the stable PQ tier: route choice follows coverage, the
  * serving VALUES are identical whichever level serves (the cache
  * levels share one ADC contract), and the per-level counters account
  * for every request.
  */
class PqTieredServingSpec extends SparkSpec {

  private lazy val cents = Ivf.deterministicCentroids(emb, 50)
  private lazy val cb = Pq.deterministicCodebook(emb, 8, 8, 50)
  private lazy val codes = Ivf.assign(emb, cents).select(col("vec_id"),
    col("centroid_id"), Pq.codesColumn(cb).as("codes")).cache()
  private lazy val qRows = graft.operators.Knn.defaultQueries(emb)
    .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    .sortBy(_._1)
  private lazy val nlist = cents.count().toInt
  private lazy val wide =
    ServingLimits(maxK = 4096, maxCandidates = 100000)
  private lazy val fullLocal =
    LocalPqIndex.build(codes, cents, cb, limits = wide)

  /** L2 stand-in with the SAME values as the cache levels (the real
    * stored path is oracle-gated by `knn_pq_stored`); counters prove
    * WHICH level the router picked, values prove it doesn't matter.
    */
  private val storedPath: PqTieredServing.StoredSearch =
    (work, n, metric) => work.map { case (q, probed) =>
      fullLocal.searchProbed(probed, q, n, metric) }
  private val storedProbe = (q: Array[Float], np: Int, metric: String) =>
    fullLocal.probeFor(q, np, metric)

  /** Phase-1 ADC of one query through each tier's one request kernel. */
  private def adc(l: LocalPqIndex, q: Array[Float], n: Int, np: Int,
      metric: String = "ip"): Array[(Long, Double)] =
    l.searchProbed(l.probeFor(q, np, metric), q, n, metric)
  private def adc(d: PqServingIndex, q: Array[Float], n: Int, np: Int,
      metric: String): Array[(Long, Double)] =
    d.searchBatch(Seq(q), n, np, metric).head
  private def adc(r: PqTieredServing, q: Array[Float], n: Int, np: Int,
      metric: String): Array[(Long, Double)] =
    r.search(IndexedSeq(q), n, np, metric).head
  private def adc(r: PqTieredServing, q: Array[Float], n: Int,
      np: Int): Array[(Long, Double)] = adc(r, q, n, np, "ip")

  test("route choice: starved L0 serves covered probes, distributed L1 takes the rest, L2 only when both are cold") {
    // ~half the lists admitted: 16 B/row fixture geometry, budget sized
    // off the real corpus so the starved tier is neither empty nor full
    val perRow = 8L + cb.m
    val budget = emb.count() * perRow / 2
    val starved = LocalPqIndex.build(codes, cents, cb,
      maxBytes = budget, limits = wide)
    assert(starved.cachedLists > 0 &&
      starved.cachedLists < fullLocal.cachedLists,
      s"fixture degenerate: starved=${starved.cachedLists} " +
        s"full=${fullLocal.cachedLists}")
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    try {
      val np = 3
      val covered = qRows.filter { case (_, qv) =>
        starved.coversProbes(starved.probeFor(qv, np)) }
      val uncovered = qRows.filter { case (_, qv) =>
        !starved.coversProbes(starved.probeFor(qv, np)) }
      assert(covered.nonEmpty && uncovered.nonEmpty,
        s"fixture degenerate: covered=${covered.length} " +
          s"uncovered=${uncovered.length}")

      val router = new PqTieredServing(Some(starved), Some(dist),
        storedPath, storedProbe)
      (covered.take(3) ++ uncovered.take(3)).foreach { case (qid, qv) =>
        val got = adc(router, qv, 10, np).toSeq
        assert(got === adc(fullLocal, qv, 10, np).toSeq,
          s"q=$qid: routed result must equal the full-coverage answer")
      }
      assert(router.localServes === math.min(3, covered.length))
      // an uncovered request serves MIXED when the starved tier holds
      // any of its probed lists, from L1 alone otherwise — either way
      // it never reaches the store while L1 is warm
      assert(router.mixedServes + router.distServes ===
        math.min(3, uncovered.length),
        s"mixed=${router.mixedServes} dist=${router.distServes}")
      assert(router.storedServes === 0)

      // L1 cold too → the store serves (only the misses when the
      // starved tier holds some of the probed lists)
      val coldRouter =
        new PqTieredServing(Some(starved), None, storedPath, storedProbe)
      uncovered.take(2).foreach { case (qid, qv) =>
        assert(adc(coldRouter, qv, 10, np).toSeq ===
          adc(fullLocal, qv, 10, np).toSeq, s"q=$qid")
      }
      assert(coldRouter.storedServes + coldRouter.mixedStoredServes ===
        math.min(2, uncovered.length))
    } finally dist.unpersist()
  }

  test("route parity: L0, L1 and L2 return bit-identical results for the same request, every metric") {
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    try {
      val r0 = new PqTieredServing(Some(fullLocal), Some(dist),
        storedPath, storedProbe)
      val r1 = new PqTieredServing(None, Some(dist), storedPath, storedProbe)
      val r2 = new PqTieredServing(None, None, storedPath, storedProbe)
      qRows.take(4).foreach { case (qid, qv) =>
        for {
          (k, np) <- Seq((10, 2), (300, nlist))
          metric <- Seq("ip", "l2", "cosine")
        } {
          val a = adc(r0, qv, k, np, metric).toSeq
          val b = adc(r1, qv, k, np, metric).toSeq
          val c = adc(r2, qv, k, np, metric).toSeq
          assert(a === b, s"q=$qid k=$k np=$np $metric: L0 vs L1")
          assert(b === c, s"q=$qid k=$k np=$np $metric: L1 vs L2")
        }
      }
      assert(r0.localServes === 4 * 6 && r0.distServes === 0)
      assert(r1.distServes === 4 * 6 && r1.localServes === 0)
      assert(r2.storedServes === 4 * 6)
    } finally dist.unpersist()
  }

  test("L2 through a REAL stored closure: the declarative ADC plan behind a fully cold router equals the cache tiers") {
    // the bench's router never reaches L2 (both cache levels warm by
    // construction), so the stored level's end-to-end shape is pinned
    // here with the actual declarative path: probe-restricted codes
    // relation → Pq.adcScores → in-plan TakeOrderedAndProject
    val stored: PqTieredServing.StoredSearch = (work, k, metric) => {
      require(metric == "ip", "spec stored closure is the ip twin")
      work.map { case (q, probed) =>
        val qid = qRows.find(_._2.sameElements(q)).get._1
        val oneQ = graft.operators.Knn.defaultQueries(emb)
          .filter(col("query_id") === qid)
        Pq.adcScores(
            codes.filter(col("centroid_id").isin(probed: _*)), cb, oneQ)
          .orderBy(col("approx_score").desc, col("vec_id").asc)
          .limit(k).select(col("vec_id"), col("approx_score"))
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
      }
    }
    val r = new PqTieredServing(None, None, stored, storedProbe)
    qRows.take(3).foreach { case (qid, qv) =>
      assert(adc(r, qv, 10, 3).toSeq ===
        adc(fullLocal, qv, 10, 3).toSeq, s"q=$qid")
    }
    assert(r.storedServes === 3 && r.localServes === 0 &&
      r.distServes === 0)
  }

  test("cosine probes with the NORMALIZED query: magnitude-dependent raw probing would miss the aligned row's list entirely") {
    import spark.implicits._
    // surgical layout: c1 has a big norm, so for a LONG raw query the
    // magnitude-dependent expanded-L2 ranking (‖c‖² − 2q·c) puts c1
    // first — but normalize-at-admission rows all sit near the unit
    // sphere, so c1's list is EMPTY and the best-aligned row (in c2's
    // list) would never be scanned at nprobe=1
    val cents = Seq(
      (1L, Seq(10.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cv")
    val (cids, matrix) = Ivf.collectCentroids(cents)
    def norm(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = Seq(
      (7L, norm(Seq(100.0, 1.0, 0.0, 0.0))), // aligned with the query
      (3L, Seq(0.0, 1.0, 0.0, 0.0))          // orthogonal-ish decoy
    ).toDF("vec_id", "embedding")
    val cb = Pq.Codebook(2, 2, Array(0L, 1L),
      Array(Array(Array(1.0, 0.0), Array(0.0, 1.0)),
        Array(Array(0.0, 0.0))))
    val codesDf = Ivf.assign(rows, cents)
      .select(col("vec_id"), col("centroid_id"),
        Pq.codesColumn(cb).as("codes"))
    val localT = LocalPqIndex.build(codesDf, cents, cb, limits = wide)
    val distT = PqServingIndex.build(codesDf, cents, cb, wide)
    try {
      val q = Array(100f, 1f, 0f, 0f)
      // fixture sharpness: the RAW ranking really does pick the empty
      // big-norm list first — without query normalization this request
      // scans nothing
      assert(Ivf.probePick(q, cids, matrix, 1).head === 1L,
        "fixture lost its raw-probe misranking")
      assert(localT.probeFor(q, 1, "cosine").head === 2L)
      val got = adc(localT, q, 2, 1, "cosine")
      assert(got.map(_._1).toSeq === Seq(7L, 3L),
        s"aligned row missing or misranked in the cosine pool: ${got.toSeq}")
      assert(adc(distT, q, 2, 1, "cosine").toSeq === got.toSeq)
      // cosine is an ANGLE metric: query magnitude must not change
      // which lists are probed or which ids come back
      val scaled = q.map(_ * 0.01f)
      assert(adc(localT, scaled, 2, 1, "cosine").map(_._1).toSeq ===
        got.map(_._1).toSeq, "query magnitude changed the result set")
    } finally distT.unpersist()
  }

  test("driver tier's metric LUTs equal the distributed tier's (l2 pool differs from ip on an unnormalized corpus)") {
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    try {
      qRows.take(5).foreach { case (qid, qv) =>
        Seq("ip", "l2", "cosine").foreach { metric =>
          assert(adc(fullLocal, qv, 20, nlist, metric).toSeq ===
            adc(dist, qv, 20, nlist, metric).toSeq,
            s"q=$qid $metric")
        }
      }
      // the metric must actually matter: on this corpus (unnormalized
      // synthetic embeddings) the l2 candidate pool and the ip pool
      // disagree for at least one query — otherwise the parity above
      // proves nothing about the l2 LUT
      val differs = qRows.exists { case (_, qv) =>
        adc(fullLocal, qv, 10, nlist, "ip").map(_._1).toSeq !=
          adc(fullLocal, qv, 10, nlist, "l2").map(_._1).toSeq
      }
      assert(differs, "ip and l2 pools identical corpus-wide — fixture " +
        "cannot distinguish the LUTs")
    } finally dist.unpersist()
  }

  test("mixed L0/L1 serve: a starved driver tier scans its resident probed lists, L1 takes only the misses — identical values, mixed counter") {
    val perRow = 8L + cb.m
    val budget = emb.count() * perRow / 2
    val starved = LocalPqIndex.build(codes, cents, cb,
      maxBytes = budget, limits = wide)
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    try {
      val np = math.max(3, nlist / 4)
      // fixture sharpness: at least one request must split — probing
      // some lists the starved tier holds and some it doesn't
      val splitQs = qRows.filter { case (_, qv) =>
        val p = starved.probeFor(qv, np)
        !starved.coversProbes(p) && starved.partitionResident(p)._1.nonEmpty
      }
      assert(splitQs.nonEmpty, "fixture degenerate: no split request")
      val pureL1 = new PqTieredServing(None, Some(dist), storedPath, storedProbe)
      val mixed = new PqTieredServing(Some(starved), Some(dist),
        storedPath, storedProbe)
      // ONE batch per (k, metric): the split queries next to arbitrary
      // ones — each query's pool must equal its one-query pure-L1 serve
      val batch = (splitQs.take(4) ++ qRows.take(4)).toIndexedSeq
      for ((k, metric) <- Seq((10, "ip"), (300, "l2"), (25, "cosine"))) {
        val got = mixed.search(batch.map(_._2), k, np, metric)
        assert(got.length === batch.length)
        batch.zip(got).foreach { case ((qid, qv), pool) =>
          assert(pool.toSeq === adc(pureL1, qv, k, np, metric).toSeq,
            s"q=$qid k=$k $metric: mixed serve diverged from pure L1")
        }
      }
      // the ip requests split by construction; cosine/l2 probe sets may
      // land fully resident or fully missing (metric-aware probing) —
      // every query is accounted by exactly one cache-level counter
      val total = batch.length * 3
      assert(mixed.mixedServes >= math.min(4, splitQs.length),
        s"mixed=${mixed.mixedServes} local=${mixed.localServes} " +
          s"dist=${mixed.distServes}")
      assert(mixed.mixedServes + mixed.localServes + mixed.distServes ===
        total)
      assert(mixed.storedServes === 0)
    } finally dist.unpersist()
  }

  test("mixed L0/stored serve: with L1 evicted, resident lists scan driver-side and only the misses hit the stored closure") {
    val perRow = 8L + cb.m
    val budget = emb.count() * perRow / 2
    val starved = LocalPqIndex.build(codes, cents, cb,
      maxBytes = budget, limits = wide)
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    try {
      val np = math.max(3, nlist / 4)
      val splitQs = qRows.filter { case (_, qv) =>
        val p = starved.probeFor(qv, np)
        !starved.coversProbes(p) && starved.partitionResident(p)._1.nonEmpty
      }
      assert(splitQs.nonEmpty, "fixture degenerate: no split request")
      // the stored closure records the lists it is asked to scan — the
      // split contract is that NO resident list ever pays the cold path
      val askedLists = scala.collection.mutable.Set.empty[Long]
      val storedSub: PqTieredServing.StoredSearch = (work, n, metric) => {
        work.foreach(askedLists ++= _._2)
        storedPath(work, n, metric)
      }
      val pureStored = new PqTieredServing(None, None, storedPath, storedProbe)
      val mixed = new PqTieredServing(Some(starved), Some(dist),
        storedSub, storedProbe)
      dist.unpersist() // L1 evicted mid-session
      splitQs.take(4).foreach { case (qid, qv) =>
        for ((k, metric) <- Seq((10, "ip"), (300, "l2"), (25, "cosine")))
          assert(adc(mixed, qv, k, np, metric).toSeq ===
            adc(pureStored, qv, k, np, metric).toSeq,
            s"q=$qid k=$k $metric: mixed L0/stored diverged from pure stored")
      }
      assert(mixed.mixedStoredServes >= math.min(4, splitQs.length),
        s"mixedStored=${mixed.mixedStoredServes} " +
          s"stored=${mixed.storedServes} local=${mixed.localServes}")
      assert(mixed.mixedStoredServes + mixed.storedServes +
        mixed.localServes === math.min(4, splitQs.length) * 3)
      askedLists.foreach { cid =>
        assert(!starved.partitionResident(Seq(cid))._1.contains(cid),
          s"resident list $cid paid the stored path")
      }
      // an eviction fall-through is NOT a coverage anomaly
      assert(mixed.anomalousResidentRoutes === 0)
    } finally dist.unpersist()
  }

  test("resident-but-uncovered distributed tier counts as a coverage ANOMALY, apart from eviction fall-throughs") {
    // a tier violating the construction contract (built over a
    // TRUNCATED layout while the catalog sizes say the missing lists
    // hold rows — the one way a resident tier can fail coverage): the
    // route still degrades to the store, but the anomaly counter — not
    // plain eviction semantics — is what surfaces the probe bug
    val fullSizes = codes.groupBy(col("centroid_id").cast("long"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val heldCids = fullSizes.keys.toSeq.sorted.take(fullSizes.size / 2)
    val centsHalf = cents.filter(col("cid").isin(heldCids: _*))
    val partial = codes.filter(col("centroid_id").isin(heldCids: _*))
    val dist = PqServingIndex.build(partial, centsHalf, cb, wide,
      Some(fullSizes))
    // a zero-budget driver tier: covers nothing, but carries the FULL
    // layout — the probe provider whose walk exposes the truncation
    val zeroLocal = LocalPqIndex.build(codes, cents, cb, maxBytes = 0L,
      limits = wide)
    assert(zeroLocal.cachedLists === 0)
    try {
      assert(dist.resident)
      val r = new PqTieredServing(Some(zeroLocal), Some(dist),
        storedPath, storedProbe)
      val (qid, qv) = qRows.head
      assert(adc(r, qv, 10, nlist).toSeq ===
        adc(fullLocal, qv, 10, nlist).toSeq, s"q=$qid")
      assert(r.storedServes === 1 && r.anomalousResidentRoutes === 1,
        s"stored=${r.storedServes} anomalous=${r.anomalousResidentRoutes}")
    } finally dist.unpersist()
  }

  test("eviction degrades to L2: an unpersisted distributed tier routes to the stored closure, never an exception") {
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    val r = new PqTieredServing(None, Some(dist), storedPath, storedProbe)
    val (qid, qv) = qRows.head
    val want = adc(r, qv, 10, 3).toSeq
    assert(r.distServes === 1 && r.storedServes === 0)
    dist.unpersist() // mid-session demotion (memory-pressure stand-in)
    assert(!dist.resident)
    assert(adc(r, qv, 10, 3).toSeq === want,
      s"q=$qid: stored fall-through changed the values")
    assert(r.storedServes === 1,
      s"expected a stored serve after eviction, got ${r.storedServes}")
  }
}
