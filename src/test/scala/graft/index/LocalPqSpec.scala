package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TopK

/** Driver-resident IVF-PQ tier: bit-identity with the declarative ADC
  * and two-phase paths, probed-subset semantics, budgeted admission.
  */
class LocalPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cents = Ivf.deterministicCentroids(emb, 50)
  private lazy val cb = Pq.deterministicCodebook(emb, 8, 8, 50)
  private lazy val assigned = Ivf.assign(emb, cents).cache()
  private lazy val codes = assigned.select(col("vec_id"),
    col("centroid_id"), Pq.codesColumn(cb).as("codes")).cache()
  private lazy val queries = graft.operators.Knn.defaultQueries(emb).cache()
  private lazy val qRows = queries.collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  private lazy val nlist = cents.count().toInt

  /** Phase-1 ADC of one query over its own probe set. */
  private def adc(pq: LocalPqIndex, q: Array[Float], n: Int,
      nprobe: Int): Array[(Long, Double)] =
    pq.searchProbed(pq.probeFor(q, nprobe), q, n)

  test("probe-all ADC equals the declarative adcScores + top-k aggregate") {
    val pq = LocalPqIndex.build(codes, cents, cb)
    assert(pq.cachedLists === nlist)
    val want = TopK.viaAggregator(
        Pq.adcScores(codes.select("vec_id", "codes"), cb, queries),
        "query_id", "vec_id", "approx_score", 20)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .view.mapValues(_.map(t => (t._2, t._3))
        .sortBy { case (id, s) => (-s, id) }.toSeq).toMap
    qRows.take(5).foreach { case (qid, qv) =>
      val got = adc(pq, qv, 20, nlist).toSeq
      assert(got === want(qid), s"q=$qid")
    }
  }

  test("parallel ADC is identical to the serial scan (worker-pool fan-out changes nothing)") {
    val pq = LocalPqIndex.build(codes, cents, cb)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      qRows.take(8).foreach { case (qid, qv) =>
        // tiny chunkRows forces many work units per list — the merge
        // path is exercised, not bypassed
        val par = pq.searchProbed(pq.probeFor(qv, 3), qv, 20,
          pool = Some(pool), chunkRows = 7).toSeq
        val ser = adc(pq, qv, 20, 3).toSeq
        assert(par === ser, s"q=$qid")
      }
    } finally pool.shutdown()
  }

  test("deep-fetch ADC (n past the quickselect switch) ranks identically to the heap path") {
    // n > 256 routes both the serial and the parallel scan through
    // gather + TopK.selectTopN instead of the insertion-array kernel —
    // the tuned 100M operating point fetches 10·rerank in the
    // thousands. Results must be IDENTICAL to the shallow kernel's
    // ranking; the reference truth here is the declarative ADC + top-k
    // aggregate, the same oracle the probe-all test pins.
    // widened maxK: the deep fetch is an INTERNAL candidate budget
    // (k × rerank), not a client k — the bench sizes maxK to the
    // ladder's deepest escalation the same way
    val pq = LocalPqIndex.build(codes, cents, cb,
      limits = ServingLimits(maxK = 4096, maxCandidates = 100000))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val want = graft.operators.TopK.viaAggregator(
          Pq.adcScores(codes.select("vec_id", "codes"), cb, queries),
          "query_id", "vec_id", "approx_score", 300)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
        .view.mapValues(_.map(t => (t._2, t._3))
          .sortBy { case (id, s) => (-s, id) }.toSeq).toMap
      qRows.take(4).foreach { case (qid, qv) =>
        val ser = adc(pq, qv, 300, nlist).toSeq
        val par = pq.searchProbed(pq.probeFor(qv, nlist), qv, 300,
          pool = Some(pool), chunkRows = 7).toSeq
        assert(ser === want(qid), s"serial q=$qid")
        assert(par === want(qid), s"parallel q=$qid")
      }
    } finally pool.shutdown()
  }

  test("probed-subset ADC equals the declarative path restricted to the probed lists") {
    val pq = LocalPqIndex.build(codes, cents, cb)
    qRows.take(3).foreach { case (qid, qv) =>
      val probed = pq.probe(qv, 4)
      val restricted = codes
        .filter(col("centroid_id").isin(probed: _*))
        .select("vec_id", "codes")
      val oneQ = queries.filter(col("query_id") === qid)
      val want = TopK.viaAggregator(
          Pq.adcScores(restricted, cb, oneQ),
          "query_id", "vec_id", "approx_score", 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (id, s) => (-s, id) }.toSeq
      assert(adc(pq, qv, 10, 4).toSeq === want, s"q=$qid")
    }
  }

  test("two-phase with the raw local tier equals Pq.twoPhaseSearch exactly") {
    val pq = LocalPqIndex.build(codes, cents, cb)
    val idx = ServingIndex.build(assigned, cents, "ip")
    val raw = idx.toLocal()
    val want = Pq.twoPhaseSearch(emb, codes.select("vec_id", "codes"), cb,
        queries, 10, 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .view.mapValues(_.map(t => (t._2, t._3))
        .sortBy { case (id, s) => (-s, id) }.toSeq).toMap
    qRows.take(5).foreach { case (qid, qv) =>
      val got = pq.search(qv, 10, nlist, rerank = 4, raw).toSeq
      assert(got === want(qid), s"q=$qid")
    }
    idx.unpersist()
  }

  test("packed-tier file roundtrip: save → load is serving-identical; stamp mismatch refuses") {
    val pq = LocalPqIndex.build(codes, cents, cb)
    val dir = java.nio.file.Files.createTempDirectory("graft-lpq-").toString
    val path = s"$dir/localtier.bin"
    val sizes = codes.groupBy(col("centroid_id").cast("long"))
      .agg(count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    LocalPqIndex.savePacked(pq, path, "stamp-a")
    val loaded = LocalPqIndex.loadPacked(path, "stamp-a", cents, cb,
      pq.limits, sizes)
    assert(loaded.isDefined)
    assert(loaded.get.cachedLists === pq.cachedLists)
    assert(loaded.get.cachedBytes === pq.cachedBytes)
    // serving identity: every query's probe-all ADC ranking matches
    qRows.take(5).foreach { case (_, qv) =>
      assert(adc(loaded.get, qv, 20, nlist).toSeq ===
        adc(pq, qv, 20, nlist).toSeq)
    }
    // a different stamp (new store generation / budget) must refuse
    assert(LocalPqIndex.loadPacked(path, "stamp-b", cents, cb,
      pq.limits, sizes).isEmpty)
    // a truncated file is deleted and refused, not served
    val raf = new java.io.RandomAccessFile(path, "rw")
    raf.setLength(raf.length() / 2); raf.close()
    assert(LocalPqIndex.loadPacked(path, "stamp-a", cents, cb,
      pq.limits, sizes).isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
  }

  test("budgeted admission: a tight budget caches a strict subset; uncovered probes are refused") {
    val full = LocalPqIndex.build(codes, cents, cb)
    val half = LocalPqIndex.build(codes, cents, cb,
      maxBytes = full.cachedBytes / 2)
    assert(half.cachedLists > 0 && half.cachedLists < nlist)
    assert(!half.coversProbes(half.probe(qRows.head._2, nlist)))
    intercept[IllegalArgumentException] {
      adc(half, qRows.head._2, 10, nlist)
    }
    // the code tier really is ~8x denser than raw (dim 64 vs m 8, both
    // pricing ids at 8 B): the whole-corpus codes fit well under the
    // raw tier's resident estimate
    val idx = ServingIndex.build(assigned, cents, "ip")
    val raw = idx.toLocal()
    assert(full.cachedBytes.toDouble < raw.cachedBytes / 4.0)
    idx.unpersist()
    // zero budget: empty cache, nothing covered
    val none = LocalPqIndex.build(codes, cents, cb, maxBytes = 0L)
    assert(none.cachedLists === 0)
  }

  test("phase-2 REFUSES when a candidate's list is outside the raw tier (never a silent drop)") {
    // the expected configuration: PQ tier covers everything, raw tier
    // covers a strict subset — a phase-1 candidate from an un-admitted
    // raw list is a phase-2 cache miss and must throw, because the
    // dropped candidate could be the true nearest neighbor
    val pq = LocalPqIndex.build(codes, cents, cb)
    val idx = ServingIndex.build(assigned, cents, "ip")
    val rawFull = idx.toLocal()
    val rawHalf = idx.toLocal(maxBytes = rawFull.cachedBytes / 2)
    assert(rawHalf.cachedLists < nlist)
    // at probe-all some candidate lands outside the half raw tier for
    // at least one battery query
    val misses = qRows.count { case (_, qv) =>
      try { pq.search(qv, 10, nlist, rerank = 4, rawHalf); false }
      catch { case _: IllegalArgumentException => true }
    }
    assert(misses > 0, "fixture must produce at least one phase-2 miss")
    // and the full raw tier still serves everything
    qRows.take(3).foreach { case (_, qv) =>
      assert(pq.search(qv, 10, nlist, rerank = 4, rawFull).nonEmpty)
    }
    idx.unpersist()
  }

  test("knownSizes sidecar build is identical to the counted build (admission and answers)") {
    // the 100M path persists per-list row counts at build time so the
    // local-tier admission never re-scans the codes relation; the
    // sidecar-fed build must be indistinguishable from the counting one
    val counted = codes.groupBy(col("centroid_id").cast("long"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaSidecar = LocalPqIndex.build(codes, cents, cb,
      knownSizes = Some(counted))
    val viaScan = LocalPqIndex.build(codes, cents, cb)
    assert(viaSidecar.cachedLists === viaScan.cachedLists)
    assert(viaSidecar.cachedBytes === viaScan.cachedBytes)
    qRows.take(3).foreach { case (qid, qv) =>
      assert(adc(viaSidecar, qv, 10, 4).toSeq ===
        adc(viaScan, qv, 10, 4).toSeq, s"q=$qid")
    }
    // a tight budget admits the same subset either way — the sizes map
    // is the only admission input, so identical sizes ⇒ identical cut
    val budget = viaScan.cachedBytes / 2
    val halfA = LocalPqIndex.build(codes, cents, cb, maxBytes = budget,
      knownSizes = Some(counted))
    val halfB = LocalPqIndex.build(codes, cents, cb, maxBytes = budget)
    assert(halfA.cachedLists === halfB.cachedLists)
    assert(halfA.cachedBytes === halfB.cachedBytes)
  }

  test("empty IVF lists count as covered — a fully cached corpus never false-misses") {
    // a centroid no row assigns to (e.g. an empty k-means cluster): it
    // is admitted at zero bytes but no fragment ever arrives, so
    // coverage must treat it as cached — previously a query probing it
    // threw 'probed list not cached' even with the whole corpus cached
    val far = Seq((999999L,
        Seq.fill(qRows.head._2.length)(1e9))) // nothing assigns here
      .toDF("cid", "cv")
    val centsPlus = cents.unionByName(far)
    val assignedPlus = Ivf.assign(emb, centsPlus)
    val codesPlus = assignedPlus.select(col("vec_id"), col("centroid_id"),
      Pq.codesColumn(cb).as("codes"))
    assert(assignedPlus.filter(col("centroid_id") === 999999L).count() === 0)
    val pq = LocalPqIndex.build(codesPlus, centsPlus, cb)
    assert(pq.cachedLists === nlist) // the empty list holds no fragments
    // probe-all necessarily includes the empty centroid
    assert(pq.coversProbes(pq.probe(qRows.head._2, nlist + 1)))
    val got = adc(pq, qRows.head._2, 10, nlist + 1)
    // identical answers to the index without the empty list
    val base = LocalPqIndex.build(codes, cents, cb)
    assert(got.toSeq === adc(base, qRows.head._2, 10, nlist).toSeq)
  }
}
