package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Distributed PQ serving tier: bit-identity with the driver tier (the
  * two must be interchangeable cache levels of the same contract) and
  * with the declarative ADC path, at shallow AND deep fetch.
  */
class PqServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cents = Ivf.deterministicCentroids(emb, 50)
  private lazy val cb = Pq.deterministicCodebook(emb, 8, 8, 50)
  private lazy val codes = Ivf.assign(emb, cents).select(col("vec_id"),
    col("centroid_id"), Pq.codesColumn(cb).as("codes")).cache()
  private lazy val queries = graft.operators.Knn.defaultQueries(emb).cache()
  private lazy val qRows = queries.collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  private lazy val nlist = cents.count().toInt
  private lazy val wide =
    ServingLimits(maxK = 4096, maxCandidates = 100000)

  /** Phase-1 ADC of one query: the one-query batch on the distributed
    * tier, the query's own probe set on the driver tier.
    */
  private def adc(d: PqServingIndex, q: Array[Float], n: Int,
      nprobe: Int, metric: String = "ip"): Array[(Long, Double)] =
    d.searchBatch(Seq(q), n, nprobe, metric).head
  private def adc(l: LocalPqIndex, q: Array[Float], n: Int,
      nprobe: Int): Array[(Long, Double)] =
    l.searchProbed(l.probeFor(q, nprobe), q, n)

  test("distributed ADC == driver-tier ADC, shallow and deep fetch, probed and probe-all") {
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    val local = LocalPqIndex.build(codes, cents, cb, limits = wide)
    try {
      assert(dist.cachedLists === nlist)
      qRows.take(5).foreach { case (qid, qv) =>
        for ((k, np) <- Seq((20, 3), (20, nlist), (300, 4), (300, nlist))) {
          val d = adc(dist, qv, k, np).toSeq
          val l = adc(local, qv, k, np).toSeq
          assert(d === l, s"q=$qid k=$k nprobe=$np")
        }
      }
    } finally dist.unpersist()
  }

  test("probe pruning schedules only the probed lists' partitions (values equal the restricted declarative path)") {
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    try {
      qRows.take(3).foreach { case (qid, qv) =>
        val probed = dist.probe(qv, 4)
        val restricted = codes
          .filter(col("centroid_id").isin(probed: _*))
          .select("vec_id", "codes")
        val oneQ = queries.filter(col("query_id") === qid)
        val want = graft.operators.TopK.viaAggregator(
            Pq.adcScores(restricted, cb, oneQ),
            "query_id", "vec_id", "approx_score", 10)
          .collect().map(r => (r.getLong(1), r.getDouble(2)))
          .sortBy { case (id, s) => (-s, id) }.toSeq
        assert(adc(dist, qv, 10, 4).toSeq === want, s"q=$qid")
      }
    } finally dist.unpersist()
  }

  test("buildFromPacked (range-read of the packed tier file) serves identically to the shuffle build; stamp mismatch refuses") {
    val local = LocalPqIndex.build(codes, cents, cb, limits = wide)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqsrv-").toString
    val path = s"$dir/tier.bin"
    val stamp = "v1 test-stamp"
    LocalPqIndex.savePacked(local, path, stamp)
    val fromFile = PqServingIndex.buildFromPacked(spark, path, stamp,
      cents, cb, wide)
    assert(fromFile.isDefined, "valid file must load")
    val shuffled = PqServingIndex.build(codes, cents, cb, wide)
    try {
      qRows.take(4).foreach { case (qid, qv) =>
        for ((k, np) <- Seq((20, 3), (300, nlist))) {
          assert(adc(fromFile.get, qv, k, np).toSeq ===
            adc(shuffled, qv, k, np).toSeq, s"q=$qid k=$k np=$np")
        }
      }
      assert(PqServingIndex.buildFromPacked(spark, path, "other stamp",
        cents, cb, wide).isEmpty, "stamp mismatch must refuse")
    } finally { fromFile.foreach(_.unpersist()); shuffled.unpersist() }
  }

  test("fuzz: random (k, nprobe) draws — distributed == driver tier on every one") {
    // spans both ranking regimes (k crosses the 256 quickselect switch)
    // and every probe width; the two cache levels must be
    // interchangeable on inputs nobody hand-picked
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    val local = LocalPqIndex.build(codes, cents, cb, limits = wide)
    val rnd = new scala.util.Random(77)
    try {
      (0 until 30).foreach { i =>
        val (qid, qv) = qRows(rnd.nextInt(qRows.length))
        val k = 1 + rnd.nextInt(600)
        val np = 1 + rnd.nextInt(nlist)
        assert(adc(dist, qv, k, np).toSeq ===
          adc(local, qv, k, np).toSeq, s"draw=$i q=$qid k=$k np=$np")
      }
    } finally dist.unpersist()
  }

  test("the tier serves the full internal rerank budget past maxK (the client clamp lives at the door)") {
    val tight = ServingLimits(maxK = 10, maxCandidates = 100000)
    val dist = PqServingIndex.build(codes, cents, cb, tight)
    val local = LocalPqIndex.build(codes, cents, cb, limits = tight)
    try {
      val (_, qv) = qRows.head
      // the TWO-PHASE caller's candidate budget is internal (the
      // reference's rerank_factor contract, config.h:93) — clamping it
      // to maxK would silently shrink the rerank pool at large k; the
      // client-k clamp is GraftFacadeSpec's door spec
      val pool = adc(dist, qv, 50, nlist)
      assert(pool.length === 50, s"internal budget clamped: ${pool.length}")
      assert(adc(local, qv, 50, nlist).toSeq === pool.toSeq,
        "the two tiers must share one budget and ranking contract")
    } finally dist.unpersist()
  }

  test("metric LUTs: with an exact codebook, ADC l2/cosine ranking equals brute force on the raw vectors") {
    import graft.functions.VectorFunctions
    // every row is its own codeword (every=1) → zero quantization error
    // → the ADC approximation IS the exact metric, so the LUT shapes
    // are value-checkable against scoreOne on the raw vectors. Corpus
    // capped at 256 rows: packed codes are uint8 (the reference's own
    // 8-bit code arrays), so an exact codebook must fit k ≤ 256.
    val embS = emb.filter(col("vec_id") < 256)
    val l2Cb = Pq.deterministicCodebook(embS, 8, 8, every = 1)
    val l2Codes = Ivf.assign(embS, cents).select(col("vec_id"),
      col("centroid_id"), Pq.codesColumn(l2Cb).as("codes"))
    val l2Dist = PqServingIndex.build(l2Codes, cents, l2Cb, wide)
    // cosine contract: codes encode L2-NORMALIZED vectors
    val embN = embS.withColumn("embedding",
      VectorFunctions.l2Normalize(col("embedding")))
    val cosCb = Pq.deterministicCodebook(embN, 8, 8, every = 1)
    val cosCodes = Ivf.assign(embN, cents).select(col("vec_id"),
      col("centroid_id"), Pq.codesColumn(cosCb).as("codes"))
    val cosDist = PqServingIndex.build(cosCodes, cents, cosCb, wide)
    val raw = embS.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    try {
      qRows.take(3).foreach { case (qid, qv) =>
        val wantL2 = raw.map { case (id, v) =>
          (id, ServingIndex.scoreOne(qv, v, "l2")) }
          .sortBy { case (id, s) => (s, id) }.take(15).toSeq
        val gotL2 = adc(l2Dist, qv, 15, nlist, "l2").toSeq
        assert(gotL2.map(_._1) === wantL2.map(_._1), s"q=$qid l2 ids")
        gotL2.zip(wantL2).foreach { case ((_, g), (_, w)) =>
          assert(math.abs(-g - w) < 1e-9, s"q=$qid l2 score -$g vs $w") }

        val wantCos = raw.map { case (id, v) =>
          (id, ServingIndex.scoreOne(qv, v, "cosine")) }
          .sortBy { case (id, s) => (-s, id) }.take(15).toSeq
        val gotCos = adc(cosDist, qv, 15, nlist, "cosine").toSeq
        assert(gotCos.map(_._1) === wantCos.map(_._1), s"q=$qid cos ids")
        gotCos.zip(wantCos).foreach { case ((_, g), (_, w)) =>
          assert(math.abs(g - w) < 1e-9, s"q=$qid cos score $g vs $w") }
      }
    } finally { l2Dist.unpersist(); cosDist.unpersist() }
  }

  test("recompute of an evicted packed-tier partition refuses a replaced file instead of serving torn data") {
    val local = LocalPqIndex.build(codes, cents, cb, limits = wide)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pqsrv-stale-").toString
    val path = s"$dir/tier.bin"
    LocalPqIndex.savePacked(local, path, "v1")
    val idx = PqServingIndex.buildFromPacked(spark, path, "v1",
      cents, cb, wide).get
    val (_, qv) = qRows.head
    val before = adc(idx, qv, 20, nlist).toSeq
    // eviction + recompute with the file untouched: identical serve
    idx.unpersist()
    assert(adc(idx, qv, 20, nlist).toSeq === before)
    // the file atomically REPLACED by a later save (same length,
    // different stamp): recompute must fail loudly, never range-read
    // the new file at the old TOC offsets
    idx.unpersist()
    LocalPqIndex.savePacked(local, path, "v2")
    val ex = intercept[Exception] { adc(idx, qv, 20, nlist) }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(ex).contains("stale TOC"), msgs(ex))
  }

  test("searchBatch: one job serves the batch, per-query results identical to the one-query case") {
    val dist = PqServingIndex.build(codes, cents, cb, wide)
    try {
      val qvs = qRows.take(8).map(_._2).toSeq
      for ((k, np, metric) <- Seq((20, 3, "ip"), (300, nlist, "ip"),
          (15, 4, "l2"), (15, nlist, "cosine"))) {
        val batch = dist.searchBatch(qvs, k, np, metric)
        assert(batch.length === qvs.length)
        qvs.zipWithIndex.foreach { case (qv, i) =>
          assert(batch(i).toSeq === adc(dist, qv, k, np, metric).toSeq,
            s"q#$i k=$k np=$np metric=$metric")
        }
      }
      // empty batch (the max_query_batch rejection is the door's:
      // GraftFacadeSpec's cache-hierarchy spec)
      assert(dist.searchBatch(Seq.empty, 10, 3).isEmpty)
    } finally dist.unpersist()
  }

  test("binary byte-packed codes build identically to array<int> codes") {
    val binCodes = Ivf.assign(emb, cents).select(col("vec_id"),
      col("centroid_id"), Pq.codesBinaryColumn(cb).as("codes"))
    val distBin = PqServingIndex.build(binCodes, cents, cb, wide)
    val distInt = PqServingIndex.build(codes, cents, cb, wide)
    try {
      qRows.take(3).foreach { case (qid, qv) =>
        assert(adc(distBin, qv, 20, 5).toSeq ===
          adc(distInt, qv, 20, 5).toSeq, s"q=$qid")
      }
    } finally { distBin.unpersist(); distInt.unpersist() }
  }
}
