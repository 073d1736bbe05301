package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cents = Ivf.deterministicCentroids(emb, 50)
  private lazy val assigned = Ivf.assign(emb, cents).cache()
  private lazy val cmat = Ivf.collectCentroids(cents)
  private lazy val queries = graft.operators.Knn.defaultQueries(emb)
    .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def viaSearchPoint(qv: Array[Float], metric: String, k: Int,
      nprobe: Int): Seq[(Long, Double)] =
    Ivf.searchPoint(assigned, qv, cmat, metric, k, nprobe)
      .as[(Long, Double)].collect().toSeq

  test("serving index matches searchPoint exactly for every metric") {
    for (metric <- Seq("ip", "l2", "cosine")) {
      val idx = ServingIndex.build(assigned, cents, metric)
      for ((_, qv) <- queries.take(4)) {
        val got = idx.search(qv, 10, nprobe = 3).toSeq
        val want = viaSearchPoint(qv, metric, 10, 3)
        assert(got === want, s"metric=$metric")
      }
      idx.unpersist()
    }
  }

  test("probe pick matches searchPoint's probe set and order tie-break") {
    val idx = ServingIndex.build(assigned, cents, "ip")
    for ((_, qv) <- queries.take(4)) {
      // same code path by construction; assert the contract anyway
      assert(idx.probe(qv, 3) === Ivf.probePick(qv, cmat._1, cmat._2, 3))
      assert(idx.probe(qv, 1000).length === cmat._1.length)
    }
    idx.unpersist()
  }

  test("bounded top-k insertion handles ties by id and k larger than list") {
    // 3 vectors with identical scores → tie-break by id ascending
    val tied = Seq(
      (7L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)),
      (5L, Array(1.0f, 0.0f)), (9L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("centroid_id", lit(0L))
    val c = Seq((0L, Seq(0.5, 0.5))).toDF("cid", "cv")
    val idx = ServingIndex.build(tied, c, "ip")
    val got = idx.search(Array(1.0f, 0.0f), 10, 1)
    assert(got.map(_._1).toSeq === Seq(3L, 5L, 7L, 9L))
    assert(got.take(3).forall(_._2 === 1.0))
    // k smaller than the list truncates after tie-break
    assert(idx.search(Array(1.0f, 0.0f), 2, 1).map(_._1).toSeq
      === Seq(3L, 5L))
    idx.unpersist()
  }

  test("searchAllDF equals the knn_point union across the battery queries") {
    val idx = ServingIndex.build(assigned, cents, "ip")
    val reqs = queries.sortBy(_._1).take(10).toSeq
    val got = idx.searchAllDF(spark, reqs, 10, 3)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2))
    val want = reqs.flatMap { case (qid, qv) =>
      viaSearchPoint(qv, "ip", 10, 3).map { case (id, s) => (qid, id, s) }
    }.sortBy(r => (r._1, -r._3, r._2)).toArray
    assert(got === want)
    idx.unpersist()
  }

  test("searchBatch: one batch job returns exactly the per-request results, plain and filtered") {
    import graft.ingest.VectorEntries
    val entries = Ivf.assign(VectorEntries.fromEmbeddings(emb), cents).cache()
    val idx = ServingIndex.build(entries, cents, "ip",
      tenantCol = Some("tenant"), tagsCol = Some("tags"))
    val reqs = queries.sortBy(_._1).take(20).toSeq
    for (f <- Seq(ServingFilter.none,
        ServingFilter(tenant = Some("t1"), tagsAny = Some(Seq(3L, 11L))),
        ServingFilter(sampleP = Some(30)))) {
      for (nprobe <- Seq(1, 3, Int.MaxValue)) {
        val batch = idx.searchBatch(reqs, 10, nprobe, f)
        reqs.foreach { case (qid, qv) =>
          assert(batch(qid).toSeq === idx.search(qv, 10, nprobe, f).toSeq,
            s"qid=$qid nprobe=$nprobe filter=$f")
        }
      }
    }
    // batch cap applies (config.h:131)
    val small = ServingIndex.build(entries, cents, "ip",
      limits = ServingLimits(maxBatch = 5))
    intercept[IllegalArgumentException] {
      small.searchBatch(reqs.take(6), 10, 3)
    }
    small.unpersist(); idx.unpersist(); entries.unpersist()
  }

  test("filtered serving matches searchPoint under tenant/tags/sample predicates") {
    import graft.ingest.VectorEntries
    val entries = Ivf.assign(VectorEntries.fromEmbeddings(emb), cents).cache()
    val idx = ServingIndex.build(entries, cents, "ip",
      tenantCol = Some("tenant"), tagsCol = Some("tags"))
    def viaPoint(qv: Array[Float], f: org.apache.spark.sql.Column) =
      Ivf.searchPoint(entries, qv, cmat, "ip", 10, 3, filter = f)
        .as[(Long, Double)].collect().toSeq
    for ((_, qv) <- queries.take(3)) {
      // tenant + tags (the composite QueryRequest gate)
      assert(idx.search(qv, 10, 3, ServingFilter(tenant = Some("t1"),
          tagsAny = Some(Seq(3L, 11L)))).toSeq
        === viaPoint(qv, col("tenant") === "t1" &&
          VectorEntries.tagsAny(Seq(3, 11))))
      // sample_p gate
      assert(idx.search(qv, 10, 3, ServingFilter(sampleP = Some(25))).toSeq
        === viaPoint(qv, graft.operators.Knn.sampleFilter(25)))
      // no filter → same as unfiltered
      assert(idx.search(qv, 10, 3, ServingFilter.none).toSeq
        === viaPoint(qv, lit(true)))
    }
    idx.unpersist(); entries.unpersist()
  }

  test("tag posting prefilter is value-invisible: all-posted == none-posted == per-row searchPoint") {
    import graft.ingest.VectorEntries
    val entries = Ivf.assign(VectorEntries.fromEmbeddings(emb), cents).cache()
    // threshold 1.1: every tag below it → every tag posted (sparse path);
    // threshold 0.0: no tag below it → everything dense (per-row path)
    val posted = ServingIndex.build(entries, cents, "ip",
      tenantCol = Some("tenant"), tagsCol = Some("tags"),
      tagDenseThreshold = 1.1)
    val dense = ServingIndex.build(entries, cents, "ip",
      tenantCol = Some("tenant"), tagsCol = Some("tags"),
      tagDenseThreshold = 0.0)
    def viaPoint(qv: Array[Float], f: org.apache.spark.sql.Column) =
      Ivf.searchPoint(entries, qv, cmat, "ip", 10, 3, filter = f)
        .as[(Long, Double)].collect().toSeq
    val filters = Seq(
      ServingFilter(tagsAny = Some(Seq(3L, 11L)))
        -> VectorEntries.tagsAny(Seq(3, 11)),
      // composed with tenant + sample: posting rows still pass the other
      // predicates
      ServingFilter(tenant = Some("t1"), tagsAny = Some(Seq(3L, 11L)),
        sampleP = Some(60))
        -> (col("tenant") === "t1" && VectorEntries.tagsAny(Seq(3, 11)) &&
          graft.operators.Knn.sampleFilter(60)),
      // a tag carried by NO row: posting union is empty → no candidates
      ServingFilter(tagsAny = Some(Seq(999L))) -> lit(false))
    for ((_, qv) <- queries.take(3); (sf, sqlF) <- filters) {
      val want = viaPoint(qv, sqlF)
      assert(posted.search(qv, 10, 3, sf).toSeq === want, s"posted $sf")
      assert(dense.search(qv, 10, 3, sf).toSeq === want, s"dense $sf")
    }
    posted.unpersist(); dense.unpersist(); entries.unpersist()
  }

  // ---- read-your-writes: a buffer folded into the stored generation
  // by ServingIndex.patched, checked on the job path, searchBatch and
  // the driver-resident tier against the live-set brute force ----------

  /** The assigned deterministic mutation log as driver tuples
    * (vec_id, epoch, deleted, centroid_id, vec), plus its frame.
    */
  private lazy val mutationLog = {
    val entries = Ivf.assign(
        graft.ingest.MutationLog.deterministicLog(emb)
          .withColumn("id_hash",
            graft.functions.VectorFunctions.hashId(col("id")))
          .withColumn("deleted", col("op") === "DELETE"),
        cents, vecCol = "vec")
      .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
      .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
      .cache()
    val all = entries.collect().map(r => (r.getLong(0), r.getLong(2),
      r.getBoolean(3), r.getLong(4),
      if (r.isNullAt(5)) null else r.getSeq[Double](5).toArray))
    (entries, all)
  }

  /** Flush the log's rows below `cut` to a fresh store, build its stored
    * generation, and fold the rows at or above `cut` into it.
    */
  private def liveGeneration(dir: String, cut: Long): ServingIndex = {
    import graft.segments.Segments
    val entries = mutationLog._1
    Segments.writeSegment(entries.filter(col("epoch") < cut), dir,
      "delta-000", isStable = false)
    val stored = ServingIndex.buildStored(spark, dir, cents, "ip")
    val live = Patches.fold(stored, entries.filter(col("epoch") >= cut))
    stored.unpersist()
    live
  }

  /** Top-k of the whole log's live set (LWW per id, tombstones masked):
    * the rows whose live version lies in a `probed` list and passes the
    * sample gate, scored with the kernel's float-by-double dot.
    */
  private def liveTopK(qv: Array[Float], k: Int, probed: Long => Boolean,
      sampleP: Option[Int] = None): Seq[(Long, Double)] =
    mutationLog._2.groupBy(_._1).values.map(_.maxBy(_._2))
      .filter(v => !v._3 && v._5 != null && probed(v._4))
      .filter(v => sampleP.forall { p =>
        val m = (v._1 * 2654435761L) % 100L
        (if (m < 0) m + 100L else m) < p
      })
      .map { v =>
        var s = 0.0; var i = 0
        while (i < qv.length) { s += qv(i).toDouble * v._5(i); i += 1 }
        (v._1, s)
      }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)

  /** The job path, a one-query searchBatch and the local tier each
    * answer `want`.
    */
  private def assertEveryPath(idx: ServingIndex, local: LocalServingIndex,
      qv: Array[Float], k: Int, nprobe: Int, f: ServingFilter,
      want: Seq[(Long, Double)], clue: String): Unit = {
    assert(idx.search(qv, k, nprobe, f).toSeq === want, s"job $clue")
    assert(idx.searchBatch(Seq((7L, qv)), k, nprobe, f)(7L).toSeq === want,
      s"batch $clue")
    assert(local.search(qv, k, nprobe, f).toSeq === want, s"local $clue")
  }

  test("overlay: buffered upserts shadow stored rows, deletes mask, inserts appear") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-serving-patch-").toString
    try {
      import graft.segments.Segments
      // stored tier: ids 1..3 pointing along x
      val stored = Seq(
        (1L, 11L, 100L, false, 0L, Seq(1.0, 0.0)),
        (2L, 12L, 100L, false, 0L, Seq(0.9, 0.1)),
        (3L, 13L, 100L, false, 0L, Seq(0.8, 0.2)))
        .toDF("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
      Segments.writeSegment(stored, dir, "delta-000", isStable = false)
      val c = Seq((0L, Seq(0.5, 0.5))).toDF("cid", "cv")
      val idx = ServingIndex.buildStored(spark, dir, c, "ip")
      // buffer: id 1 re-upserted with a WORSE vector (must shadow the
      // stored one), id 2 deleted (must vanish), id 9 newly inserted
      val buffer = Seq(
        (1L, 11L, 200L, false, 0L, Seq(0.0, 1.0)),
        (2L, 12L, 200L, true, 0L, null.asInstanceOf[Seq[Double]]),
        (9L, 19L, 200L, false, 0L, Seq(1.0, 0.0)))
        .toDF("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
      val live = Patches.fold(idx, buffer)
      assert(live.maxEpoch === 200L)
      // id 9 (buffer insert, score 1.0) first; id 3 stored 0.8; id 1's
      // BUFFERED version scores 0.0 (not the stored 1.0); id 2 gone
      assertEveryPath(live, live.toLocal(), Array(1.0f, 0.0f), 10, 1,
        ServingFilter.none, Seq((9L, 1.0), (3L, 0.8), (1L, 0.0)), "live")
      // the same request on the stored generation sees the stored world
      val plain = idx.search(Array(1.0f, 0.0f), 10, 1)
      assert(plain.map(_._1).toSeq === Seq(1L, 2L, 3L))
      idx.unpersist(); live.unpersist()
    } finally graft.segments.Segments.deleteDir(dir)
  }

  test("overlay fuzz: random flush/buffer splits match the live-set brute force") {
    val dir0 = java.nio.file.Files
      .createTempDirectory("graft-patch-fuzz-").toString
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7)
      // random epoch cut: older rows flushed, newer rows still buffered
      val cut = 1500 + rnd.nextInt(2000)
      val live = liveGeneration(s"$dir0/t$seed", cut)
      val k = 5 + rnd.nextInt(20)
      val (qid, qv) = queries(rnd.nextInt(queries.length))
      assertEveryPath(live, live.toLocal(), qv, k, Int.MaxValue,
        ServingFilter.none, liveTopK(qv, k, _ => true),
        s"seed=$seed cut=$cut k=$k q=$qid")
      live.unpersist()
    }
    graft.segments.Segments.deleteDir(dir0)
  }

  test("overlay fuzz with PRUNED probes + sample filter: both tiers obey the probe set") {
    // the composition the probe-all fuzz above cannot catch: a buffered
    // winner in an UNPROBED list must still shadow its stale stored
    // version in a probed list without itself becoming a candidate, and
    // the sample gate applies to both tiers — randomized over epoch cut,
    // nprobe, k, and sample p
    val dir0 = java.nio.file.Files
      .createTempDirectory("graft-patch-prune-fuzz-").toString
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed * 31 + 5)
      val cut = 1500 + rnd.nextInt(2000)
      val live = liveGeneration(s"$dir0/t$seed", cut)
      val k = 3 + rnd.nextInt(12)
      val nprobe = 1 + rnd.nextInt(4)
      val pOpt = Seq(None, Some(30), Some(60), Some(90))(rnd.nextInt(4))
      val (qid, qv) = queries(rnd.nextInt(queries.length))
      // candidacy follows each id's LIVE version's list: a stale stored
      // version in a probed list never competes
      val probed = live.probe(qv, nprobe).toSet
      assertEveryPath(live, live.toLocal(), qv, k, nprobe,
        ServingFilter(sampleP = pOpt), liveTopK(qv, k, probed, pOpt),
        s"seed=$seed cut=$cut k=$k nprobe=$nprobe p=$pOpt q=$qid")
      live.unpersist()
    }
    graft.segments.Segments.deleteDir(dir0)
  }

  test("searchBatch x overlay: one batch job equals the per-request tiered results") {
    val dir0 = java.nio.file.Files
      .createTempDirectory("graft-batch-patch-").toString
    val live = liveGeneration(s"$dir0/t", 2000)
    val local = live.toLocal()
    val batch = queries.toSeq
    for {
      nprobe <- Seq(2, Int.MaxValue)
      f <- Seq(ServingFilter.none, ServingFilter(sampleP = Some(60)))
    } {
      val got = live.searchBatch(batch, 7, nprobe, f)
      batch.foreach { case (qid, qv) =>
        val want = liveTopK(qv, 7, live.probe(qv, nprobe).toSet, f.sampleP)
        assert(got(qid).toSeq === want, s"batch nprobe=$nprobe f=$f q=$qid")
        assert(live.search(qv, 7, nprobe, f).toSeq === want,
          s"job nprobe=$nprobe f=$f q=$qid")
        assert(local.search(qv, 7, nprobe, f).toSeq === want,
          s"local nprobe=$nprobe f=$f q=$qid")
      }
    }
    live.unpersist()
    graft.segments.Segments.deleteDir(dir0)
  }

  test("overlay: a fresh insert into a centroid with an EMPTY stored list is returned by search, searchBatch and the local tier (probed set never derived from stored blocks)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-serving-empty-list-").toString
    try {
      import graft.segments.Segments
      // stored world: one vector, in centroid 0; centroid 1 exists in
      // the layout but holds NO stored rows
      val stored = Seq((1L, 11L, 100L, false, 0L, Seq(1.0, 0.0)))
        .toDF("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
      Segments.writeSegment(stored, dir, "delta-000", isStable = false)
      val c = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cv")
      val idx = ServingIndex.buildStored(spark, dir, c, "ip")
      assert(idx.listSizes === Map(0L -> 1))
      // buffer: a fresh insert assigned to the EMPTY centroid 1
      val buffer = Seq((5L, 200L, false, 1L, Seq(0.0, 1.0)))
        .toDF("vec_id", "epoch", "deleted", "centroid_id", "vec")
      val live = Patches.fold(idx, buffer)
      idx.unpersist()
      assert(live.listSizes === Map(0L -> 1, 1L -> 1))
      val local = live.toLocal()
      val q = Array(0.0f, 1.0f)
      // nprobe 2: both lists probed, the insert ranks above the stored
      // row on every path
      assertEveryPath(live, local, q, 2, 2, ServingFilter.none,
        Seq((5L, 1.0), (1L, 0.0)), "nprobe=2")
      // nprobe 1: only the list that was empty is probed — the insert
      // is its one row
      assert(live.probe(q, 1) === Seq(1L))
      assertEveryPath(live, local, q, 2, 1, ServingFilter.none,
        Seq((5L, 1.0)), "nprobe=1")
      // both lists are cached, so both local requests served locally
      // instead of falling through to a probe job
      assert(local.localServes === 2 && local.fallThroughServes === 0,
        s"local=${local.localServes} fallThrough=${local.fallThroughServes}")
      live.unpersist()
    } finally graft.segments.Segments.deleteDir(dir)
  }

  test("guardrails: k clamps to max_k, oversized batches are rejected, filters need their columns") {
    // 150 rows in one list — k beyond the reference max_k=100 clamps
    val many = (0 until 150)
      .map(i => (i.toLong, Seq(1.0f + i * 1e-4f, 0.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("centroid_id", lit(0L))
    val c = Seq((0L, Seq(1.0, 0.0))).toDF("cid", "cv")
    val idx = ServingIndex.build(many, c, "ip")
    assert(idx.search(Array(1.0f, 0.0f), 500, 1).length === 100)
    // batch above max_query_batch=100 is a deterministic rejection
    val reqs = (0 until 101).map(i => (i.toLong, Array(1.0f, 0.0f)))
    intercept[IllegalArgumentException] {
      idx.searchAllDF(spark, reqs, 10, 1)
    }
    // a tenant/tags filter against an index without those columns is an
    // explicit rejection (the SQL twin fails analysis; silence is worse)
    intercept[IllegalArgumentException] {
      idx.search(Array(1.0f, 0.0f), 10, 1, ServingFilter(tenant = Some("t1")))
    }
    intercept[IllegalArgumentException] {
      idx.search(Array(1.0f, 0.0f), 10, 1,
        ServingFilter(tagsAny = Some(Seq(1L))))
    }
    idx.unpersist()
    // custom limits lift the caps (reference yaml makes them config)
    val idx2 = ServingIndex.build(many, c, "ip",
      limits = ServingLimits(maxK = 200, maxCandidates = Int.MaxValue,
        maxBatch = 100, deadlineMs = 5000L))
    assert(idx2.search(Array(1.0f, 0.0f), 500, 1).length === 150)
    idx2.unpersist()
  }

  test("guardrails: max_candidates truncates the probe walk in rank order, never below one probe") {
    // two 60-row lists along orthogonal axes; the query ranks list 0 first
    val rows = ((0 until 60).map(i => (i.toLong, Seq(1.0f, i * 1e-3f), 0L)) ++
      (0 until 60).map(i => (100L + i, Seq(i * 1e-3f, 1.0f), 1L)))
      .toDF("vec_id", "embedding", "centroid_id")
    val c = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cv")
    val qv = Array(1.0f, 0.1f)
    // budget 80: list 0 (60) fits, adding list 1 (120 total) would not →
    // the pool is list 0 only
    val capped = ServingIndex.build(rows, c, "ip",
      limits = ServingLimits(maxCandidates = 80))
    val got = capped.search(qv, 200, 2)
    assert(got.length === 60 && got.forall(_._1 < 100L))
    capped.unpersist()
    // budget 10 < any list: the best-ranked probe is kept regardless
    val tiny = ServingIndex.build(rows, c, "ip",
      limits = ServingLimits(maxCandidates = 10))
    assert(tiny.search(qv, 200, 2).length === 60)
    tiny.unpersist()
    // unlimited budget scans both lists (maxK raised so the pool shows)
    val full = ServingIndex.build(rows, c, "ip",
      limits = ServingLimits(maxK = 200))
    assert(full.search(qv, 200, 2).length === 120)
    full.unpersist()
  }

  test("deadline: a probe job past its deadline is cancelled, not awaited") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    intercept[ServingDeadlineExceeded] {
      ServingIndex.withDeadline(sc, 300L) {
        sc.parallelize(1 to 4, 4).map { i => Thread.sleep(60000); i }
          .count()
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 30000.0, s"cancel took ${ms} ms — job was awaited, not cancelled")
    // the session is healthy afterwards (cancellation is scoped to the
    // request's job group)
    assert(sc.parallelize(1 to 4, 4).count() === 4L)
  }

  test("rebuild -> refresh: serving index follows the re-clustered layout end to end") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-serving-rebuild-").toString
    try {
      import graft.segments.Segments
      val log = graft.ingest.MutationLog.deterministicLog(emb)
      val entries = Ivf.assign(
          log.withColumn("id_hash",
              graft.functions.VectorFunctions.hashId(col("id")))
            .withColumn("deleted", col("op") === "DELETE"),
          cents, vecCol = "vec")
        .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
        .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id",
          "vec")
      Segments.writeSegment(entries, dir, "delta-000", isStable = false)
      val idxBefore = ServingIndex.buildStored(spark, dir, cents, "ip")
      val qv = queries.head._2
      val before = idxBefore.search(qv, 10, nprobe = 1000).toSeq
      idxBefore.unpersist()
      // the 24 h job: re-cluster under a finer centroid set, then refresh
      val cents25 = Ivf.deterministicCentroids(emb, 25)
      Segments.rebuildLayout(spark, dir,
        df => Ivf.assign(df, cents25, vecCol = "vec"), "stable-gen2")
      val idxAfter = ServingIndex.buildStored(spark, dir, cents25, "ip")
      // full-probe results are layout-independent: same live rows, same
      // scores — the layout only changes WHICH lists hold them
      val after = idxAfter.search(qv, 10, nprobe = 1000).toSeq
      assert(after === before)
      // the refreshed index really is on the finer layout: more lists,
      // and a partial probe touches smaller lists than before
      assert(idxAfter.cids.length > cents.count())
      idxAfter.unpersist()
    } finally graft.segments.Segments.deleteDir(dir)
  }

  test("buildStored serves latest-live versions only") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-serving-stored-").toString
    try {
      import graft.segments.Segments
      val log = graft.ingest.MutationLog.deterministicLog(emb)
      val entries = Ivf.assign(
        log.withColumn("id_hash",
            graft.functions.VectorFunctions.hashId(col("id")))
          .withColumn("deleted", col("op") === "DELETE"),
        cents, vecCol = "vec")
        .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
      Segments.writeSegment(entries, dir, "delta-000", isStable = false)
      val idx = ServingIndex.buildStored(spark, dir, cents, "ip")
      // authority: the tiered read path (LWW + tombstone mask) at high k
      val stored = Segments.readSegments(spark, dir)
      val live = graft.operators.Lww.latestBy(
          stored.select(col("id_hash"), col("epoch"), col("deleted"),
            col("vec_id")),
          "id_hash", "epoch")
        .filter(!col("deleted"))
      val qv = queries.head._2
      val got = idx.search(qv, 50, nprobe = 1000).map(_._1).toSet
      val liveIds = live.select("vec_id").as[Long].collect().toSet
      assert(got.subsetOf(liveIds))
      assert(got.nonEmpty)
      idx.unpersist()
    } finally graft.segments.Segments.deleteDir(dir)
  }
}
