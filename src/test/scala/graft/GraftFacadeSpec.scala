package graft

import org.apache.spark.sql.functions._

import graft.segments.Segments
import graft.streaming.{Wal, WalRecord, WalRecordFb}

/** The facade lifecycle the reference's server runs, from the shipped
  * default config file ALONE: open → upsert → search → LWW re-upsert →
  * delete → compact → reopen → WAL-tail crash recovery. Everything
  * below `Graft.open(configs/graft-default.yaml)` comes from the file
  * (dim 768, metric ip, nprobe bands, WAL codec/rotation, limits).
  */
class GraftFacadeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-facade-").toString

  private val cfgPath = "configs/graft-default.yaml"
  private val dim = 768
  private val n = 200

  /** Near-orthogonal vectors: v_i carries 1.0 at slot (i*3)%dim plus a
    * tiny deterministic ripple — self-dot dominates every cross-dot,
    * so exact top-1 is unambiguous and survives IVF probing.
    */
  private def vec(i: Int): Array[Double] =
    Array.tabulate(dim)(d =>
      (if (d == (i * 3) % dim) 1.0 else 0.0) + 0.001 * math.cos(i + d))

  private def batchDF(ids: Seq[Int]) =
    ids.map(i => (s"id-$i", vec(i).toSeq)).toDF("id", "vec")

  test("open from the default config file: upsert → search → LWW → delete → compact → reopen") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    assert(g.config.collection.dim === dim)

    val (lo, hi) = g.upsert(batchDF(0 until n))
    assert(hi - lo === (n - 1).toLong)
    assert(g.liveView.count() === n)

    // self-query: near-orthogonal fixture → exact top-1 is the row
    // itself, and it must survive the probed path
    val q7 = vec(7).map(_.toFloat)
    val hit = g.search(q7, 5)
    assert(hit.nonEmpty)
    val id7hash = Seq("id-7").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    assert(hit.head._1 === id7hash, hit.take(3).mkString(","))
    assert(g.currentNprobe >= g.config.tuning.nprobeDeltaMin)

    // LWW re-upsert: id-7 moves to a new direction; the old version
    // must be masked everywhere
    val moved = Seq(("id-7", vec(777).toSeq)).toDF("id", "vec")
    g.upsert(moved)
    assert(g.liveView.count() === n) // still one live row per id
    val hitMoved = g.search(vec(777).map(_.toFloat), 3)
    assert(hitMoved.head._1 === id7hash)

    // delete: id-3 disappears from the live view and from search
    val id3hash = Seq("id-3").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    g.delete(Seq("id-3").toDF("id"))
    assert(g.liveView.count() === n - 1)
    assert(!g.search(vec(3).map(_.toFloat), 10).exists(_._1 === id3hash))

    // compact: deltas fold into one stable segment, results unchanged
    assert(g.compact().nonEmpty)
    val cat = Segments.catalogDescriptors(spark, base)
    assert(cat.count(_.is_stable) === 1 && cat.forall(_.is_stable))
    assert(g.liveView.count() === n - 1)
    // id-7 lives at direction 777 since the re-upsert — the compacted
    // world must serve the LWW winner, not the purged original
    val q777 = vec(777).map(_.toFloat)
    assert(g.search(q777, 3).head._1 === id7hash)
    g.checkpoint()

    // reopen: the store tree on disk is the database (centroids,
    // catalog, frontier all persist)
    g.close()
    val g2 = Graft.open(spark, base, cfgPath)
    assert(g2.liveView.count() === n - 1)
    assert(g2.search(q777, 3).head._1 === id7hash)
    g2.close()
    Segments.deleteDir(base)
  }

  test("maintain(): the config-driven background maintenance pass compacts and rebuilds on its own triggers") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    g.upsert(batchDF(0 until n))

    // fresh store: below every trigger → idle, nothing changes
    val r0 = g.maintain()
    assert(r0.idle, r0.toString)
    assert(Segments.catalogDescriptors(spark, base).count(!_.is_stable) === 1)

    // delta-count trigger: grow past max_segments_per_leaf (yaml: 8)
    (0 until g.config.segment.maxSegmentsPerLeaf).foreach { i =>
      g.upsert(batchDF(Seq(1000 + i)))
    }
    val r1 = g.maintain()
    assert(r1.compacted.exists(_.contains("max_segments_per_leaf")), r1)
    assert(r1.rebuilt.isEmpty, r1)
    val cat1 = Segments.catalogDescriptors(spark, base)
    assert(cat1.forall(_.is_stable) && cat1.length === 1)

    // tombstone trigger: a delete-heavy delta crosses the ratio
    // threshold (yaml: 0.2) — maintain folds it away
    g.delete((0 until 40).map(i => s"id-$i").toDF("id"))
    val r2 = g.maintain()
    assert(r2.compacted.exists(_.contains("tombstone_ratio")), r2)
    assert(g.liveView.count() ===
      (n + g.config.segment.maxSegmentsPerLeaf - 40).toLong)

    // age trigger: a clock 25 h ahead retrains + re-lays the store
    val r3 = g.maintain(nowMs = System.currentTimeMillis() +
      25L * 3600 * 1000)
    assert(r3.rebuilt.exists(_.contains("rebuild_interval_hours")), r3)
    val cat3 = Segments.catalogDescriptors(spark, base)
    assert(cat3.forall(_.is_stable) && cat3.length === 1)
    // the rebuilt world still serves: exact top-1 self-hit on a row
    // that SURVIVED the deletes (id-0..39 are gone)
    val id50hash = Seq("id-50").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    assert(g.search(vec(50).map(_.toFloat), 3).head._1 === id50hash)
    g.close()
    Segments.deleteDir(base)
  }

  test("declarativeAnn: the planner-rule door over the compacted stable tier") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.functions.expr.DotProduct
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    g.upsert(batchDF(0 until n))
    // a delta-only store refuses the door (it would serve without LWW)
    intercept[IllegalArgumentException](g.declarativeAnn())
    assert(g.compact().nonEmpty)

    val q7 = vec(7)
    def scored(store: org.apache.spark.sql.DataFrame, k: Int) =
      store.select(col("id_hash"),
          GraftBridge.column(DotProduct(
            GraftBridge.expression(col("vec")),
            GraftBridge.expression(lit(q7)))).as("score"))
        .orderBy(col("score").desc, col("id_hash").asc)
        .limit(k)

    // probed width: rewrite fires (partition filter at the scan) and the
    // near-orthogonal fixture's exact top-1 survives probing
    val probed = scored(g.declarativeAnn(nprobe = 4), 5)
    val pf = probed.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec =>
        f.metadata.getOrElse("PartitionFilters", "")
    }.filter(_.contains("centroid_id"))
    assert(pf.nonEmpty, probed.queryExecution.executedPlan.toString)
    val id7hash = Seq("id-7").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    assert(probed.collect().head.getLong(0) === id7hash)

    // probe-all width == exact brute force over the live view
    val got = scored(g.declarativeAnn(nprobe = Int.MaxValue), 10)
      .as[(Long, Double)].collect().toSeq
    val want = scored(g.liveView, 10).as[(Long, Double)].collect().toSeq
    assert(got === want)
    g.close()
    // shared session: deregister the store so no other suite's plans
    // are even considered by the rule
    spark.conf.unset(graft.plans.AnnTopKRewrite.STORES_KEY)
    Segments.deleteDir(base)
  }

  test("HNSW hot cache: warmCache admits, tunes ef to the config target, and serves") {
    val base = tmp()
    val cfg = GraftConfig.load(cfgPath)
    val withCache = cfg.copy(hnswCache = cfg.hnswCache.copy(enabled = true))
    val g = Graft.open(spark, base, withCache)
    g.upsert(batchDF(0 until 100))
    // cold: requests fall through to the probe path but still answer
    val q5 = vec(5).map(_.toFloat)
    val id5hash = Seq("id-5").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    assert(g.search(q5, 3).head._1 === id5hash)
    // warm: whole corpus fits the budget; ef calibrated to the target
    val Some((ef, recall)) = g.warmCache()
    assert(ef >= 10 && recall >= withCache.tuning.recallTarget,
      s"ef=$ef recall=$recall")
    assert(g.search(q5, 3).head._1 === id5hash) // now served by the graph
    g.close()
    Segments.deleteDir(base)
  }

  test("RPC boundary enforces the config's full limits; micro-batch path does not wedge") {
    val base = tmp()
    val cfg = GraftConfig.load(cfgPath)
    val small = cfg.copy(limits = cfg.limits.copy(maxUpsertBatch = 50))
    val g = Graft.open(spark, base, small)
    intercept[graft.ingest.UpsertBatchTooLarge] {
      g.upsert(batchDF(0 until 51))
    }
    // a wrong-dim batch rejects whole (mis-deployment surfaces at write)
    intercept[graft.ingest.DimMismatch] {
      g.upsert(Seq(("bad", Seq(1.0, 2.0))).toDF("id", "vec"))
    }
    // nothing landed
    assert(Segments.catalogDescriptors(spark, base).isEmpty)
    g.close()
    Segments.deleteDir(base)
  }

  test("reopen resumes the segment-id counter past consumed ids — a new flush never overwrites a live segment") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    g.upsert(batchDF(0 until 40))          // delta-00000
    assert(g.compact().nonEmpty)           // stable-00001
    assert(g.compact().isEmpty)            // consumes id 2, publishes nothing
    assert(g.rebuild().nonEmpty)           // rebuild-00003 (replaces stable)
    g.checkpoint()                         // folds catalog history
    g.close()

    val g2 = Graft.open(spark, base, cfgPath)
    val before = Segments.catalogDescriptors(spark, base)
      .map(d => d.segment_id -> d.num_vectors).toMap
    g2.upsert(batchDF(100 until 110))
    val after = Segments.catalogDescriptors(spark, base)
      .map(d => d.segment_id -> d.num_vectors).toMap
    // every pre-existing live segment survives untouched (the old bug:
    // counter resumed from the descriptor COUNT, landed on a used id,
    // and the next flush silently Overwrote a live segment's data)
    before.foreach { case (id, nv) =>
      assert(after.get(id) === Some(nv), s"segment $id was clobbered")
    }
    assert(g2.liveView.count() === 50)
    g2.close()
    Segments.deleteDir(base)
  }

  test("an explicit-epoch batch bumps the auto-epoch counter — later auto writes stay visible") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    // batch brings its OWN epochs, far above the counter
    val explicit = Seq(("id-X", vec(1).toSeq, 5000L))
      .toDF("id", "vec", "epoch")
    g.upsert(explicit)
    // auto-epoch re-upsert of the same id must WIN (be the LWW latest),
    // not silently lose to the explicit 5000
    g.upsert(Seq(("id-X", vec(2).toSeq)).toDF("id", "vec"))
    val live = g.liveView.filter(col("id") === "id-X")
      .select(col("epoch")).head().getLong(0)
    assert(live > 5000L, s"auto epoch $live did not sort after 5000")
    val hit = g.search(vec(2).map(_.toFloat), 1)
    val idXhash = Seq("id-X").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    assert(hit.head._1 === idXhash)
    // the served generation now stands above 5000. An explicit-epoch
    // batch BELOW it fails the patch gate (its rows may lose LWW to
    // stored versions), and so does one that carries an id twice at
    // one epoch (both rows stay live); either drops the generation,
    // and the next read rebuilds: the answers a fresh open gives
    assert(g.servedGeneration.exists(_.maxEpoch > 5000L))
    g.upsert(Seq(("id-X", vec(3).toSeq, 10L), ("id-Y", vec(4).toSeq, 11L))
      .toDF("id", "vec", "epoch"))
    assert(g.servedGeneration.isEmpty, "a below-max batch patched")
    assert(g.search(vec(4).map(_.toFloat), 1).head._1 === hashOf("id-Y"))
    assert(g.search(vec(2).map(_.toFloat), 1).head._1 === idXhash,
      "the late epoch-10 write to id-X won LWW")
    assert(g.servedGeneration.nonEmpty) // the searches rebuilt it
    g.upsert(Seq(("id-Z", vec(5).toSeq, 9000L), ("id-Z", vec(6).toSeq, 9000L))
      .toDF("id", "vec", "epoch"))
    assert(g.servedGeneration.isEmpty, "an epoch-tie batch patched")
    val g2 = Graft.open(spark, base, cfgPath)
    for (i <- Seq(2, 3, 4, 5, 6)) {
      val q = vec(i).map(_.toFloat)
      assert(g.search(q, 4).toSeq === g2.search(q, 4).toSeq, s"q=vec($i)")
    }
    g2.close()
    g.close()
    Segments.deleteDir(base)
  }

  test("an interrupted rebuild centroid swap heals at open: promote if published, discard if not") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    g.upsert(batchDF(0 until 40))
    g.close()
    // simulate a crash AFTER staging a new layout but BEFORE the
    // relayout committed: the staged dir exists, no rebuild descriptor
    val stale = s"$base/centroids_next_rebuild-99999"
    spark.read.parquet(s"$base/centroids").write.parquet(stale)
    val g2 = Graft.open(spark, base, cfgPath)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stale)),
      "unpublished staged layout must be discarded at open")
    // the live layout is intact and still serves
    assert(g2.search(vec(7).map(_.toFloat), 3).nonEmpty)
    g2.close()
    Segments.deleteDir(base)
  }

  test("open replays the un-flushed WAL tail into a recovery segment (T8)") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    g.upsert(batchDF(0 until 50))
    g.close()

    // an acknowledged-but-unflushed batch: frames land in the WAL with
    // epochs past the persisted frontier, no segment (the crash window
    // between group commit and flush)
    val ghostHash = Seq("ghost-1").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    val ghost = WalRecord(op = 0.toByte, id = "ghost-1",
      idHash = ghostHash, tenantNsHash = 0L,
      timestampNanos = 999999L, dim = dim,
      vector = vec(99).map(_.toFloat), tags = Array.emptyIntArray,
      flags = 0, epoch = 999999L, centroidId = 0,
      tenant = "t0", namespace = "default")
    Wal.appendBinaryRotating(s"$base/wal",
      Seq((ghost.epoch, WalRecordFb.encode(ghost))))

    val g2 = Graft.open(spark, base, cfgPath)
    assert(g2.liveView.count() === 51)
    assert(g2.liveView.filter(col("id_hash") === ghostHash).count() === 1)
    // the recovery segment is in the catalog, and a SECOND reopen does
    // not duplicate it (frontier advanced; replay is idempotent)
    assert(Segments.catalogDescriptors(spark, base)
      .exists(_.segment_id.startsWith("recover-")))
    g2.close()
    val g3 = Graft.open(spark, base, cfgPath)
    assert(g3.liveView.count() === 51)
    g3.close()
    Segments.deleteDir(base)
  }

  test("startStream publishes to the facade overlay; liveView merges it with upserted segments (T5 via overlay)") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    // a synchronous upsert first: segments now carry the facade's full
    // column set, so the merge path (segment schema ⊇ overlay schema)
    // is the one under test
    g.upsert(batchDF(0 until 20))

    // overlay rows not yet flushed anywhere must be visible through
    // liveView, LWW-resolved against the flushed world
    val ovRows = (20 until 25).map { i =>
      (s"id-$i", vec(i).toSeq, (5000 + i).toLong)
    } ++ Seq(("id-3", vec(333).toSeq, 9999L)) // supersedes the upsert
    import org.apache.spark.sql.functions.{col => c}
    val ovDf = ovRows.toDF("id", "vec", "epoch")
      .withColumn("op", lit("UPSERT"))
      .withColumn("id_hash", graft.functions.VectorFunctions.hashId(c("id")))
      .withColumn("vec_id", c("id_hash"))
      .withColumn("deleted", lit(false))
      .withColumn("centroid_id", lit(0L))
      .select("op", "vec_id", "id", "id_hash", "epoch", "deleted",
        "centroid_id", "vec")
    assert(g.overlay.publishBatch(ovDf) === 9999L)
    assert(g.liveView.count() === 25) // 20 flushed + 5 new (id-3 merged)
    // the overlay version of id-3 (epoch 9999) must win LWW
    val id3 = Seq("id-3").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(c("id")))
      .head().getLong(0)
    assert(g.liveView.filter(c("id_hash") === id3)
      .select("epoch").head().getLong(0) === 9999L)

    // the streaming path end-to-end: source dir drains through
    // startStream; AvailableNow flushes everything, so the overlay is
    // published-then-pruned and liveView serves from segments alone
    g.overlay.prune(Long.MaxValue)
    val srcDir = s"$base/streamsrc"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(srcDir))
    // a search against the pre-stream world pins the serving cache so
    // the post-stream search below proves the per-publish invalidation
    assert(g.search(vec(5).map(_.toFloat), 3).nonEmpty)
    // streamed rows carry their TRUE nearest-centroid assignment (the
    // store's persisted layout), so the probed search can find them
    val storeCents = spark.read.parquet(s"$base/centroids")
    val wave = graft.index.Ivf.assign(
      (30 until 40).map { i =>
        (s"id-$i", vec(i).toSeq, (8000 + i).toLong)
      }.toDF("id", "vec", "epoch")
        .withColumn("op", lit("UPSERT"))
        .withColumn("id_hash",
          graft.functions.VectorFunctions.hashId(c("id")))
        .withColumn("vec_id", c("id_hash"))
        .withColumn("deleted", lit(false)),
      storeCents, vecCol = "vec")
      .withColumn("centroid_id", coalesce(c("centroid_id"), lit(-1L)))
      .select("op", "vec_id", "id", "id_hash", "epoch", "deleted",
        "centroid_id", "vec")
    wave.coalesce(1).write.mode("append").parquet(srcDir)
    val q = g.startStream(srcDir, s"$base/streamckpt")
    try q.awaitTermination() finally q.stop()
    // the publish invalidated the serving cache: search() sees the
    // streamed world (the index path, not just liveView)
    val id35 = Seq("id-35").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(c("id")))
      .head().getLong(0)
    val hit35 = g.search(vec(35).map(_.toFloat), 3)
    assert(hit35.nonEmpty && hit35.head._1 === id35,
      hit35.take(3).mkString(","))
    // maxEpoch is a high-water mark (survives pruning): it already
    // carries the direct publish's 9999 — the streamed publish keeps
    // it (it would read 8039 on a fresh overlay)
    assert(g.overlay.maxEpoch === 9999L)
    assert(g.overlay.size === 0) // pruned after the catalog publish
    // the 5 overlay-only rows were never flushed — pruning them is a
    // visibility rollback ONLY because this test bypassed the ingest
    // path (publishBatch direct); the stream's own rows are durable
    assert(g.liveView.count() === 30) // 20 upserted + 10 streamed
    g.close()

    // reopen across mixed writers: the facade counter resumes past its
    // OWN ids only (delta/stable/rebuild) — sdelta names are the
    // stream's checkpoint-derived space and must not advance it; the
    // next upsert lands on delta-00001, next to the stream's segments
    val g4 = Graft.open(spark, base, cfgPath)
    assert(g4.liveView.count() === 30)
    g4.upsert(batchDF(50 until 55))
    val ids = Segments.catalogDescriptors(spark, base).map(_.segment_id)
    assert(ids.contains("delta-00001"), ids.sorted.mkString(","))
    assert(ids.exists(_.startsWith("sdelta-")))
    assert(g4.liveView.count() === 35)
    g4.close()
    Segments.deleteDir(base)
  }

  test("stable-tier PQ door: cold tier refuses; warm tier serves exact-reranked self-queries; deletes never surface") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    g.upsert(batchDF(0 until n))
    g.compact()
    val q7 = vec(7).map(_.toFloat)
    intercept[IllegalStateException] { g.searchPq(q7, 5) }
    val lists = g.warmPqTier() // trained codebook (pq_m from config)
    assert(lists > 0)
    // near-orthogonal fixture: after the exact rerank the top-1 must be
    // the row itself, PQ compression notwithstanding
    val id7hash = Seq("id-7").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    val hits = g.searchPq(q7, 5)
    assert(hits.nonEmpty && hits.head._1 === id7hash,
      hits.take(3).mkString(","))
    // phase 2 reads the CURRENT store: a row deleted after the warm
    // must never surface even though its codes are still packed
    g.delete(Seq("id-7").toDF("id"))
    assert(!g.searchPq(q7, 10).exists(_._1 === id7hash),
      "deleted row surfaced from the stale PQ tier")
    // maintenance re-admission: rows upserted AFTER the warm are not in
    // the tier's phase-1 codes (snapshot semantics) — but a maintain()
    // pass that compacts must RE-WARM the tier with the same quantizer,
    // and the new row becomes findable through the PQ door
    val id999hash = Seq("id-999").toDF("id")
      .select(graft.functions.VectorFunctions.hashId(col("id")))
      .head().getLong(0)
    (0 to g.config.segment.maxSegmentsPerLeaf).foreach { i =>
      g.upsert(Seq((if (i == 0) "id-999" else s"id-$i",
        vec(if (i == 0) 999 else i).toSeq)).toDF("id", "vec"))
    }
    val rep = g.maintain()
    assert(rep.compacted.nonEmpty, rep.toString)
    val hits999 = g.searchPq(vec(999).map(_.toFloat), 3)
    assert(hits999.nonEmpty && hits999.head._1 === id999hash,
      s"post-maintenance tier does not serve the re-admitted corpus: " +
        hits999.take(3).mkString(","))
    g.close()
    Segments.deleteDir(base)
  }

  test("open sweeps orphan segment dirs no catalog row references (crash-window GC)") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    g.upsert(batchDF(0 until 20))
    g.checkpoint()
    g.close()
    // fabricate the crash window: a segment dir written by an
    // optimistic flush whose catalog append never happened — readers
    // are catalog-driven so it is invisible, but without the sweep the
    // disk leak is permanent
    val orphan = java.nio.file.Paths.get(
      s"$base/${Segments.StoreDir}/segment_id=zz-orphan/centroid_id=0")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    val g2 = Graft.open(spark, base, cfgPath)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$base/${Segments.StoreDir}/segment_id=zz-orphan")),
      "orphan dir survived the open sweep")
    // and the sweep touched NOTHING the catalog references
    assert(g2.liveView.count() === 20)
    g2.close()
    Segments.deleteDir(base)
  }

  test("frontier advance: a crash-torso .tmp never breaks reopen, and a blocked frontier path fails LOUDLY") {
    val base = tmp()
    val g = Graft.open(spark, base, cfgPath)
    g.upsert(batchDF(0 until 10))
    g.close()
    // crash mid-advanceFrontier: a garbled .tmp torso beside the real
    // frontier — reopen must ignore it and the next advance replaces it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/wal/_flushed_epoch.tmp"),
      "garbled-torso".getBytes)
    val g2 = Graft.open(spark, base, cfgPath)
    assert(g2.liveView.count() === 10)
    g2.upsert(batchDF(10 until 12))
    val fr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/wal/_flushed_epoch"))).trim
    assert(fr.nonEmpty && fr.forall(_.isDigit),
      s"frontier garbled after torso-replacing advance: '$fr'")
    assert(g2.liveView.count() === 12)
    // now block the frontier path with a non-empty DIRECTORY: both the
    // non-recursive delete and the rename must refuse, and the advance
    // must THROW — silently skipping it would repay a full WAL replay
    // on every reopen forever (an invisible failure, not a policy)
    val fp = java.nio.file.Paths.get(s"$base/wal/_flushed_epoch")
    java.nio.file.Files.delete(fp)
    java.nio.file.Files.createDirectories(fp.resolve("block"))
    java.nio.file.Files.write(fp.resolve("block").resolve("x"),
      "y".getBytes)
    intercept[java.io.IOException] {
      g2.upsert(batchDF(12 until 13))
    }
    g2.close()
    Segments.deleteDir(base)
  }

  // ---- PQ-door metric correctness ----
  // Fixture (dim 64, q = e0): `near` sits almost ON the query (l2²≈1e-6,
  // cos≈1) with the SMALLEST dot product in the corpus (1.0); 60 decoys
  // all out-dot it (dot 2.0) while being farther (l2² ≥ 5) and less
  // aligned (cos ≤ 0.71); `far` out-dots everything (4.05) at l2² 13.1 /
  // cos 0.9. With a 20-candidate phase-1 pool, an inner-product LUT can
  // therefore NEVER admit `near` — the metric-correct LUTs must rank it
  // first under l2 and cosine.
  private val mdim = 64
  private def mq: Array[Float] = {
    val a = new Array[Float](mdim); a(0) = 1f; a
  }
  private def metricBatch() = {
    val near = ("near", Array.tabulate(mdim)(d =>
      if (d == 0) 1.0 else if (d == 62) 0.001 else 0.0).toSeq)
    val far = ("far", Array.tabulate(mdim)(d =>
      if (d == 0) 4.05 else if (d == 63) 1.96 else 0.0).toSeq)
    val decoys = (0 until 60).map { i =>
      (s"decoy-$i", Array.tabulate(mdim)(d =>
        if (d == 0) 2.0
        else if (d == 1 + i) 2.0 + 0.01 * i else 0.0).toSeq)
    }
    (Seq(near, far) ++ decoys).toDF("id", "vec")
  }
  private def hashOf(id: String): Long = Seq(id).toDF("id")
    .select(graft.functions.VectorFunctions.hashId(col("id")))
    .head().getLong(0)
  private def exactTop(g: Graft, q: Array[Float],
      k: Int): Seq[(Long, Double)] = {
    val metric = g.config.collection.metric
    val rows = g.liveView.filter(col("vec").isNotNull)
      .select(col("id_hash"), col("vec").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val topk = new graft.operators.TopK.Bounded(k, asc = metric == "l2")
    rows.foreach { case (id, v) =>
      topk.insert(graft.index.ServingIndex.scoreOne(q, v, metric), id)
    }
    topk.result().toSeq
  }
  private def metricCfg(metric: String): GraftConfig = {
    val cfg0 = GraftConfig.default
    cfg0.copy(
      collection = cfg0.collection.copy(dim = mdim, metric = metric),
      stable = cfg0.stable.copy(pqM = 8, nprobe = 100000))
  }

  test("PQ door under l2: negated-L2 phase-1 LUT admits the nearest row an IP pool would exclude") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("l2"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0)
    val got = g.searchPq(mq, 5, rerank = 4).toSeq // pool 20 of 62 rows
    val want = exactTop(g, mq, 5)
    assert(got === want, s"got=$got want=$want")
    assert(got.head._1 === hashOf("near"),
      "phase-1 pool excluded the l2-nearest row")
    // evicted distributed tier (no L0 to hide behind): the stored L2
    // plan replays the same negated-L2 LUT — values identical through
    // the fall-through
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0)
    g.releasePqDistTier()
    assert(g.searchPq(mq, 5, rerank = 4).toSeq === want,
      "L2 stored fall-through diverged under l2")
    assert(g.pqDoorRoutes._3 >= 1, "expected a stored serve")
    g.close()
    Segments.deleteDir(base)
  }

  test("PQ door under cosine: normalize-at-admission codes rank by angle, not magnitude") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("cosine"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0)
    val got = g.searchPq(mq, 5, rerank = 4).toSeq
    val want = exactTop(g, mq, 5)
    assert(got === want, s"got=$got want=$want")
    assert(got.head._1 === hashOf("near"),
      "phase-1 pool excluded the best-aligned row")
    assert(got(1)._1 === hashOf("far")) // cos 0.9 beats every decoy
    // stored L2 under cosine: normalized-IP LUT + normalized-query
    // probing replay identically through the fall-through
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0)
    g.releasePqDistTier()
    assert(g.searchPq(mq, 5, rerank = 4).toSeq === want,
      "L2 stored fall-through diverged under cosine")
    assert(g.pqDoorRoutes._3 >= 1, "expected a stored serve")
    g.close()
    Segments.deleteDir(base)
  }

  test("PQ door phase 2 consults the streaming overlay: buffered DELETE masks, buffered upsert re-scores") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0)
    val hFar = hashOf("far")
    assert(g.searchPq(mq, 3).head._1 === hFar) // ip: far out-dots all
    // a DELETE admitted to the overlay but not yet catalog-published
    // must mask its candidate inside the micro-batch window
    import org.apache.spark.sql.functions.{col => c}
    val delDf = Seq(("far", Array.fill(mdim)(0.0).toSeq, 50000L))
      .toDF("id", "vec", "epoch")
      .withColumn("op", lit("DELETE"))
      .withColumn("id_hash", graft.functions.VectorFunctions.hashId(c("id")))
      .withColumn("vec_id", c("id_hash"))
      .withColumn("deleted", lit(true))
      .withColumn("centroid_id", lit(0L))
      .select("op", "vec_id", "id", "id_hash", "epoch", "deleted",
        "centroid_id", "vec")
    assert(g.overlay.publishBatch(delDf) === 50000L)
    assert(!g.searchPq(mq, 10, rerank = 16).exists(_._1 === hFar),
      "overlay-buffered DELETE surfaced through the PQ door")
    // a buffered upsert that moves a row ONTO the query direction must
    // be scored from the overlay's CURRENT vector, not the stale store
    val movedVec = Array.tabulate(mdim)(d => if (d == 0) 9.0 else 0.0)
    val upDf = Seq(("decoy-0", movedVec.toSeq, 50001L))
      .toDF("id", "vec", "epoch")
      .withColumn("op", lit("UPSERT"))
      .withColumn("id_hash", graft.functions.VectorFunctions.hashId(c("id")))
      .withColumn("vec_id", c("id_hash"))
      .withColumn("deleted", lit(false))
      .withColumn("centroid_id", lit(0L))
      .select("op", "vec_id", "id", "id_hash", "epoch", "deleted",
        "centroid_id", "vec")
    assert(g.overlay.publishBatch(upDf) === 50001L)
    // pool 48 ≥ corpus, so decoy-0 is a phase-1 candidate via its
    // STALE codes; phase 2 must score its overlay vector (dot 9.0)
    val top = g.searchPq(mq, 3, rerank = 16)
    assert(top.head._1 === hashOf("decoy-0") &&
      math.abs(top.head._2 - 9.0) < 1e-9, top.take(3).mkString(","))
    g.close()
    Segments.deleteDir(base)
  }

  test("searchPqBatch: one phase-1 job + one plan-free phase-2 read, per-query results identical to searchPq") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0)
    val qsBatch: Seq[Array[Float]] = Seq(
      mq,
      Array.tabulate(mdim)(d => if (d == 5) 1f else 0f),
      Array.tabulate(mdim)(d => if (d == 0) -1f else 0.1f))
    val batch = g.searchPqBatch(qsBatch, 5)
    assert(batch.length === 3)
    qsBatch.zipWithIndex.foreach { case (q, i) =>
      assert(batch(i).toSeq === g.searchPq(q, 5).toSeq, s"q#$i")
    }
    // overlay consultation holds per query inside the batch: a
    // buffered DELETE of `far` masks it for every query it pools for
    import org.apache.spark.sql.functions.{col => c}
    val delDf = Seq(("far", Array.fill(mdim)(0.0).toSeq, 60000L))
      .toDF("id", "vec", "epoch")
      .withColumn("op", lit("DELETE"))
      .withColumn("id_hash", graft.functions.VectorFunctions.hashId(c("id")))
      .withColumn("vec_id", c("id_hash"))
      .withColumn("deleted", lit(true))
      .withColumn("centroid_id", lit(0L))
      .select("op", "vec_id", "id", "id_hash", "epoch", "deleted",
        "centroid_id", "vec")
    assert(g.overlay.publishBatch(delDf) === 60000L)
    val hFar = hashOf("far")
    val batch2 = g.searchPqBatch(qsBatch, 10, rerank = 16)
    qsBatch.zipWithIndex.foreach { case (q, i) =>
      assert(!batch2(i).exists(_._1 === hFar), s"q#$i surfaced the delete")
      assert(batch2(i).toSeq === g.searchPq(q, 10, rerank = 16).toSeq,
        s"q#$i with overlay")
    }
    g.close()
    Segments.deleteDir(base)
  }

  test("searchPqBatch at a deep rerank (64): per-query results equal the single door") {
    // a deep pool puts most of the fixture in every query's phase-2
    // lookup, so one store row serves several queries at once — the
    // per-query values must still equal the single door exactly
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0)
    val qsBatch: Seq[Array[Float]] = Seq(
      mq,
      Array.tabulate(mdim)(d => if (d == 5) 1f else 0f),
      Array.tabulate(mdim)(d => if (d == 0) -1f else 0.1f))
    val single = qsBatch.map(q => g.searchPq(q, 10, rerank = 64).toSeq)
    val batch = g.searchPqBatch(qsBatch, 10, rerank = 64)
    qsBatch.indices.foreach { i =>
      assert(batch(i).toSeq === single(i), s"q#$i diverged at rerank 64")
    }
    g.close()
    Segments.deleteDir(base)
  }

  /** Spark jobs submitted while `body` runs, from any thread: the
    * listener bus delivers events in order, so counting the job starts
    * between two marker jobs needs no access to the bus itself.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("graft.spec.marker")))
          .getOrElse(""))
    }
    // a marker query may run as several jobs (AQE stages): every job it
    // submits carries its marker
    def marker(m: String): Unit = {
      sc.setLocalProperty("graft.spec.marker", m)
      try spark.range(1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
    }
    sc.addSparkListener(l)
    try {
      marker("begin")
      val out = body
      marker("end")
      var seen = List.empty[String]
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains("end") && System.nanoTime() < deadline)
        Option(starts.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS))
          .foreach(m => seen = seen :+ m)
      assert(seen.contains("end"), s"marker job never reached the listener: $seen")
      val between = seen.dropWhile(_ != "begin").dropWhile(_ == "begin")
        .takeWhile(_ != "end")
      (out, between.length)
    } finally sc.removeSparkListener(l)
  }

  test("PQ doors submit ZERO Spark jobs when the driver tier serves phase 1 (plan-free phase 2)") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("l2"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0)
    val qs: Seq[Array[Float]] = Seq(mq,
      Array.tabulate(mdim)(d => if (d == 5) 1f else 0f),
      Array.tabulate(mdim)(d => if (d == 0) -1f else 0.1f))
    val local0 = g.pqDoorRoutes._1
    val (single, singleJobs) = jobsDuring(g.searchPq(mq, 5, rerank = 16))
    assert(g.pqDoorRoutes._1 === local0 + 1, "phase 1 was not L0-routed")
    assert(single.nonEmpty)
    assert(singleJobs === 0, s"searchPq submitted $singleJobs Spark jobs")
    val (batch, batchJobs) =
      jobsDuring(g.searchPqBatch(qs, 5, rerank = 16))
    assert(g.pqDoorRoutes._1 === local0 + 1 + qs.length,
      "batch phase 1 was not L0-routed")
    assert(batchJobs === 0, s"searchPqBatch submitted $batchJobs Spark jobs")
    assert(batch.head.toSeq === single.toSeq)
    g.close()
    Segments.deleteDir(base)
  }

  test("concurrent searchPq requests equal the serial answers (driver-side phase-2 reads share only the bloom cache)") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("cosine"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0)
    val qs: Seq[Array[Float]] = (0 until 8).map(i =>
      Array.tabulate(mdim)(d => if (d == i || d == 63 - i) 1f else 0.01f * d))
    val serial = qs.map(q => g.searchPq(q, 5, rerank = 16).toSeq)
    // each round drops the resident id evidence, so the concurrent
    // requests also race to re-admit and probe it — the bloom cache is
    // the read's only shared state
    (0 until 4).foreach { round =>
      Segments.invalidateBlooms(base)
      val par = graft.operators.Parallelism.parRequests(qs, 8)(q =>
        g.searchPq(q, 5, rerank = 16).toSeq)
      qs.indices.foreach { i =>
        assert(serial(i).nonEmpty)
        assert(par(i) === serial(i), s"round $round q#$i diverged")
      }
    }
    g.close()
    Segments.deleteDir(base)
  }

  test("maintain() demotes the PQ tier to cold when re-admission cannot retrain (corpus emptied)") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0) // TRAINED admission → re-warm retrains
    assert(g.searchPq(mq, 3).nonEmpty)
    // delete every live row: the delta's tombstone ratio trips the
    // compaction policy, and the re-warm's codebook training has
    // nothing to train on — maintenance must still report, with the
    // tier demoted to cold instead of an exception swallowing the
    // committed compaction
    g.delete(metricBatch().select("id"))
    val rep = g.maintain()
    assert(rep.compacted.nonEmpty, rep.toString)
    intercept[IllegalStateException] { g.searchPq(mq, 3) }
    g.close()
    Segments.deleteDir(base)
  }

  test("serve-under-mutation fuzz: searchPq stays exact across interleaved upserts/deletes/compacts/re-warms (snapshot contract)") {
    // pins the semantics warmPqTier documents: phase-1 candidates are
    // the WARM-TIME snapshot, phase 2 re-scores against the CURRENT
    // store with LWW — so the servable set is (warm ids ∩ current
    // live), deleted rows never surface, a re-upserted (resurrected)
    // warm id serves its NEW vector, and rows born after the warm stay
    // invisible until the next admission pass. nprobe from metricCfg
    // probes every list and rerank 64 covers the fixture, so the model
    // is the complete exact top-k over that servable set.
    val base = tmp()
    var g = Graft.open(spark, base, metricCfg("ip"))
    val rnd = new scala.util.Random(4242)
    def rvec(): Seq[Double] =
      Seq.tabulate(mdim)(_ => rnd.nextDouble() * 2 - 1)
    val live = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val hashes = scala.collection.mutable.Map.empty[String, Long]
    def upsert(ids: Seq[String]): Unit = {
      val rows = ids.map(id => (id, rvec()))
      rows.foreach { case (id, v) => live(id) = v }
      val df = rows.toDF("id", "vec")
      df.select(col("id"),
          graft.functions.VectorFunctions.hashId(col("id")).as("h"))
        .collect().foreach(r => hashes(r.getString(0)) = r.getLong(1))
      g.upsert(df)
    }
    upsert((0 until 40).map(i => s"r-$i"))
    g.compact()
    assert(g.warmPqTier() > 0)
    var warmIds: Set[String] = live.keySet.toSet
    // stamp-gate model: the tree stamp folds the catalog + overlay, so
    // a warm ROLLS the generation iff the catalog changed since the
    // last warm (upsert/delete/actual compact) — a clean re-warm must
    // REUSE the live tree (budget is not a stamp input)
    var catalogDirty = false
    def warmArm(budget: Long): Unit = {
      val before = g.pqCodesLiveDir
      assert((if (budget < 0) g.warmPqTier()
              else g.warmPqTier(localBudgetBytes = budget)) > 0)
      warmIds = live.keySet.toSet
      if (catalogDirty)
        assert(g.pqCodesLiveDir !== before,
          s"dirty-catalog re-warm reused the stale tree $before")
      else
        assert(g.pqCodesLiveDir === before,
          "clean re-warm rolled the generation (stamp regression)")
      catalogDirty = false
    }
    def serveCheck(step: Int): Unit = {
      val k = 1 + rnd.nextInt(8)
      val qv = Array.tabulate(mdim)(_ => rnd.nextFloat() * 2 - 1)
      val got = g.searchPq(qv, k, rerank = 64).toSeq
      val topk = new graft.operators.TopK.Bounded(k, asc = false)
      warmIds.iterator.filter(live.contains).foreach { id =>
        topk.insert(graft.index.ServingIndex.scoreOne(
          qv, live(id).toArray, "ip"), hashes(id))
      }
      assert(got === topk.result().toSeq, s"step=$step k=$k")
    }
    serveCheck(-1)
    (0 until 25).foreach { step =>
      rnd.nextInt(7) match {
        case 0 =>
          upsert(Seq.fill(1 + rnd.nextInt(4))(
            s"r-${rnd.nextInt(60)}").distinct)
          catalogDirty = true
        case 1 if live.size > 5 =>
          val victims = rnd.shuffle(live.keys.toSeq.sorted)
            .take(1 + rnd.nextInt(3))
          victims.foreach(live.remove)
          g.delete(victims.toDF("id"))
          catalogDirty = true
        case 2 =>
          // an idle compact (no deltas) publishes nothing — the stamp
          // must not roll for it
          if (g.compact().nonEmpty) catalogDirty = true
        case 3 if live.nonEmpty =>
          warmArm(-1L)
        case 4 if live.nonEmpty =>
          // starved re-warm: no L0, so a later eviction (case 5) pushes
          // serves all the way to the stored codes tree
          warmArm(0L)
        case 5 =>
          // mid-session block-manager eviction: route-invisible — the
          // model does NOT change, the door must keep answering exactly
          // (from L0 if it covers, mixed L0/stored or pure stored
          // otherwise)
          g.releasePqDistTier()
        case 6 =>
          // REOPEN arm (restart durability): a clean catalog must
          // ADOPT the stamped tree — the door keeps serving the SAME
          // warm snapshot, stored-route, with no warm call; a dirty
          // catalog must SWEEP it — the door refuses until the next
          // warm (never a stale-codes serve)
          g.close()
          g = Graft.open(spark, base, metricCfg("ip"))
          if (catalogDirty) {
            assert(g.pqCodesLiveDir.isEmpty,
              s"step=$step dirty-catalog reopen adopted a stale tree")
            intercept[IllegalStateException](g.searchPq(mq, 1))
            warmArm(0L) // warmArm asserts the generation rolls (None→Some)
          } else {
            assert(g.pqCodesLiveDir.nonEmpty,
              s"step=$step clean reopen failed to adopt the tree")
            // warmIds unchanged: the adopted tier serves the same
            // snapshot the pre-restart warm admitted
          }
        case _ => ()
      }
      serveCheck(step)
    }
    // deterministic coda: whatever the walk drew, end with a starved
    // warm + eviction so the STORED path is model-checked at least once
    if (live.nonEmpty) {
      warmArm(0L)
      g.releasePqDistTier()
      serveCheck(99)
      assert(g.pqDoorRoutes._3 > 0,
        s"stored path never served: ${g.pqDoorRoutes}")
    }
    g.close()
    Segments.deleteDir(base)
  }

  test("PQ door cache hierarchy: default budget serves phase 1 driver-side; a starved budget falls through to the distributed tier with identical results") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    // default budget (512 MiB) covers this corpus — the door must pay
    // ZERO scheduler dispatch on phase 1 (driver-tier route)
    assert(g.warmPqTier() > 0)
    val full = (1 to 3).map(_ => g.searchPq(mq, 5).toSeq)
    val fullBatch = g.searchPqBatch(Seq(mq, mq), 5).map(_.toSeq)
    val (loc1, dist1, stored1) = g.pqDoorRoutes
    assert(loc1 >= 3 && dist1 === 0 && stored1 === 0,
      s"expected driver-tier routes, got ($loc1, $dist1, $stored1)")
    assert(full.head === exactTop(g, mq, 5))
    // a budget that admits nothing: phase 1 must fall through to the
    // distributed tier — same values, route counter proves the path
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0)
    val starved = g.searchPq(mq, 5).toSeq
    val starvedBatch = g.searchPqBatch(Seq(mq, mq), 5).map(_.toSeq)
    val (_, dist2, stored2) = g.pqDoorRoutes
    assert(dist2 >= 1 && stored2 === 0,
      s"expected a distributed-tier route, got dist=$dist2 stored=$stored2")
    assert(starved === full.head,
      "route choice changed the door's values")
    assert(starvedBatch === fullBatch,
      "route choice changed the batch door's values")
    // the Q12 guardrail is enforced AT THE DOOR (config.h:180), so an
    // oversized batch is rejected identically whichever cache level
    // would have served it — never a silent serve on one route and an
    // exception on the other
    val oversized = Seq.fill(g.config.servingLimits.maxBatch + 1)(mq)
    intercept[IllegalArgumentException] { g.searchPqBatch(oversized, 3) }
    assert(g.warmPqTier() > 0) // back to the covering budget
    intercept[IllegalArgumentException] { g.searchPqBatch(oversized, 3) }
    g.close()
    Segments.deleteDir(base)
  }

  test("PQ doors clamp the client k to max_top_k at the door, whichever cache level serves") {
    val base = tmp()
    val maxK = 5
    val cfg0 = metricCfg("ip")
    val g = Graft.open(spark, base, cfg0.copy(query =
      cfg0.query.copy(maxTopK = maxK, defaultTopK = maxK)))
    g.upsert(metricBatch())
    g.compact()
    val q2 = Array.tabulate(mdim)(d => if (d == 5) 1f else 0f)
    // default budget: L0 covers every query; zero budget: L1 serves all
    for (budget <- Seq(-1L, 0L)) {
      assert(g.warmPqTier(localBudgetBytes = budget) > 0)
      val at = g.searchPq(mq, maxK).toSeq
      assert(at.length === maxK)
      // an unclamped k would also widen the rerank pool (k × rerank),
      // so past-maxK answers equal the maxK answers only if the door
      // clamps before routing
      assert(g.searchPq(mq, maxK + 5).toSeq === at, s"budget=$budget")
      val batchAt = g.searchPqBatch(Seq(mq, q2), maxK).map(_.toSeq)
      assert(batchAt.head === at)
      assert(g.searchPqBatch(Seq(mq, q2), maxK + 5).map(_.toSeq) ===
        batchAt, s"budget=$budget")
      val (loc, dist, stored) = g.pqDoorRoutes
      if (budget < 0) assert(loc === 6 && dist === 0, g.pqDoorRoutes)
      else assert(loc === 0 && dist === 6, g.pqDoorRoutes)
      assert(stored === 0)
    }
    g.close()
    Segments.deleteDir(base)
  }

  test("batch door serves mixed L0/L1 like the single door: one phase-1 job, per-query results equal searchPq, mixed serves counted the same") {
    val base = tmp()
    val cfg0 = metricCfg("ip")
    // a narrow probe (2 lists) over 16 well-separated groups of 4 rows,
    // so with half the lists resident some queries fall wholly inside
    // the starved driver tier, some split, some miss it
    val g = Graft.open(spark, base,
      cfg0.copy(stable = cfg0.stable.copy(nprobe = 2)))
    def unit(d: Int) = Array.tabulate(mdim)(i => if (i == d) 1f else 0f)
    g.upsert((for (grp <- 0 until 16; j <- 0 until 4) yield
      (s"g$grp-$j", Array.tabulate(mdim)(d =>
        if (d == 4 * grp) 1.0 else if (d == 4 * grp + 1) 0.01 * j
        else 0.0).toSeq)).toDF("id", "vec"))
    g.compact()
    val rows = g.liveView.count()
    assert(g.warmPqTier(localBudgetBytes = rows * (8L + 8L) / 2) > 0)
    // classify candidate queries by the route their single-door serve
    // takes: (local, mixed, dist) counter deltas
    def routes = {
      val (l, d, _) = g.pqDoorRoutes
      val mx = g.pqDoorMixedServes
      (l - mx, mx, d)
    }
    // a query between groups a and b probes their two lists
    val cands = for (a <- 0 until 16; b <- Seq((a + 1) % 16, (a + 8) % 16))
      yield unit(4 * a).zip(unit(4 * b)).map { case (x, y) => x + 0.5f * y }
    val classified = cands.map { q =>
      val before = routes
      val want = g.searchPq(q, 5).toSeq
      val after = routes
      val cls =
        if (after._2 > before._2) "mixed"
        else if (after._3 > before._3) "l1"
        else "local"
      (q, want, cls)
    }
    val byCls = classified.groupBy(_._3)
    assert(Seq("local", "mixed", "l1").forall(byCls.contains),
      s"fixture degenerate: ${byCls.view.mapValues(_.length).toMap}")
    val picked = Seq("local", "mixed", "l1").flatMap(c => byCls(c).take(2))
    val before = routes
    val (got, jobs) = jobsDuring(g.searchPqBatch(picked.map(_._1), 5))
    val after = routes
    picked.zip(got).foreach { case ((_, want, cls), pool) =>
      assert(pool.toSeq === want, s"$cls query diverged from searchPq")
    }
    assert(jobs === 1, s"batch door submitted $jobs Spark jobs")
    // the batch door counts each query exactly as the single door did
    def count(c: String) = picked.count(_._3 == c).toLong
    assert((after._1 - before._1, after._2 - before._2,
      after._3 - before._3) === ((count("local"), count("mixed"),
      count("l1"))), s"before=$before after=$after")
    g.close()
    Segments.deleteDir(base)
  }

  test("PQ door L2: an evicted distributed tier DEGRADES to the durable codes tree — same values, stored-serve counters, both doors") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    // no L0 (starved budget): every request routes to the distributed
    // tier, so the eviction below leaves only the stored path
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0)
    val q2 = Array.tabulate(mdim)(d => if (d == 5) 1f else 0f)
    val want = g.searchPq(mq, 5).toSeq
    val wantBatch = g.searchPqBatch(Seq(mq, q2), 5).map(_.toSeq)
    val (_, d1, s1) = g.pqDoorRoutes
    assert(d1 >= 1 && s1 === 0, s"expected L1 routes, got ($d1, $s1)")
    g.releasePqDistTier() // block-manager eviction stand-in
    // the r12 verdict's finding #1: this used to THROW ("PQ tier cold")
    // — the architecture says DEGRADE, and the stored plan must answer
    // with the exact same values
    assert(g.searchPq(mq, 5).toSeq === want,
      "stored fall-through changed the door's values")
    assert(g.searchPq(mq, 5).toSeq === exactTop(g, mq, 5))
    assert(g.searchPqBatch(Seq(mq, q2), 5).map(_.toSeq) === wantBatch,
      "batch door diverged through the stored path")
    val (_, _, s2) = g.pqDoorRoutes
    assert(s2 >= 4, s"expected stored serves, got $s2")
    // a re-warm restores the cache levels; only a never-warmed door
    // refuses
    assert(g.warmPqTier() > 0)
    assert(g.searchPq(mq, 5).toSeq === want)
    g.close()
    Segments.deleteDir(base)
  }

  test("stored L2 plan partition-prunes: the codes-tree scan carries a real PartitionFilter, never a full-tree read") {
    // the cold path's whole layout promise is that a request reads
    // ~nprobe list directories out of nlist — if the probe filter's
    // literal type ever stops matching the inferred partition column
    // (hive inference types centroid_id as INT), Catalyst wraps the
    // PARTITION column in a cast and directory pruning is at the
    // planner's mercy; this pins the scan node itself
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0)
    val plan = g.pqStoredPlanForTest(mq, 5, nprobe = 1, metric = "ip")
      .getOrElse(fail("no stored plan for a warm tier"))
    // sparkPlan, not executedPlan: the broadcast-LUT join makes the
    // plan adaptive, and AdaptiveSparkPlanExec hides its subtree from
    // collect until execution — partition filters are set before AQE
    val scans = plan.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the stored L2 plan")
    assert(scans.head.partitionFilters.nonEmpty,
      "stored L2 scan lost its partition filter — full-tree read:\n" +
        plan.queryExecution.executedPlan.toString)
    // and the filter is NOT cast-wrapped on the partition column (a
    // cast can demote static directory pruning)
    val pf = scans.head.partitionFilters.map(_.sql).mkString(";")
    assert(!pf.toLowerCase.contains("cast(centroid_id"),
      s"partition filter casts the partition column: $pf")
    g.close()
    Segments.deleteDir(base)
  }

  test("pqcodes generations: a stamp-matched re-warm REUSES the live tree, mutations roll it, the ring retires, close/open reclaim") {
    // each TREE-WRITING warm creates a fresh pqcodes_g<n>; overwriting
    // one fixed path in place would delete the files the LIVE stored
    // closure reads — a failed re-warm would then leave the old tier
    // installed with a broken L2 (the degrade-not-throw contract
    // inverted). A warm whose inputs (corpus, codebook, layout, metric)
    // match the live tree's stamp REUSES it — a maintain()-triggered
    // no-op re-admission must not rewrite ~10 GB at the 100M geometry.
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    def gens(): Set[String] =
      Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("pqcodes_g")).toSet
    def mutate(id: String): Unit = {
      g.upsert(Seq((id, Array.tabulate(mdim)(d =>
        if (d == 2) 0.5 else 0.0).toSeq)).toDF("id", "vec"))
      g.compact()
    }
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0) // g0
    assert(gens() === Set("pqcodes_g0"), gens().toString)
    val live0 = g.pqCodesLiveDir.get
    val cb0 = g.pqTierCodebook.get
    // NO-OP re-warm: same corpus, same layout — the BASE stamp matches
    // so the trained quantizer is reused (not retrained: the trainer
    // is deterministic in those inputs, a retrain would reproduce it
    // bit for bit while paying the sample pass), the full stamp
    // matches so the live generation is reused, the tiers rebuild from
    // the TREE read — nothing new on disk, no corpus pass
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0)
    assert(g.pqCodesLiveDir.get === live0,
      "stamp-matched re-warm rolled the generation")
    assert(g.pqTierCodebook.get eq cb0,
      "stamp-matched re-warm retrained the codebook")
    assert(gens() === Set("pqcodes_g0"),
      s"no-op re-warm wrote a tree: ${gens()}")
    g.releasePqDistTier()
    val want = g.searchPq(mq, 5).toSeq // stored serve against g0
    assert(want === exactTop(g, mq, 5))
    // corpus mutation → new stamp → fresh generation; g0 retained so
    // requests in flight across the swap finish against their files
    mutate("ring-a")
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0) // g1
    assert(g.pqCodesLiveDir.get !== live0,
      "corpus-mutating re-warm did not roll the generation")
    assert(gens() === Set("pqcodes_g0", "pqcodes_g1"), gens().toString)
    g.releasePqDistTier()
    assert(g.searchPq(mq, 5).toSeq === exactTop(g, mq, 5),
      "stored serve against the new generation diverged")
    // ring retention: the 2 newest retired generations are kept (a
    // stored scan in flight across TWO back-to-back swaps still finds
    // its files); the third swap retires the oldest
    mutate("ring-b")
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0) // g2
    assert(gens() === Set("pqcodes_g0", "pqcodes_g1", "pqcodes_g2"),
      gens().toString)
    mutate("ring-c")
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0) // g3; g0 retires
    assert(gens() === Set("pqcodes_g1", "pqcodes_g2", "pqcodes_g3"),
      gens().toString)
    val liveAtClose = g.pqCodesLiveDir.get
    g.close()
    // close() reclaims the RETIRED generations but keeps the LIVE tree:
    // it is restart-durable (stamp/codebook/sizes sidecars) — deleting
    // it would re-pay assign+encode+tree-write (~an hour at 100M) for a
    // bit-identical corpus at the next warm
    assert(gens() === Set("pqcodes_g3"),
      s"close must keep the live tree, reclaim retired: ${gens()}")
    // crash stand-in: a STAMPLESS leftover generation sweeps at the
    // next open; the stamped live tree is ADOPTED, not swept
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/pqcodes_g9"))
    val g2 = Graft.open(spark, base, metricCfg("ip"))
    assert(gens() === Set("pqcodes_g3"),
      s"open must sweep stampless generations, adopt the live one: ${gens()}")
    assert(g2.pqCodesLiveDir.contains(liveAtClose),
      s"reopen did not adopt the stamped tree: ${g2.pqCodesLiveDir}")
    g2.close()
    Segments.deleteDir(base)
  }

  test("restart-durable codes tree: reopen ADOPTS a stamp-matched tree and serves STORED with no re-warm; a mutated store rolls it") {
    val base = tmp()
    def gens(): Set[String] =
      Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("pqcodes_g")).toSet
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0) // trained, g0
    g.releasePqDistTier()
    val want = g.searchPq(mq, 5).toSeq
    val fp0 = graft.index.Pq.codebookFingerprint(g.pqTierCodebook.get)
    val live0 = g.pqCodesLiveDir.get
    g.close()

    // reopen over the UNCHANGED store: the tree is adopted from its
    // sidecars and the door serves from it IMMEDIATELY — no warm call,
    // no corpus pass, no retrain; the first post-restart cache miss
    // degrades to the tree instead of refusing
    val g2 = Graft.open(spark, base, metricCfg("ip"))
    assert(g2.pqCodesLiveDir.contains(live0),
      s"reopen did not adopt the tree: ${g2.pqCodesLiveDir}")
    val got = g2.searchPq(mq, 5).toSeq
    assert(got === want, s"adopted stored tier diverged: $got vs $want")
    assert(g2.pqDoorRoutes === ((0L, 0L, 1L)),
      s"adopted tier must serve STORED: ${g2.pqDoorRoutes}")
    // the BATCH door on the adopted tier: no local, no distributed —
    // probes come from the stored bundle and the whole batch serves as
    // ONE batched stored plan, value-identical to the single door
    val gotBatch = g2.searchPqBatch(Seq(mq, mq), 5).map(_.toSeq)
    assert(gotBatch === Seq(want, want),
      s"adopted-tier batch door diverged: $gotBatch")
    assert(g2.pqDoorRoutes === ((0L, 0L, 3L)),
      s"batch door must route stored on the adopted tier: ${g2.pqDoorRoutes}")
    assert(graft.index.Pq.codebookFingerprint(g2.pqTierCodebook.get)
      === fp0, "adopted codebook not bit-identical")
    // ...and the next warm REUSES the adopted tree: same generation
    // dir (no tree write), same quantizer (no retrain — the adopted
    // codebook was TRAINED, so it IS what training would produce)
    assert(g2.warmPqTier(localBudgetBytes = 0L) > 0)
    assert(g2.pqCodesLiveDir.contains(live0),
      "post-adoption warm rolled the generation")
    assert(gens() === Set(new java.io.File(live0).getName),
      s"post-adoption warm wrote a tree: ${gens()}")
    assert(graft.index.Pq.codebookFingerprint(g2.pqTierCodebook.get)
      === fp0, "post-adoption warm retrained")
    g2.releasePqDistTier()
    assert(g2.searchPq(mq, 5).toSeq === want)
    g2.close()

    // mutate the store BETWEEN sessions: the reopened base stamp no
    // longer matches — the tree must SWEEP, the door is cold until a
    // fresh warm (never a stale-codes serve)
    val g3 = Graft.open(spark, base, metricCfg("ip"))
    g3.upsert(Seq(("mutant", Array.tabulate(mdim)(d =>
      if (d == 3) 0.7 else 0.0).toSeq)).toDF("id", "vec"))
    g3.compact()
    g3.close()
    val g4 = Graft.open(spark, base, metricCfg("ip"))
    assert(g4.pqCodesLiveDir.isEmpty,
      s"mutated store adopted a stale tree: ${g4.pqCodesLiveDir}")
    assert(gens().isEmpty, s"stale tree survived the open sweep: ${gens()}")
    intercept[IllegalStateException](g4.searchPq(mq, 5))
    assert(g4.warmPqTier(localBudgetBytes = 0L) > 0)
    g4.releasePqDistTier()
    assert(g4.searchPq(mq, 5).toSeq === exactTop(g4, mq, 5))
    g4.close()
    Segments.deleteDir(base)
  }

  test("adopted PINNED tree: reopen serves stored, and an unpinned re-warm must NOT reuse the pinned quantizer as if trained") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    // pin a quantizer that training would NOT produce (trained uses the
    // hash-ordered sample; this one is the deterministic fixture)
    val pinned = graft.index.Pq.deterministicCodebook(
      g.liveView.filter(col("vec").isNotNull)
        .select(abs(col("id_hash")).as("vec_id"),
          col("vec").as("embedding")),
      8, 8, every = 7)
    assert(g.warmPqTier(Some(pinned), localBudgetBytes = 0L) > 0)
    g.releasePqDistTier()
    val want = g.searchPq(mq, 5).toSeq
    val live0 = g.pqCodesLiveDir.get
    g.close()
    val g2 = Graft.open(spark, base, metricCfg("ip"))
    // adopted and serving (the codes+codebook pair is value-correct
    // regardless of how the quantizer was admitted)
    assert(g2.pqCodesLiveDir.contains(live0))
    assert(g2.searchPq(mq, 5).toSeq === want)
    // an UNPINNED warm retrains (the adoption restored the pinned
    // policy): the trained quantizer differs from the pinned fixture,
    // so the stamp rolls and a fresh generation lands
    assert(g2.warmPqTier(localBudgetBytes = 0L) > 0)
    assert(!g2.pqCodesLiveDir.contains(live0),
      "unpinned re-warm reused the pinned tree (training short-circuited)")
    assert(graft.index.Pq.codebookFingerprint(g2.pqTierCodebook.get)
      !== graft.index.Pq.codebookFingerprint(pinned),
      "unpinned re-warm kept the pinned quantizer")
    g2.releasePqDistTier()
    assert(g2.searchPq(mq, 5).toSeq === exactTop(g2, mq, 5))
    g2.close()
    Segments.deleteDir(base)
  }

  test("maintain() on an ADOPTED tier: post-restart churn re-admits the tier and the door serves the post-maintenance world") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier(localBudgetBytes = 0L) > 0) // trained
    g.releasePqDistTier()
    val want = g.searchPq(mq, 5).toSeq
    g.close()

    // restart: the tree is adopted and serves stored immediately
    val g2 = Graft.open(spark, base, metricCfg("ip"))
    val live0 = g2.pqCodesLiveDir
    assert(live0.isDefined, "reopen did not adopt the tree")
    assert(g2.searchPq(mq, 5).toSeq === want)
    // post-restart churn: tombstone the door's own top hit — a
    // delete-only delta crosses tombstone_ratio_threshold, so POLICY
    // compacts; the policy pass must then re-admit the ADOPTED tier
    // under its restored admission policy (trained → retrain on the
    // survivors) with no manual warm call, and the tombstoned row must
    // never resurrect through the stale adopted codes
    g2.delete(Seq("near").toDF("id"))
    // the tombstone is masked IMMEDIATELY: the adopted door's phase-2
    // LWW scans the live store, the new delta file's id evidence loads
    // lazily (it was not in the adoption-time warm), and the buffered
    // winner is dropped — no maintain, no warm, no stale-codes serve
    val masked = g2.searchPq(mq, 5).toSeq
    assert(!masked.exists(_._1 === hashOf("near")),
      s"tombstone not masked by the adopted door before maintenance: " +
        s"$masked")
    val rep = g2.maintain()
    assert(rep.compacted.exists(_.contains("tombstone_ratio")), rep.toString)
    assert(!g2.pqCodesLiveDir.exists(live0.contains),
      "maintenance kept serving the pre-compaction adopted tree")
    val got = g2.searchPq(mq, 5).toSeq
    assert(got === exactTop(g2, mq, 5),
      s"post-maintenance adopted door diverged: $got")
    assert(!got.exists(_._1 === hashOf("near")),
      "tombstoned row resurfaced through the adopted tier")
    g2.close()
    Segments.deleteDir(base)
  }

  test("mixed L0/stored serve: with L1 evicted, a starved driver tier scans its resident lists and only the misses pay the parquet plan") {
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    // budget for roughly half the coded corpus: the driver tier admits
    // SOME lists (nprobe covers every list, so each request both hits
    // and misses L0 — the split shape)
    val rows = g.liveView.count()
    val half = rows * (8L + 8L) / 2
    assert(g.warmPqTier(localBudgetBytes = half) > 0)
    val q2 = Array.tabulate(mdim)(d => if (d == 5) 1f else 0f)
    val want = Seq(mq, q2).map(q => g.searchPq(q, 5).toSeq)
    g.releasePqDistTier() // L1 gone: L0 + stored must compose
    val got = Seq(mq, q2).map(q => g.searchPq(q, 5).toSeq)
    assert(got === want, "mixed L0/stored serve diverged from the warm answer")
    assert(got.head === exactTop(g, mq, 5))
    assert(g.pqDoorMixedStoredServes >= 2,
      s"expected mixed L0/stored serves, got routes=${g.pqDoorRoutes} " +
        s"mixedStored=${g.pqDoorMixedStoredServes}")
    // the BATCH door splits the same way: resident lists driver-side,
    // only the misses join the one batched stored plan, pools merged
    // per query — values identical to the single door
    val before = g.pqDoorMixedStoredServes
    val gotBatch = g.searchPqBatch(Seq(mq, q2), 5).map(_.toSeq)
    assert(gotBatch === want, "batch-door mixed L0/stored diverged")
    assert(g.pqDoorMixedStoredServes >= before + 2,
      s"batch door did not serve mixed: before=$before " +
        s"after=${g.pqDoorMixedStoredServes}")
    // the mixed-stored serves are accounted under the stored column
    assert(g.pqDoorRoutes._3 >= g.pqDoorMixedStoredServes)
    assert(g.pqDoorAnomalousRoutes === 0L,
      "eviction fall-through must not count as a coverage anomaly")
    g.close()
    Segments.deleteDir(base)
  }

  test("warmPqTier trains a DETERMINISTIC codebook: repeated warms and a reopened store admit bit-identical quantizers") {
    // phase 2 re-scores exactly, so a drifting codebook is
    // value-invisible in searchPq results — the contract is pinned on
    // the quantizer itself (hash-ordered sample → deterministic Lloyd;
    // a bare limit() sample depends on scan/partition order)
    def flat(cb: graft.index.Pq.Codebook): (Int, Int, Seq[Double]) =
      (cb.m, cb.dsub, cb.codebooks.toSeq.flatMap(_.toSeq.flatMap(_.toSeq)))
    val base = tmp()
    val g = Graft.open(spark, base, metricCfg("ip"))
    g.upsert(metricBatch())
    g.compact()
    assert(g.warmPqTier() > 0)
    val cb1 = flat(g.pqTierCodebook.get)
    assert(g.warmPqTier() > 0) // re-warm, same session
    assert(flat(g.pqTierCodebook.get) === cb1,
      "two warms over the same corpus trained different codebooks")
    g.close()
    // a fresh open (fresh plans, fresh scan order) must warm identically
    val g2 = Graft.open(spark, base, metricCfg("ip"))
    assert(g2.warmPqTier() > 0)
    assert(flat(g2.pqTierCodebook.get) === cb1,
      "a reopened store warmed a different codebook")
    g2.close()
    Segments.deleteDir(base)
  }

  // ---- write-through serving patch (ServingIndex.patched) ----------

  private def patchCfg(metric: String, maxTopK: Int = 100,
      maxCandidates: Int = 10000): GraftConfig = {
    val c = metricCfg(metric)
    c.copy(query = c.query.copy(maxTopK = maxTopK,
      maxCandidates = maxCandidates))
  }

  private def gaussBatch(rnd: scala.util.Random, ids: Seq[String]) =
    ids.map(id => (id, Seq.fill(mdim)(rnd.nextGaussian()))).toDF("id", "vec")

  private def gaussQuery(rnd: scala.util.Random): Array[Float] =
    Array.fill(mdim)(rnd.nextGaussian().toFloat)

  test("serving patch parity: after every batch the patched generation equals a fresh buildStored (list sizes, bit-equal answers; l2/ip/cosine; a binding max_candidates)") {
    val cfgs = Seq(patchCfg("l2"), patchCfg("ip"), patchCfg("cosine"),
      patchCfg("l2", maxTopK = 10, maxCandidates = 20))
    cfgs.zipWithIndex.foreach { case (cfg, c) =>
      val metric = cfg.collection.metric
      val base = tmp()
      val g = Graft.open(spark, base, cfg)
      val rnd = new scala.util.Random(910 + c)
      def batch(ids: Int*) = gaussBatch(rnd, ids.map(i => s"p-$i"))
      g.upsert(batch(0 until 160: _*))
      assert(g.search(gaussQuery(rnd), 5).nonEmpty) // builds generation 0
      val steps: Seq[(String, () => (Long, Long))] = Seq(
        "new ids + overwrites that move lists" ->
          (() => g.upsert(batch((160 until 180) ++ (0 until 10): _*))),
        "deletes" ->
          (() => g.delete((5 until 13).map(i => s"p-$i").toDF("id"))),
        "re-insert of deleted ids" -> (() => g.upsert(batch(6, 9, 180))),
        "overwrite p-20" -> (() => g.upsert(batch(20, 21))),
        "overwrite p-20 again" -> (() => g.upsert(batch(20))),
        "one id twice in a batch" -> (() => g.upsert(batch(30, 30, 181))))
      steps.foreach { case (what, run) =>
        val at = s"$metric/${cfg.query.maxCandidates} $what"
        val (_, hi) = run()
        val gen = g.servedGeneration.getOrElse(fail(s"$at: did not patch"))
        assert(gen.maxEpoch === hi, at)
        val fresh = graft.index.ServingIndex.buildStored(spark, base,
          spark.read.parquet(s"$base/centroids"), metric,
          limits = cfg.servingLimits)
        try {
          assert(gen.listSizes === fresh.listSizes, at)
          for (q <- Seq.fill(4)(gaussQuery(rnd));
               np <- Seq(cfg.tuning.nprobeDeltaMin, cfg.tuning.nprobeDeltaMax,
                 gen.cids.length);
               k <- Seq(1, cfg.query.maxTopK))
            assert(gen.search(q, k, np).toSeq === fresh.search(q, k, np).toSeq,
              s"$at nprobe=$np k=$k")
        } finally fresh.unpersist()
      }
      g.close()
      Segments.deleteDir(base)
    }
  }

  test("serving patch: search right after upsert submits exactly one job, and upsert no more than the rebuild-on-read write path") {
    val base = tmp()
    val g = Graft.open(spark, base, patchCfg("l2"))
    val rnd = new scala.util.Random(17)
    g.upsert(gaussBatch(rnd, (0 until 160).map(i => s"j-$i")))
    assert(g.search(gaussQuery(rnd), 5).nonEmpty)
    val next = gaussBatch(rnd, (150 until 200).map(i => s"j-$i"))
    val q = next.filter(col("id") === "j-170").select("vec").head()
      .getSeq[Double](0).map(_.toFloat).toArray
    val (_, upsertJobs) = jobsDuring(g.upsert(next))
    assert(g.servedGeneration.nonEmpty, "the upsert did not patch")
    val (hit, searchJobs) = jobsDuring(g.search(q, 3))
    assert(hit.head._1 === hashOf("j-170"))
    assert(searchJobs === 1, s"search after upsert submitted $searchJobs jobs")
    // 2: the input job (guard and collect in one) and the serving
    // patch; epochs, hashes, assignment, the WAL, the segment write and
    // the layout read run on the driver
    assert(upsertJobs <= 2, s"upsert submitted $upsertJobs jobs")
    g.close()
    Segments.deleteDir(base)
  }

  /** The DataFrame prepare the facade ran before its driver kernels
    * (coalesce(1) + row_number epochs, `hashId`, the `nearestIndex`
    * projection), committed through the same WAL / flush / patch path:
    * the oracle of the collect-first parity spec.
    */
  private def oracleUpsert(g: Graft, batch: org.apache.spark.sql.DataFrame)
      : (Long, Long) = {
    val stats = graft.ingest.IngestGuard.validateBatch(batch,
      g.config.ingestLimits, vecCol = "vec",
      tagsCol = if (batch.columns.contains("tags")) Some("tags") else None,
      idCol = Some("id"))
    val withDeleted =
      if (batch.columns.contains("deleted")) batch
      else if (batch.columns.contains("op"))
        batch.withColumn("deleted", col("op") === "DELETE")
      else batch.withColumn("deleted", lit(false))
    val withEpoch =
      if (withDeleted.columns.contains("epoch")) withDeleted
      else {
        val base = g.reserveEpochs(stats.rows)
        withDeleted.coalesce(1).withColumn("epoch", lit(base) +
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy("id")) - 1)
      }
    val hashed = withEpoch
      .withColumn("id_hash", graft.functions.VectorFunctions.hashId(col("id")))
      .withColumn("vec_id", col("id_hash"))
    val l = g.layoutFor(hashed, hashed.filter(col("vec").isNotNull).count())
    val prepared = hashed
      .withColumn("centroid_id", element_at(typedlit(l.cids.toSeq),
        graft.functions.expr.IndexExpressions.nearestIndex(col("vec"),
          l.matrix) + 1))
      .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
    g.commit(prepared.schema, prepared.collect())
  }

  test("collect-first upsert: the driver kernels equal the DataFrame prepare (layouts, epochs, id_hash, centroid_id, row order, WAL bytes, descriptors, stored rows and footers)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(606)
    def gv(): Seq[Double] = Seq.fill(mdim)(rnd.nextGaussian())
    def frame(schema: StructType, parts: Int)(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
        schema)
    val id = StructField("id", StringType, nullable = false)
    val dbl = StructField("vec", ArrayType(DoubleType, containsNull = false))
    val flt = StructField("vec", ArrayType(FloatType, containsNull = false))
    val tags = StructField("tags", ArrayType(IntegerType, containsNull = false))
    val deleted = StructField("deleted", BooleanType, nullable = false)
    val epoch = StructField("epoch", LongType, nullable = false)
    val op = StructField("op", StringType, nullable = false)
    // UTF-8 order differs from UTF-16 order: U+FFFD (EF BF BD) sorts
    // before U+1F600 (F0 9F 98 80) in bytes, after it in chars
    val tricky = Seq("\uFFFD", "\uD83D\uDE00", "k\uFFFD", "k\uD83D\uDE00",
      "é", "z")
    def f32(v: Seq[Double]) = v.map(_.toFloat)
    // auto epochs, double vec, tombstones, a twice-carried id, tricky
    // ids over four partitions: the first batch trains the layout on
    // batch.coalesce(1)
    val autoFirst = frame(StructType(Seq(id, dbl)), 4)(
      (0 until 150).map(i => Row(s"a-$i", gv())) ++
        tricky.map(t => Row(t, gv())) ++
        (0 until 4).map(i => Row(s"t-$i", null)) ++
        Seq(Row("a-7", gv())))
    // explicit epochs + deleted + tags + float vec, an id at two epochs
    val explicitDeleted = frame(StructType(Seq(epoch, id, flt, deleted, tags)), 3)(
      (0 until 20).map(i => Row(5000L + i, s"a-$i", f32(gv()), false,
        Seq(i, i + 1))) ++
        (0 until 5).map(i => Row(5100L + i, s"a-${30 + i}", null, true, null)) ++
        Seq(Row(5200L, "a-3", f32(gv()), false, Seq(7)),
          Row(5201L, "\uFFFD", f32(gv()), false, Seq.empty[Int])))
    // op form, auto epochs, tags, an id carried twice, tricky ids again
    val autoOp = frame(StructType(Seq(id, op, dbl, tags)), 3)(
      (0 until 12).map(i => Row(s"a-${40 + i}", "UPSERT", gv(), Seq(i))) ++
        Seq(Row("a-41", "DELETE", null, null),
          Row("a-41", "UPSERT", gv(), Seq(1)),
          Row("\uD83D\uDE00", "DELETE", null, Seq.empty[Int])) ++
        tricky.take(4).map(t => Row(t + "-2", "UPSERT", gv(), null)))
    // explicit epochs in shuffled order first (the layout trains on the
    // batch itself), then an auto-epoch op batch
    val explicitFirst = frame(StructType(Seq(id, flt, epoch, op)), 4)(
      scala.util.Random.shuffle((0 until 140).toList).map(i =>
        Row(s"e-$i", f32(gv()), 10L + i, "UPSERT")) ++
        Seq(Row("e-999", null, 9L, "DELETE")))
    val autoDouble = frame(StructType(Seq(id, dbl)), 2)(
      (0 until 30).map(i => Row(s"e-${i * 3}", gv())) ++ tricky.map(Row(_, gv())))
    val scenarios = Seq(
      "auto-epoch first" -> Seq(autoFirst, explicitDeleted, autoOp),
      "explicit-epoch first" -> Seq(explicitFirst, autoDouble))
    val conf = spark.sessionState.newHadoopConf()
    def layoutBits(base: String) = {
      val (cids, m) = graft.index.Ivf.collectCentroids(
        spark.read.parquet(s"$base/centroids"))
      (cids.toSeq, m.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq)
    }
    def walBytes(base: String) = new java.io.File(s"$base/wal").listFiles()
      .filter(_.isFile).sortBy(_.getName)
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      .toSeq
    def descriptors(base: String) = Segments.catalogDescriptors(spark, base)
      .map(d => d.copy(file_path = d.file_path.replace(base, ""),
        created_at = null)).sortBy(_.segment_id)
    // every list file of every segment, in directory order: its footer
    // (parquet schema + key-value metadata) and its rows in file order
    def stored(base: String) = Segments.catalogDescriptors(spark, base)
      .sortBy(_.segment_id).flatMap { d =>
        new java.io.File(new java.net.URI(
            if (d.file_path.startsWith("file:")) d.file_path
            else "file://" + d.file_path)).listFiles()
          .filter(_.getName.startsWith("centroid_id=")).sortBy(_.getName)
          .map { dir =>
            val file = dir.listFiles().filter(_.getName.endsWith(".parquet"))
              .toSeq match { case Seq(f) => f }
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(file.toURI), conf))
            val footer =
              try {
                val m = r.getFooter.getFileMetaData
                (m.getSchema.toString, m.getKeyValueMetaData.toString)
              } finally r.close()
            (d.segment_id, dir.getName, footer,
              spark.read.parquet(file.getPath).collect().map(_.toString).toSeq)
          }
      }
    scenarios.foreach { case (name, batches) =>
      val (baseK, baseO) = (tmp(), tmp())
      val (gk, go) = (Graft.open(spark, baseK, patchCfg("l2")),
        Graft.open(spark, baseO, patchCfg("l2")))
      batches.zipWithIndex.foreach { case (b, i) =>
        val at = s"$name batch $i"
        assert(gk.upsert(b) === oracleUpsert(go, b), at)
        assert(layoutBits(baseK) === layoutBits(baseO), s"$at: layout")
        assert(walBytes(baseK) === walBytes(baseO), s"$at: WAL bytes")
        assert(descriptors(baseK) === descriptors(baseO), s"$at: descriptors")
        val (sk, so) = (stored(baseK), stored(baseO))
        assert(sk.map(_._2).nonEmpty && sk === so, s"$at: stored files")
      }
      assert(layoutBits(baseK)._1.length > 1, s"$name: one-list layout")
      gk.close(); go.close()
      Segments.deleteDir(baseK); Segments.deleteDir(baseO)
    }
  }

  /** The summed task `resultSize` of every job `body` submits, and
    * `body`'s outcome.
    */
  private def shippedDuring[A](body: => A): (scala.util.Try[A], Long) = {
    val sc = spark.sparkContext
    val events = new java.util.concurrent.LinkedBlockingQueue[Either[Long, String]]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        events.put(Left(Option(e.taskMetrics).fold(0L)(_.resultSize)))
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        events.put(Right(Option(e.properties)
          .flatMap(p => Option(p.getProperty("graft.spec.marker")))
          .getOrElse("")))
    }
    sc.addSparkListener(l)
    try {
      val out = scala.util.Try(body)
      // a marker job: its start follows every earlier task end on the bus
      sc.setLocalProperty("graft.spec.marker", "end")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      var shipped = 0L
      var done = false
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!done && System.nanoTime() < deadline)
        Option(events.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS))
          .foreach {
            case Left(bytes) => shipped += bytes
            case Right(m) => done = m == "end"
          }
      assert(done, "marker job never reached the listener")
      (out, shipped)
    } finally sc.removeSparkListener(l)
  }

  test("guard before ship: an over-limit batch is rejected with its true row count, its collect job ships none of its rows however it is partitioned, and no WAL byte, segment or epoch is consumed") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", StringType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false))))
    val rnd = new scala.util.Random(77)
    def rows(n: Int) =
      (0 until n).map(i => Row(f"g-$i%04d", Seq.fill(mdim)(rnd.nextGaussian())))
    def batch(n: Int, parts: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows(n), parts), schema)
    val rowBytes = mdim * 8L + 6 + 64 // vector slots + id octets + fixed
    val cfg0 = patchCfg("l2")
    val rowCap = cfg0.copy(limits = cfg0.limits.copy(maxUpsertBatch = 100))
    val byteCap = cfg0.copy(limits = cfg0.limits.copy(maxRequestBytes = 100000L))
    // (cap, config, rows, partitions, message): 4 partitions each over
    // the cap on its own, and 40 partitions each under it whose sum is over
    val cases = Seq(
      ("max_upsert_batch", rowCap, 1000, 4,
        "upsert batch 1000 rows exceeds max_upsert_batch 100"),
      ("max_upsert_batch", rowCap, 2000, 40,
        "upsert batch 2000 rows exceeds max_upsert_batch 100"),
      ("max_request_size_bytes", byteCap, 1000, 4,
        s"request ~${1000 * rowBytes} bytes exceeds max_request_size_bytes 100000"),
      ("max_request_size_bytes", byteCap, 2000, 40,
        s"request ~${2000 * rowBytes} bytes exceeds max_request_size_bytes 100000"))
    cases.foreach { case (cap, cfg, n, parts, message) =>
      val what = s"$cap, $n rows in $parts partitions"
      val base = tmp()
      val g = Graft.open(spark, base, cfg)
      val b = batch(n, parts)
      val (out, shipped) = shippedDuring(g.upsert(b))
      val e = out.failed.get
      assert(e.isInstanceOf[graft.ingest.IngestRejected], s"$what: $e")
      assert(e.getMessage === message, what)
      // the batch's vectors alone are n · mdim · 8 bytes
      assert(shipped < n * mdim * 8L / 10,
        s"$what: tasks shipped $shipped bytes of a ${n * mdim * 8L}-byte batch")
      val wal = new java.io.File(s"$base/wal")
      assert(!wal.exists() || wal.listFiles().forall(_.length() == 0L),
        s"$what: WAL written")
      assert(Segments.catalogDescriptors(spark, base).isEmpty, what)
      assert(!new java.io.File(s"$base/centroids").exists(), what)
      // no epoch was reserved: the next batch starts at 0
      assert(g.upsert(batch(30, 4)) === ((0L, 29L)), what)
      g.close()
      Segments.deleteDir(base)
    }
    // control: the same shape within the limits ships its rows
    val base = tmp()
    val g = Graft.open(spark, base, cfg0)
    val (out, shipped) = shippedDuring(g.upsert(batch(1000, 4)))
    assert(out.isSuccess && shipped > 1000L * mdim * 8L, s"control shipped $shipped")
    g.close()
    Segments.deleteDir(base)
    // a within-limit batch skewed onto one partition (97 + 1 + 1 + 1 rows
    // against a per-task share of 25): that partition is fetched again,
    // and every row lands in input order
    val skewBase = tmp()
    val gs = Graft.open(spark, skewBase, rowCap)
    val all = rows(100)
    val slices = Seq(all.take(97), all.slice(97, 98), all.slice(98, 99), all.drop(99))
    val skewed = spark.createDataFrame(
      spark.sparkContext.parallelize(slices, 4).flatMap(identity), schema)
    assert(gs.upsert(skewed) === ((0L, 99L)))
    val stored = gs.liveView.select("id", "epoch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._2).toSeq
    assert(stored === all.map(_.getString(0)).zipWithIndex.map {
      case (id, i) => id -> i.toLong })
    gs.close()
    Segments.deleteDir(skewBase)
  }

  test("null keys: a null id, deleted, op or epoch is rejected naming the column, before any epoch, WAL byte or segment is consumed") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = tmp()
    val g = Graft.open(spark, base, patchCfg("l2"))
    val rnd = new scala.util.Random(5)
    def v = Seq.fill(mdim)(rnd.nextGaussian())
    val id = StructField("id", StringType)
    val vec = StructField("vec", ArrayType(DoubleType, containsNull = false))
    def frame(fields: StructField*)(rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(fields))
    val cases = Seq(
      "id" -> frame(id, vec)(Row("a", v), Row(null, v)),
      "deleted" -> frame(id, vec, StructField("deleted", BooleanType))(
        Row("a", v, false), Row("b", null, null)),
      "op" -> frame(id, vec, StructField("op", StringType))(
        Row("a", v, "UPSERT"), Row("b", null, null)),
      "epoch" -> frame(id, vec, StructField("epoch", LongType))(
        Row("a", v, 3L), Row("b", v, null)))
    cases.foreach { case (c, b) =>
      val e = intercept[IllegalArgumentException](g.upsert(b))
      assert(e.getMessage.contains(s"column '$c' is null in 1 of 2 rows"),
        e.getMessage)
    }
    val wal = new java.io.File(s"$base/wal")
    assert(!wal.exists() || wal.listFiles().forall(_.length() == 0L))
    assert(Segments.catalogDescriptors(spark, base).isEmpty)
    // a null op beside a deleted column is not a key: admitted, and the
    // first admitted batch starts at epoch 0
    val ok = frame(id, vec, StructField("deleted", BooleanType),
      StructField("op", StringType))(
      (0 until 40).map(i => Row(s"k-$i", v, false, null)): _*)
    assert(g.upsert(ok) === ((0L, 39L)))
    g.close()
    Segments.deleteDir(base)
  }

  test("centroid-layout memo: after rebuild(), and after another handle rebuilds the store, the next upsert assigns against the live layout") {
    val base = tmp()
    val cfg = patchCfg("l2")
    val g = Graft.open(spark, base, cfg)
    val rnd = new scala.util.Random(41)
    def batch(tag: String, n: Int, shift: Double) =
      (0 until n).map(i => (s"$tag-$i", Seq.tabulate(mdim)(d =>
        rnd.nextGaussian() + (if (d == 0) shift else 0.0)))).toDF("id", "vec")
    def layout() = graft.index.Ivf.collectCentroids(
      spark.read.parquet(s"$base/centroids"))._2.map(_.toSeq).toSeq
    // the newest delta segment holds exactly the last upsert's rows
    def assignedLive(at: String): Unit = {
      val d = Segments.catalogDescriptors(spark, base)
        .filter(_.segment_id.startsWith("delta-")).maxBy(_.segment_id)
      val rows = spark.read.parquet(d.file_path).select(col("id"),
        col("vec"), col("centroid_id").cast("long").as("got"))
      val want = graft.index.Ivf.assign(rows,
        spark.read.parquet(s"$base/centroids"), vecCol = "vec")
      assert(rows.count() === 40L, at)
      val stale = want.filter(col("got") =!= col("centroid_id")).count()
      assert(stale === 0L, s"$at: $stale rows assigned to a stale layout")
    }
    def sameAsFresh(at: String): Unit = {
      val fresh = Graft.open(spark, base, cfg)
      try Seq.fill(4)(gaussQuery(rnd)).foreach(q =>
        assert(g.search(q, 5).toSeq === fresh.search(q, 5).toSeq, at))
      finally fresh.close()
    }
    g.upsert(batch("a", 160, 0.0))
    g.upsert(batch("b", 160, 6.0)) // assigned with the memoized layout
    val first = layout()
    assert(g.rebuild().nonEmpty)
    val second = layout()
    assert(second !== first, "the rebuild kept the layout")
    g.upsert(batch("c", 40, 3.0))
    assignedLive("after rebuild()")
    sameAsFresh("after rebuild()")
    // another handle retrains the layout under this one; the compact
    // first drops this handle's served generation, which the foreign
    // rewrite would leave stale
    g.upsert(batch("d", 160, -6.0))
    assert(g.compact().nonEmpty)
    val h = Graft.open(spark, base, cfg)
    assert(h.rebuild().nonEmpty)
    h.close()
    assert(layout() !== second, "the second rebuild kept the layout")
    g.upsert(batch("e", 40, -3.0))
    assignedLive("after another handle's rebuild")
    sameAsFresh("after another handle's rebuild")
    g.close()
    Segments.deleteDir(base)
  }

  test("serving patch: after 20 writes the block manager holds ONE serving generation; close releases it") {
    val sc = spark.sparkContext
    def generations = sc.getPersistentRDDs.values
      .filter(_.name == graft.index.ServingIndex.GenerationName)
      .map(_.id).toSet
    val before = generations
    val base = tmp()
    val g = Graft.open(spark, base, patchCfg("ip"))
    val rnd = new scala.util.Random(23)
    g.upsert(gaussBatch(rnd, (0 until 80).map(i => s"l-$i")))
    (0 until 20).foreach { i =>
      i % 5 match {
        case 3 => g.delete(Seq(s"l-$i").toDF("id"))
        // below the served epochs: the gate refuses, the generation drops
        case 4 => g.upsert(Seq((s"late-$i", Seq.fill(mdim)(rnd.nextGaussian()),
          i.toLong)).toDF("id", "vec", "epoch"))
        case _ => g.upsert(gaussBatch(rnd, Seq(s"l-$i", s"n-$i")))
      }
      assert(g.search(gaussQuery(rnd), 3).nonEmpty)
      assert((generations -- before).size === 1,
        s"write $i: ${(generations -- before).size} generations persisted")
    }
    g.close()
    assert((generations -- before).isEmpty, "close left a generation cached")
    Segments.deleteDir(base)
  }

  test("raw-door serve-under-mutation fuzz: search stays exact across interleaved upserts/deletes/explicit-epoch writes/compacts/maintains") {
    // nprobe 1000 probes every list, so each answer is the exact top-k
    // over the LWW model; every fifth step a freshly opened handle
    // (a full build) must agree too
    val cfg0 = patchCfg("ip")
    val cfg = cfg0.copy(tuning = cfg0.tuning.copy(nprobeDeltaMin = 1000,
      nprobeDeltaMax = 1000))
    val base = tmp()
    val g = Graft.open(spark, base, cfg)
    val rnd = new scala.util.Random(4343)
    val pool = (0 until 60).map(i => s"r-$i") ++ (0 until 40).map(i => s"x-$i")
    val hashes = pool.toDF("id")
      .select(col("id"), graft.functions.VectorFunctions.hashId(col("id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // id → (epoch of its LWW winner, its vector; None = tombstone)
    val model = scala.collection.mutable.Map.empty[String, (Long, Option[Seq[Double]])]
    val used = scala.collection.mutable.Map.empty[String, Set[Long]]
      .withDefaultValue(Set.empty)
    var maxSeen = -1L
    def record(id: String, e: Long, v: Option[Seq[Double]]): Unit = {
      used(id) = used(id) + e
      maxSeen = math.max(maxSeen, e)
      if (model.get(id).forall(_._1 < e)) model(id) = (e, v)
    }
    def autoUpsert(ids: Seq[String]): Unit = {
      val rows = ids.map(id => (id, Seq.fill(mdim)(rnd.nextGaussian())))
      val (lo, _) = g.upsert(rows.toDF("id", "vec"))
      // auto epochs ascend in id order from lo
      rows.sortBy(_._1).zipWithIndex.foreach { case ((id, v), i) =>
        record(id, lo + i, Some(v)) }
    }
    def explicitUpsert(rows: Seq[(String, Long)]): Unit = {
      val vs = rows.map { case (id, e) =>
        (id, Seq.fill(mdim)(rnd.nextGaussian()), e) }
      g.upsert(vs.toDF("id", "vec", "epoch"))
      vs.foreach { case (id, v, e) => record(id, e, Some(v)) }
    }
    def serveCheck(step: Int): Unit = {
      val k = Seq(1, 5, 10, cfg.query.maxTopK)(rnd.nextInt(4))
      val q = gaussQuery(rnd)
      val got = g.search(q, k).toSeq
      val topk = new graft.operators.TopK.Bounded(k, asc = false)
      model.foreach { case (id, (_, v)) =>
        v.foreach(vv => topk.insert(
          graft.index.ServingIndex.scoreOne(q, vv.toArray, "ip"), hashes(id)))
      }
      assert(got === topk.result().toSeq, s"step=$step k=$k")
      if (step % 5 == 0) {
        val g2 = Graft.open(spark, base, cfg)
        try assert(g2.search(q, k).toSeq === got, s"step=$step reopened")
        finally g2.close()
      }
    }
    autoUpsert((0 until 40).map(i => s"r-$i"))
    serveCheck(-1)
    // every arm five times, in a seeded order
    rnd.shuffle(Seq.tabulate(30)(_ % 6)).zipWithIndex.foreach { case (arm, step) =>
      val live = model.collect { case (id, (_, Some(_))) => id }.toSeq.sorted
      // a live id a below-epoch write can lose to (room below its epoch)
      val beatable = live.filter(id => model(id)._1 > used(id).size + 1)
      arm match {
        case 0 =>
          autoUpsert(Seq.fill(1 + rnd.nextInt(4))(
            s"r-${rnd.nextInt(60)}").distinct)
        case 1 if live.size > 5 =>
          val victims = rnd.shuffle(live).take(1 + rnd.nextInt(3))
          val (lo, _) = g.delete(victims.toDF("id"))
          victims.sorted.zipWithIndex.foreach { case (id, i) =>
            record(id, lo + i, None) }
        case 2 =>
          // above every epoch so far: the batch patches and wins
          val ids = rnd.shuffle(pool.take(60)).take(1 + rnd.nextInt(2))
          explicitUpsert(ids.zipWithIndex.map { case (id, i) =>
            (id, maxSeen + 1 + i) })
        case 3 =>
          // below the served epochs: a never-written id wins, a live id
          // keeps its newer version; the gate falls back to a rebuild
          val fresh = pool.drop(60).filterNot(used.contains)
          val target =
            if (beatable.nonEmpty && (fresh.isEmpty || rnd.nextBoolean()))
              beatable(rnd.nextInt(beatable.size))
            else fresh.head
          val ceiling = model.get(target).fold(maxSeen)(_._1)
          val e = Iterator.continually(rnd.nextInt(ceiling.toInt).toLong)
            .find(e => !used(target).contains(e)).get
          explicitUpsert(Seq(target -> e))
        case 4 => g.compact()
        case 5 => g.maintain()
        case _ => ()
      }
      serveCheck(step)
    }
    g.close()
    Segments.deleteDir(base)
  }

  test("catalog paths are relative to the store: two stores under different names write the same catalog lines, and a renamed store reopens serving the same answers") {
    val root = tmp()
    val bases = Seq(s"$root/s", s"$root/store-with-a-longer-name")
    def writes(g: Graft): Unit = {
      val rnd = new scala.util.Random(31)
      g.upsert(gaussBatch(rnd, (0 until 60).map(i => s"c-$i")))
      g.upsert(gaussBatch(rnd, (40 until 90).map(i => s"c-$i")))
      g.delete((0 until 60 by 7).map(i => s"c-$i").toDF("id"))
    }
    bases.foreach { b =>
      val g = Graft.open(spark, b, patchCfg("ip"))
      writes(g)
      g.close()
    }
    // every descriptor line, created_at (field 8, wall clock) aside
    def catalogLines(base: String): Seq[String] = {
      val dir = java.nio.file.Paths.get(s"$base/${Segments.CatalogDir}")
      java.nio.file.Files.list(dir).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("desc-"))
        .sortBy(_.getFileName.toString)
        .flatMap(f => java.nio.file.Files.readAllLines(f).toArray.toSeq)
        .map(l => l.toString.split("\t", -1).updated(8, "").mkString("\t"))
    }
    val lines = catalogLines(bases(0))
    assert(lines.nonEmpty && lines === catalogLines(bases(1)))
    assert(lines.forall(!_.contains(root)), lines.head)
    // the answers of a fresh open at the original path ...
    val qs = {
      val rnd = new scala.util.Random(5)
      Seq.fill(4)(gaussQuery(rnd))
    }
    def answers(base: String) = {
      val g = Graft.open(spark, base, patchCfg("ip"))
      try (g.liveView.select("id", "epoch", "vec").as[(String, Long, Seq[Double])]
          .collect().sortBy(_._1).toSeq,
        qs.map(q => g.search(q, 5).toSeq))
      finally g.close()
    }
    val want = answers(bases(0))
    assert(want._1.length === 90 - 9)
    // ... equal those after the store moves
    val moved = s"$root/moved"
    java.nio.file.Files.move(java.nio.file.Paths.get(bases(0)),
      java.nio.file.Paths.get(moved))
    val got = answers(moved)
    assert(got._1 === want._1)
    assert(got._2 === want._2)
    Segments.deleteDir(root)
  }
}
