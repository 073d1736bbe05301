package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.index.Ivf
import graft.ingest.MutationLog
import graft.segments.Segments

class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def mutationRows = {
    val cents = Ivf.deterministicCentroids(emb, 50)
    Ivf.assign(
        MutationLog.deterministicLog(emb)
          .withColumn("id_hash", VectorFunctions.hashId(col("id")))
          .withColumn("deleted", col("op") === "DELETE"),
        cents, vecCol = "vec")
      .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
      .select("op", "vec_id", "id", "id_hash", "epoch", "deleted",
        "centroid_id", "vec")
  }

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("streamed ingest + restart processes new files exactly once (T1-T4, T8)") {
    val src = tmp("graft-stream-src-")
    val base = tmp("graft-stream-base-")
    val ckpt = tmp("graft-stream-ckpt-")
    val rows = mutationRows.cache()

    // wave 1: inserts arrive, stream drains them
    rows.filter(col("epoch") < 2000).coalesce(1).write.mode("append")
      .parquet(src)
    IngestPipeline.runOnce(spark, src, base, ckpt)
    val afterWave1 = IngestPipeline.liveView(spark, base).count()
    assert(afterWave1 === 500)

    // wave 2: upserts + deletes arrive; restart from the same checkpoint
    rows.filter(col("epoch") >= 2000).coalesce(1).write.mode("append")
      .parquet(src)
    IngestPipeline.runOnce(spark, src, base, ckpt)

    val live = IngestPipeline.liveView(spark, base)
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    val oracle = MutationLog.live(MutationLog.deterministicLog(emb))
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    assert(live.toSeq === oracle.toSeq)

    // exactly-once: wave 1 rows were NOT reprocessed into a new segment
    val segs = Segments.catalog(spark, base)
      .select("segment_id").as[String].collect().sorted
    assert(segs.length === 2, segs.mkString(","))

    Seq(src, base, ckpt).foreach(Segments.deleteDir)
  }

  test("config-driven ingest: guard limits, dim check, and segment size come from the loaded config") {
    val rows = mutationRows.cache()
    val dim = rows.filter(!col("deleted"))
      .select(size(col("vec"))).head().getInt(0)
    val nRows = rows.count()
    // a config matching the collection: tiny segments so the flush
    // policy observably obeys segment.target_size_vectors, pq.m set to
    // a divisor of the fixture dim (validate enforces m | dim)
    val cfg = graft.GraftConfig.loadYaml(
      s"""
         |collection:
         |  dim: $dim
         |storage:
         |  segment:
         |    target_size_vectors: 400
         |index:
         |  stable:
         |    pq:
         |      m: 8
         |""".stripMargin)
    val src = tmp("graft-cfg-src-"); val base = tmp("graft-cfg-base-")
    val ckpt = tmp("graft-cfg-ckpt-")
    rows.coalesce(1).write.mode("append").parquet(src)
    IngestPipeline.startWithConfig(spark, src, base, ckpt, cfg)
      .awaitTermination()
    // the one batch split into ceil(n / 400) range segments
    val wantSegs = ((nRows + 399) / 400).toInt
    assert(Segments.catalog(spark, base).count() === wantSegs)
    val live = IngestPipeline.liveView(spark, base)
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    val oracle = MutationLog.live(MutationLog.deterministicLog(emb))
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    assert(live.toSeq === oracle.toSeq)
    // a config declaring a DIFFERENT collection dim rejects the whole
    // batch at ingest (mis-deployment surfaces at write time)
    val bad = cfg.copy(collection = cfg.collection.copy(dim = dim + 8))
    val src2 = tmp("graft-cfg-src2-"); val base2 = tmp("graft-cfg-base2-")
    val ckpt2 = tmp("graft-cfg-ckpt2-")
    rows.coalesce(1).write.mode("append").parquet(src2)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IngestPipeline.startWithConfig(spark, src2, base2, ckpt2, bad)
        .awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[graft.ingest.DimMismatch]),
      ex.toString)
    assert(Segments.catalog(spark, base2).count() === 0) // nothing landed
    // REQUEST-scoped limits must NOT gate micro-batches: a catch-up
    // batch aggregates many already-admitted RPCs, so a config whose
    // max_upsert_batch is far below the backlog still ingests (the
    // alternative is a permanent wedge — the checkpoint re-delivers
    // the same oversized batch forever)
    val tiny = cfg.copy(limits = cfg.limits.copy(maxUpsertBatch = 10))
    val src3 = tmp("graft-cfg-src3-"); val base3 = tmp("graft-cfg-base3-")
    val ckpt3 = tmp("graft-cfg-ckpt3-")
    rows.coalesce(1).write.mode("append").parquet(src3)
    IngestPipeline.startWithConfig(spark, src3, base3, ckpt3, tiny)
      .awaitTermination()
    assert(IngestPipeline.liveView(spark, base3).count() === oracle.length)
    Seq(src, base, ckpt, src2, base2, ckpt2, src3, base3, ckpt3)
      .foreach(Segments.deleteDir)
  }

  test("crash replay of the same batch is idempotent (T8 fault-inject analogue)") {
    val base = tmp("graft-replay-base-")
    val batch = mutationRows.filter(col("epoch") < 2000)

    IngestPipeline.flushBatch(batch, base, 0L)
    val once = Segments.readSegments(spark, base).count()
    // the crash: the batch commits to storage but the checkpoint doesn't —
    // on restart the SAME batchId is delivered again
    IngestPipeline.flushBatch(batch, base, 0L)
    val twice = Segments.readSegments(spark, base).count()
    assert(once === twice)
    val cat = Segments.catalog(spark, base).count()
    assert(cat === 1)
    Segments.deleteDir(base)
  }

  test("read-your-writes: unflushed buffer visible through liveView (T5)") {
    val base = tmp("graft-ryw-base-")
    val rows = mutationRows.cache()
    IngestPipeline.flushBatch(rows.filter(col("epoch") < 2000), base, 0L)
    // upsert of vec 5 is still only in the in-flight buffer
    val buffer = rows.filter(col("epoch") === 2005)
    val live = IngestPipeline.liveView(spark, base, Some(buffer))
    val got = live.filter(col("vec_id") === 5)
      .select("epoch", "segment_id").as[(Long, String)].head()
    assert(got === ((2005L, "buffer")))
    // a vector untouched by the buffer still resolves to the segment
    val seg = live.filter(col("vec_id") === 1)
      .select("epoch", "segment_id").as[(Long, String)].head()
    assert(seg === ((1001L, "delta-00000")))
    Segments.deleteDir(base)
  }

  test("stateful cross-batch LWW: flushed segments are already resolved (T3)") {
    val src = tmp("graft-state-src-")
    val base = tmp("graft-state-base-")
    val ckpt = tmp("graft-state-ckpt-")
    def rows(rs: (String, Long, Long, Long)*) = rs.toSeq
      .map { case (op, vid, hash, ep) =>
        (op, vid, s"id-$vid", hash, ep, op == "DELETE", 0L,
          Seq(0.1, 0.2)) }
      .toDF("op", "vec_id", "id", "id_hash", "epoch", "deleted",
        "centroid_id", "vec")
    // 3 batches with overlapping ids: A re-upserted (newer), B re-delivered
    // stale, A re-delivered out-of-order stale
    val batches = Seq(
      rows(("INSERT", 1L, 101L, 1L), ("INSERT", 2L, 102L, 2L)),
      rows(("UPSERT", 1L, 101L, 10L), ("INSERT", 2L, 102L, 1L)),
      rows(("UPSERT", 1L, 101L, 5L), ("INSERT", 3L, 103L, 3L)))
    batches.foreach { b =>
      b.coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1100) // distinct mod-times → deterministic batch order
    }
    IngestPipeline.runOnceResolved(spark, src, base, ckpt,
      maxFilesPerTrigger = Some(1))
    val segs = Segments.readSegments(spark, base)
      .select("segment_id", "id_hash", "epoch")
      .as[(String, Long, Long)].collect().sorted
    // batch 2: stale B(epoch 1 < state 2) dropped, only A@10 flushed;
    // batch 3: out-of-order A@5 (< state 10) dropped, only C@3 flushed
    assert(segs.toSeq === Seq(
      ("delta-00000", 101L, 1L), ("delta-00000", 102L, 2L),
      ("delta-00001", 101L, 10L),
      ("delta-00002", 103L, 3L)))
    // live view agrees with the latest-version oracle
    val live = IngestPipeline.liveView(spark, base)
      .select("id_hash", "epoch").as[(Long, Long)].collect().sorted
    assert(live.toSeq === Seq((101L, 10L), (102L, 2L), (103L, 3L)))
    Seq(src, base, ckpt).foreach(Segments.deleteDir)
  }

  test("streamed ingest feeds the serving tier: stored index + in-flight overlay serve the live world (T5 x Q10)") {
    // the full write->serve loop: wave 1 flushed BY THE STREAM, wave 2
    // still in flight in the stream's pre-publish buffer; the serving
    // tier = stored index over the stream's segments with the buffer's
    // snapshot folded in by patched, through the job path and the local
    // tier. Both must serve exactly the full-log live world; after the
    // stream drains wave 2 and the index rebuilds from the store, the
    // rebuilt generation serves the same world.
    val src = tmp("graft-serve-src-")
    val base = tmp("graft-serve-base-")
    val ckpt = tmp("graft-serve-ckpt-")
    val cents = graft.index.Ivf.deterministicCentroids(emb, 50)
    val rows = mutationRows.cache()
    rows.filter(col("epoch") < 2000).coalesce(1).write.mode("append")
      .parquet(src)
    IngestPipeline.runOnce(spark, src, base, ckpt)
    val buffer = new BufferOverlay()
    buffer.publishBatch(rows.filter(col("epoch") >= 2000))
    val stored = graft.index.ServingIndex.buildStored(spark, base, cents, "ip")
    val idx = stored.patched(buffer.snapshot.values.toSeq.map(e =>
      (e.vecId, e.epoch, e.deleted, e.centroidId,
        if (e.vec == null) null else e.vec.toArray)))
    stored.unpersist()
    // ground truth: LWW over the WHOLE log, live rows only, exact dot
    val liveRows = graft.ingest.MutationLog
      .live(graft.ingest.MutationLog.deterministicLog(emb))
      .select("vec_id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def expectTop(qv: Array[Float], k: Int): Seq[(Long, Double)] =
      liveRows.map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < qv.length) { s += qv(i).toDouble * v(i); i += 1 }
        (id, s)
      }.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
    val queries = graft.operators.Knn.defaultQueries(emb)
      .collect().take(4)
      .map(r => r.getSeq[Float](1).toArray)
    // the LOCAL cache tier rides the same lifecycle: built per
    // generation, rebuilt after the drain — a stale local tier would
    // serve the pre-flush world
    val local = idx.toLocal()
    queries.foreach { qv =>
      val want = expectTop(qv, 10)
      assert(idx.search(qv, 10, Int.MaxValue).toSeq === want)
      assert(local.search(qv, 10, Int.MaxValue).toSeq === want)
    }
    // flush: the stream drains wave 2; rebuild; plain search = same world
    rows.filter(col("epoch") >= 2000).coalesce(1).write.mode("append")
      .parquet(src)
    IngestPipeline.runOnce(spark, src, base, ckpt)
    idx.unpersist()
    val idx2 = graft.index.ServingIndex.buildStored(spark, base, cents, "ip")
    val local2 = idx2.toLocal()
    queries.foreach { qv =>
      val want = expectTop(qv, 10)
      assert(idx2.search(qv, 10, Int.MaxValue).toSeq === want)
      assert(local2.search(qv, 10, Int.MaxValue).toSeq === want)
    }
    idx2.unpersist()
    Seq(src, base, ckpt).foreach(Segments.deleteDir)
  }
}
