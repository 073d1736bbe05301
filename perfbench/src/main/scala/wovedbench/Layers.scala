package wovedbench

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.index.{Ivf, ServingIndex}
import graft.ingest.IngestGuard
import graft.segments.Segments
import graft.streaming.{IngestPipeline, Wal, WalRecord, WalRecordFb}

/** The traced run's per-layer probes: each layer's own public function,
  * timed from outside the program on the workload's inputs (a batch it
  * sent, its first batch, its queries, its store). Writing probes work on
  * scratch trees under the run's work dir, never on the store.
  */
object Layers {
  private def timeMs[T](f: => T): (Double, T) = {
    val t = System.nanoTime(); val r = f; ((System.nanoTime() - t) / 1e6, r)
  }

  private def medianMs(reps: Int)(f: => Any): Double =
    Stats.median((0 until reps).map(_ => timeMs(f)._1))

  def probe(c: Ctx, w: Workload, batch: Seq[Gen.Mutation], first: Seq[Gen.Mutation],
      queries: Seq[Array[Double]], warmMs: Option[Double]): Map[String, Double] = {
    val spark = c.spark
    val cfg = c.cfg
    val base = w.store
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def layer[T](name: String)(f: => T): T = c.tracer.span("layer:" + name)(f)

    val df = Gen.batchFrame(spark, batch).cache()
    df.count()
    out("ingest.validate_ms") = layer("ingest.validate")(medianMs(3)(
      IngestGuard.validateBatch(df, cfg.ingestLimits, vecCol = "vec", tagsCol = None, idCol = Some("id"))))

    val cents = spark.read.parquet(s"$base/centroids")
    val hashed = df.withColumn("id_hash", VectorFunctions.hashId(col("id")))
      .withColumn("vec_id", col("id_hash"))
      .withColumn("epoch", lit(1L) + monotonically_increasing_id())
    out("index.assign_ms") = layer("index.assign")(medianMs(3)(
      Ivf.assign(hashed, cents, vecCol = "vec").agg(sum(coalesce(col("centroid_id"), lit(-1L)))).collect()))

    out("index.train_ms") = layer("index.train") {
      val vecs = Gen.batchFrame(spark, first).filter(col("vec").isNotNull).select(col("vec").as("embedding"))
      val n = vecs.count()
      val nlist = math.max(2, math.min(cfg.delta.nlist, (n / 4).toInt))
      timeMs(Ivf.trainCentroidsBalanced(vecs, n, nlist).collect())._1
    }

    // WAL: the facade's record shape for every row of the batch
    val recs = batch.zipWithIndex.map { case (m, i) =>
      val v = if (m.deleted) Array.emptyFloatArray else m.vec.map(_.toFloat)
      val h = w.hash(m.n)
      WalRecord(op = if (m.deleted) 1.toByte else 0.toByte, id = Gen.idOf(m.n), idHash = h,
        tenantNsHash = 0L, timestampNanos = i.toLong, dim = v.length, vector = v,
        tags = Array.emptyIntArray, flags = 0, epoch = i.toLong, centroidId = 0,
        tenant = "t0", namespace = "default")
    }
    val (encMs, encoded) = layer("streaming.wal_encode") {
      val ms = medianMs(3)(recs.map(WalRecordFb.encode))
      (ms, recs.map(r => (r.epoch, WalRecordFb.encode(r))))
    }
    out("streaming.wal_encode_ms") = encMs
    val walDir = new File(c.work, "layer-wal")
    out("streaming.wal_append_ms") = layer("streaming.wal_append")(timeMs(
      Wal.appendBinaryRotating(walDir.getPath, encoded, rotateBytes = cfg.wal.rotateBytes,
        codec = cfg.walCodec, maxFiles = cfg.wal.maxFiles))._1)
    out("streaming.wal_bytes_per_op") = Disk.bytes(walDir).toDouble / batch.length

    // flush: the facade's prepared shape, twice into one scratch tree,
    // which the compaction probe then folds
    val prepared = Ivf.assign(hashed, cents, vecCol = "vec")
      .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L))).cache()
    prepared.count()
    val scratch = new File(c.work, "layer-store")
    val flushes = (0 until 2).map { i =>
      val files0 = Disk.files(scratch).count(_.getName.endsWith(".parquet"))
      val bytes0 = Disk.bytes(scratch)
      val ms = layer("segments.flush")(timeMs(IngestPipeline.flushBatch(prepared, scratch.getAbsolutePath,
        i.toLong, maxRowsPerSegment = cfg.segment.targetSizeVectors))._1)
      (ms, (Disk.files(scratch).count(_.getName.endsWith(".parquet")) - files0).toDouble,
        (Disk.bytes(scratch) - bytes0).toDouble)
    }
    out("segments.flush_ms") = Stats.median(flushes.map(_._1))
    out("segments.files_per_flush") = Stats.median(flushes.map(_._2))
    out("segments.bytes_per_flush") = Stats.median(flushes.map(_._3))
    prepared.unpersist(); df.unpersist()
    val (compactMs, desc) = layer("segments.compact")(timeMs(Segments.compact(spark,
      scratch.getAbsolutePath, "stable-probe", exactPurge = cfg.segment.exactTombstonePurge)))
    out("segments.compact_ms") = compactMs
    out("segments.bytes_rewritten") = desc.map(d =>
      Disk.bytes(new File(new Path(d.file_path).toUri.getPath)).toDouble).getOrElse(0.0)

    out("segments.catalog_ms") = layer("segments.catalog")(medianMs(3)(Segments.catalogDescriptors(spark, base)))
    out("segments.delta_segments") = Segments.catalogDescriptors(spark, base).count(!_.is_stable).toDouble

    // phase-2 point lookup over each query's rerank pool (its exact
    // top k·rerank ids: the candidates a perfect phase 1 would hand over)
    val pool = cfg.stable.rerankFactor * Main.Geometry.k
    val lookups = queries.map { q =>
      val ids = w.model.exactTopK(q, pool, w.hash).map(_._1).toSeq
      layer("segments.point_lookup")(timeMs(Segments.scanForIdHashes(spark, base, ids).map { d =>
        (d.select("id_hash", "vec").collect().length, d.inputFiles.length)
      }))
    }
    out("segments.point_lookup_ms") = Stats.median(lookups.map(_._1))
    out("segments.point_lookup_files") = Stats.median(lookups.map(_._2.map(_._2.toDouble).getOrElse(0.0)))

    val nprobe = w.g.currentNprobe
    val (buildMs, idx) = layer("index.serving_build")(timeMs(
      ServingIndex.buildStored(spark, base, cents, cfg.collection.metric, limits = cfg.servingLimits)))
    out("index.serving_build_ms") = buildMs
    out("index.ivf_search_ms") = layer("index.ivf_search")(Stats.median(queries.map(q =>
      timeMs(idx.search(q.map(_.toFloat), Main.Geometry.k, nprobe))._1)))
    out("index.nprobe") = nprobe.toDouble
    idx.unpersist()

    out("index.pq_warm_ms") = warmMs.getOrElse(layer("index.pq_warm")(timeMs(w.g.warmPqTier())._1))
    Seq("local", "dist", "stored", "mixed").foreach(r => out(s"index.pq_route_$r") = 0.0)
    out.toMap
  }
}
