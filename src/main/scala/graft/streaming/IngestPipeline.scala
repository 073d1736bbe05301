package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.TieredScan
import graft.segments.Segments

/** Streaming ingest (SURVEY T1-T5, T8; reference WAL + buffer pipeline
  * `msg-buf.h:116-166`, group commit `configs/woved-default.yaml:46-48`,
  * fault-inject kill points `scripts/fault-inject.sh:9`).
  *
  * Spark-first mapping:
  *  - the WAL is the streaming checkpoint (offsets + commits — durable,
  *    replayed on restart exactly like `latest-by-id.h:270-282` rebuild);
  *  - the group-commit epoch is the micro-batch id (T2);
  *  - in-buffer LWW dedupe (W6) happens per batch before the flush;
  *  - the flush (W4/T4) writes one delta segment per batch, named by
  *    batchId, with SaveMode.Overwrite — so a batch replayed after a
  *    crash rewrites the same segment instead of duplicating it
  *    (exactly-once via idempotence, T8). Catalog appends collapse by
  *    latest-row-per-segment, so replays are harmless there too.
  *
  * At scale: one batch = one partitioned segment write, no global state;
  * the streaming state store holds nothing (dedupe is within-batch; cross-
  * batch versions resolve at read time via epochs — the reference's
  * latest-by-id is a *derived* view here, never mutable state).
  *
  * Request validation sits UPSTREAM of this pipeline, at the client API
  * boundary ([[graft.ingest.IngestGuard]] — the reference validates the
  * upsert RPC, config.h:177-182, then group-commits many accepted
  * batches into one epoch): a micro-batch here is an aggregate of many
  * already-validated client batches, so the per-RPC caps do not apply
  * to it.
  */
object IngestPipeline {

  /** Expected mutation-record schema for the file source (a WAL-record
    * analogue of wal-record.fbs:21-58, minus transport framing).
    */
  def mutationSchema: StructType = StructType.fromDDL(
    "op STRING, vec_id BIGINT, id STRING, id_hash BIGINT, epoch BIGINT, " +
      "deleted BOOLEAN, centroid_id BIGINT, vec ARRAY<DOUBLE>")

  /** T1-T4: start the ingest stream. Each micro-batch is LWW-deduped on
    * id_hash and flushed as delta segment `delta-<batchId>`.
    *
    * With `overlay` set, each batch is published to the driver-resident
    * [[BufferOverlay]] BEFORE the durable flush (one collect, no
    * shuffle) and pruned from it after the catalog publish — the
    * reference's buffer-serves-reads visibility (msg-buf.h:116-166)
    * next to the unchanged durability path. Readers merge
    * `overlay.asBuffer` via [[liveView]]'s buffer parameter.
    */
  def start(spark: SparkSession, sourceDir: String, baseDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      overlay: Option[BufferOverlay] = None,
      segmentPrefix: String = "delta",
      onPublish: Long => Unit = _ => ()): StreamingQuery = {
    val src = spark.readStream
      .schema(mutationSchema)
      .parquet(sourceDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val published = overlay.map(_.publishBatch(batch))
        flushBatch(batch, baseDir, batchId, segmentPrefix = segmentPrefix)
        // the batch is catalog-served now — notify BEFORE pruning the
        // overlay, so a caller that keys freshness off the catalog
        // (e.g. a serving-cache invalidation) is never left with
        // neither tier holding the rows
        onPublish(batchId)
        // crash between publish and prune just re-delivers the batch:
        // LWW makes the replayed publish a no-op merge
        for (o <- overlay; e <- published if e != Long.MinValue) o.prune(e)
      }
      .start()
  }

  /** One group-commit: within-batch LWW dedupe (W6: keep the max-epoch
    * message per id_hash — DELETEs survive as tombstones) then an
    * idempotent segment write. Public so a crash-replay can be exercised
    * directly in tests (the fault-inject analogue).
    *
    * W10 flush policy: a batch bigger than `maxRowsPerSegment` rolls into
    * multiple segments, split by id_hash range (reference flush threshold
    * config.h:29 — 128 MiB per segment; here row-count as the unit). Each
    * sub-segment keeps a deterministic name so replays stay idempotent.
    *
    * WHICH WRITER: this Spark flush takes input of unbounded size — the
    * stream micro-batches ([[start]], [[startWithConfig]],
    * [[startResolved]]), where a catch-up batch can carry a whole
    * backlog. A caller that already holds an RPC-bounded batch on the
    * driver (the facade's `Graft.upsert`) writes it with
    * `Segments.flushRows` instead: same contract, no Spark plan. The
    * WAL recovery segment and compaction write through
    * `Segments.writeSegment` directly.
    *
    * The id bloom keeps `Segments.writeSegment`'s default hint: the
    * deduped row count (and so the rows per list) is known only after
    * the write has run, from the write's own observed stats.
    */
  def flushBatch(batch: DataFrame, baseDir: String, batchId: Long,
      maxRowsPerSegment: Long = 2000000L,
      segmentPrefix: String = "delta"): Unit = {
    val deduped = graft.operators.Lww.latestBy(batch, "id_hash", "epoch")
    // OPTIMISTIC single-pass flush: dedupe flows straight into the
    // segment write with the descriptor stats riding the write action
    // (Observation) — the common micro-batch is exactly ONE job. The
    // old pre-count pass existed only to decide the multi-segment
    // split, but it cost a whole extra job per flush — at a 100 ms
    // flush trigger that count was ~1/3 of the measured ingest→visible
    // freshness latency. The write lands UNPUBLISHED (appendDesc=false);
    // the real deduped count then decides: empty → discard the dir,
    // oversized → re-slice from the WRITTEN segment (a columnar
    // read-back of one segment, not a lineage replay), else publish.
    // Readers only ever see the catalog, so every outcome is atomic.
    //
    // Whether the write carries the one-writer-per-list exchange is
    // decided BEFORE it runs, from Catalyst's size estimate (driver-
    // side, no job — file sources and local relations both know their
    // bytes): a latency-bound micro-batch (the 100 ms-trigger case)
    // skips the exchange — its input is one AQE-coalesced aggregate
    // output, so the extra stage bought nothing but ~1/3 of the
    // freshness latency — while a bulk/catch-up batch KEEPS it: a
    // many-task input written without the exchange explodes into up to
    // tasks×nlist small files per segment (the writeSegment contract).
    // The estimate is pre-dedupe, so it only ever errs toward keeping
    // the exchange — the safe side.
    val estBytes = deduped.queryExecution.optimizedPlan.stats.sizeInBytes
    val repart = estBytes > BigInt(microBatchBytesBound)
    // the prefix keys the writer's id space: a streaming pipeline on a
    // baseDir that ALSO takes synchronous facade upserts must not share
    // "delta-" with the facade's own counter — identical names would
    // make the idempotent Overwrite replace a live foreign segment
    // (Graft.startStream passes "sdelta"); replays of the SAME writer
    // still land on the same name, which is the exactly-once contract
    val seg0 = f"$segmentPrefix%s-$batchId%05d"
    val tW0 = System.nanoTime()
    val desc = Segments.writeSegment(deduped, baseDir, seg0,
      isStable = false, appendDesc = false, repartitionForWrite = repart)
    val tW1 = System.nanoTime()
    val n = desc.num_vectors
    if (n == 0L) {
      Segments.deleteDir(desc.file_path)
    } else if (n <= maxRowsPerSegment) {
      Segments.appendCatalog(batch.sparkSession, baseDir, Seq(desc))
      if (sys.env.contains("GRAFT_FLUSH_DEBUG"))
        System.err.println(f"[flush] write=${(tW1 - tW0) / 1e6}%.0f ms " +
          f"catalog=${(System.nanoTime() - tW1) / 1e6}%.0f ms n=$n " +
          s"repart=$repart est=$estBytes")
    } else {
      // rare oversized flush (a batch past the reference's flush
      // threshold, config.h:29): slice the written segment by id_hash
      // and publish all slices in ONE atomic catalog append
      val parts = (n + maxRowsPerSegment - 1) / maxRowsPerSegment
      val written = batch.sparkSession.read.parquet(desc.file_path)
      val slice = pmod(col("id_hash"), lit(parts))
      val descs = (0L until parts).map { p =>
        Segments.writeSegment(written.filter(slice === p), baseDir,
          f"$segmentPrefix%s-$batchId%05d-$p%02d", isStable = false,
          appendDesc = false)
      }
      Segments.appendCatalog(batch.sparkSession, baseDir, descs)
      Segments.deleteDir(desc.file_path)
    }
  }

  /** Input-size bound below which a flush skips the per-centroid write
    * exchange (~one or two post-AQE output partitions of raw input —
    * well past any single RPC, well under a catch-up batch).
    */
  private[graft] val microBatchBytesBound: Long = 128L * 1024 * 1024

  /** [[start]] with every knob taken from a loaded [[graft.GraftConfig]]
    * (the reference's loadConfig path, config.cpp:14-74).
    *
    * LIMIT SCOPES — the two halves of the reference's limits contract
    * apply at different boundaries here:
    *
    *  - REQUEST-scoped limits (`max_upsert_batch`,
    *    `max_request_size_bytes`, config.h:177-182) bound one client
    *    RPC. They are enforced where the RPC enters the system —
    *    [[graft.Graft.upsert]] / a caller's own
    *    `IngestGuard.validateBatch` — NOT per micro-batch: a streaming
    *    micro-batch aggregates an arbitrary number of already-admitted
    *    requests (an AvailableNow catch-up batch can carry the whole
    *    backlog), so rejecting it would wedge the pipeline permanently
    *    (the checkpoint re-delivers the same oversized batch on every
    *    restart) and would contradict `segment.target_size_vectors`
    *    (2M), which expects batches 200× the RPC cap.
    *  - DATA-shape invariants (`collection.dim`, `max_tags_per_vector`)
    *    hold for every row regardless of batching — those ARE checked
    *    per micro-batch, so a mis-deployed collection surfaces at
    *    ingest, not at query time.
    *
    * `maxFilesPerTrigger` (default 64 source files ≈ a bounded slice of
    * backlog) keeps catch-up batches executor-memory-sized; pass None
    * to let one batch drain everything.
    */
  def startWithConfig(spark: SparkSession, sourceDir: String,
      baseDir: String, checkpointDir: String, cfg: graft.GraftConfig,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = Some(64)): StreamingQuery = {
    val shapeOnly = cfg.ingestLimits.copy(
      maxUpsertBatch = Int.MaxValue, maxRequestBytes = Long.MaxValue)
    val reader = spark.readStream.schema(mutationSchema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(sourceDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ingest.IngestGuard.validateBatch(batch, shapeOnly,
          vecCol = "vec", idCol = Some("id"))
        flushBatch(batch, baseDir, batchId,
          maxRowsPerSegment = cfg.segment.targetSizeVectors)
      }
      .start()
  }

  /** Typed mutation record for the stateful ingest variant. */
  case class Mutation(op: String, vec_id: Long, id: String, id_hash: Long,
      epoch: Long, deleted: Boolean, centroid_id: Long, vec: Seq[Double])

  /** T3 stateful variant: CROSS-batch LWW in the state store. The default
    * pipeline ([[start]]) keeps no mutable state — within-batch LWW at
    * flush, cross-batch versions resolve at read time via epochs. That
    * read-side work grows with the number of live versions per id; for
    * workloads with long ingest histories and heavy re-upserts this
    * variant bounds it: the state store holds max-epoch-seen per id_hash
    * (the Spark analogue of the reference's mutable latest-by-id map,
    * latest-by-id.h:110-157), each batch emits only rows STRICTLY newer
    * than state — so a flushed segment never contains a version that was
    * already superseded at flush time, and stale out-of-order
    * re-deliveries never reach disk at all.
    *
    * State is one long per live id (epoch ties keep the first-seen row);
    * checkpointed with the stream, so crash replays roll state back in
    * lockstep with the batch (exactly-once is preserved). At 100 TB the
    * state partitions by id_hash across executors like any keyed state —
    * size it via `spark.sql.streaming.stateStore` settings; the stateless
    * [[start]] remains the right default when re-upsert rates are low.
    */
  def startResolved(spark: SparkSession, sourceDir: String, baseDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val reader = spark.readStream.schema(mutationSchema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(sourceDir).as[Mutation]
    val resolved = src.groupByKey(_.id_hash)
      .flatMapGroupsWithState[Long, Mutation](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val newest = rows.maxBy(_.epoch) // within-batch LWW
          val prev = state.getOption.getOrElse(Long.MinValue)
          if (newest.epoch > prev) {
            state.update(newest.epoch)
            Iterator.single(newest)
          } else Iterator.empty
      }
    resolved.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        flushBatch(batch, baseDir, batchId)
      }
      .start()
  }

  /** [[startResolved]] run to completion (helper for tests/batch use). */
  def runOnceResolved(spark: SparkSession, sourceDir: String,
      baseDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val q = startResolved(spark, sourceDir, baseDir, checkpointDir,
      maxFilesPerTrigger = maxFilesPerTrigger)
    q.awaitTermination()
  }

  /** T5 read-your-writes: the live view over everything flushed so far
    * (plus an optional still-in-flight buffer DataFrame).
    */
  def liveView(spark: SparkSession, baseDir: String,
      buffer: Option[DataFrame] = None): DataFrame = {
    val segs = Segments.readSegments(spark, baseDir)
    // before the first flush readSegments is a schemaless empty relation —
    // fall back to the buffer alone (or an honest empty result)
    val tiers = (if (segs.columns.nonEmpty) Seq(segs) else Seq.empty) ++
      buffer.map(_.withColumn("segment_id", lit("buffer")))
    if (tiers.isEmpty) segs
    else TieredScan.liveView(tiers)
  }

  /** Run one AvailableNow pass to completion (helper for batch-style use
    * and tests).
    */
  /** Run to completion. Returns per-micro-batch trigger-execution times in
    * ms — the flush-lag analogue of the reference's `woved_flush_lag_ms`
    * metric (configs/woved-default.yaml:156): time from batch availability
    * to durable segment commit.
    */
  def runOnce(spark: SparkSession, sourceDir: String, baseDir: String,
      checkpointDir: String): Seq[Long] = {
    val q = start(spark, sourceDir, baseDir, checkpointDir)
    q.awaitTermination()
    q.recentProgress.toSeq
      .flatMap(p => Option(p.durationMs.get("triggerExecution")))
      .map(_.longValue())
  }
}
