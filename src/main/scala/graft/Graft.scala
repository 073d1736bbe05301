package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType,
  DoubleType, LongType, StringType, StructField, StructType}

import graft.index.{AdaptiveServingIndex, HnswHotCache, Ivf, ServingIndex}
import graft.ingest.IngestGuard
import graft.segments.Segments
import graft.streaming.{IngestPipeline, Wal, WalRecord, WalRecordFb}

/** The one user-facing entry point — the reference's server lifecycle
  * (`src/cpp/api/` open → upsert/delete RPCs → search → background
  * compaction → recovery-on-restart) re-expressed as a library handle
  * over the Spark-native components this engine already provides.
  * [[Graft.open]] takes a [[GraftConfig]] (the reference's own YAML,
  * `configs/woved-default.yaml`) and a store directory, recovers any
  * un-flushed WAL tail, and returns a handle wiring together:
  *
  *  - the INGEST GUARD ([[graft.ingest.IngestGuard]]) at the RPC
  *    boundary — [[upsert]]/[[delete]] enforce the full request limits
  *    (`max_upsert_batch`, `max_request_size_bytes`, dim, tags), which
  *    is exactly where the reference rejects (config.h:177-182); the
  *    streaming micro-batch path deliberately does NOT re-check
  *    request-scoped caps (see IngestPipeline.startWithConfig);
  *  - the WAL ([[graft.streaming.Wal]]) — every admitted batch is
  *    group-committed (FlatBuffers frames, the config's codec and
  *    rotate cadence, the `max_files` backstop armed with a REAL
  *    flushed frontier) before it is flushed, and [[Graft.open]]
  *    replays the tail past the persisted frontier into a recovery
  *    segment (T8, the reference's startup recovery);
  *  - the SEGMENT STORE ([[graft.segments.Segments]]) — one hive tree,
  *    flushes via the W6 LWW dedupe (an [[upsert]]'s batch written on
  *    the driver by `Segments.flushRows`, a [[startStream]] micro-batch
  *    through Spark by `IngestPipeline.flushBatch`),
  *    compaction/rebuild/checkpoint under the catalog maintenance lease;
  *  - the SERVING INDEX ([[graft.index.ServingIndex]]) wrapped in the
  *    ADAPTIVE NPROBE CONTROLLER ([[graft.index.AdaptiveServingIndex]],
  *    config.h:138-147 bands/target). An [[upsert]]/[[delete]] whose
  *    epochs all sort after the served generation folds its own batch
  *    into it ([[graft.index.ServingIndex.patched]], one job); any
  *    other write — an explicit-epoch batch at or below the served
  *    epochs or with an epoch tie per id, [[compact]], [[rebuild]],
  *    [[maintain]], a [[startStream]] publish — drops the generation,
  *    and the next read rebuilds it from the store;
  *  - the optional HNSW HOT CACHE (config.h:102-108), byte-budgeted
  *    with the config's `memory_cache_mb`: the facade stands up one
  *    driver-resident tier, so that tier receives the whole budget
  *    (were more tiers stood up here, the budget would be split — the
  *    tiers share one currency, see [[graft.index.HnswHotCache]]).
  *
  * THREADING: one Graft handle per maintenance domain — [[upsert]],
  * [[compact]], [[rebuild]] are not designed for concurrent calls on
  * one handle (the reference serializes these on its background
  * thread); [[search]] is safe to call concurrently between writes,
  * and one that races a write finishes on the generation it started
  * on (a superseded generation's blocks are released when its last
  * search returns).
  *
  * DATA MODEL of an upsert batch (columns): `id` string (required),
  * `vec` array<double> (nullable for tombstones), optional `tags`
  * array<int>, optional `epoch` long (assigned monotonically when
  * absent), optional `deleted` boolean / `op` string ("DELETE" rows
  * become tombstones). `vec_id`/`id_hash` derive from `id` via the
  * engine's seed-0 xxhash64 (S5), so the same id always routes to the
  * same shard and LWW key.
  */
final class Graft private (
    val spark: SparkSession,
    val config: GraftConfig,
    val baseDir: String) {

  private val walDir = s"$baseDir/wal"
  private val frontierPath = new HPath(s"$baseDir/wal/_flushed_epoch")
  // NOT underscore-prefixed: Spark's file listing treats _-prefixed
  // paths as metadata and ignores them even when named explicitly
  private val centroidsPath = s"$baseDir/centroids"

  // The store's own filesystem (the same Hadoop FS the segment tree
  // uses) — the centroid layout and the flushed frontier MUST live on
  // it, not on the driver's local FS: a java.nio exists() against a
  // remote baseDir is always false, which would retrain + overwrite the
  // layout on every batch and silently corrupt recall. The WAL tier is
  // java.io (posix append semantics), so [[Graft.open]] additionally
  // requires a local-scheme baseDir today (checked loudly at open).
  private val fs = Segments.hfs(spark, baseDir)

  // monotonic epoch assignment for batches that don't bring their own —
  // initialized past everything the store or WAL has seen, so restart
  // never reuses an epoch (LWW requires uniqueness per id)
  private val nextEpoch = new AtomicLong(0L)
  private val nextBatch = new AtomicLong(0L)
  @volatile private var flushedFrontier = Long.MinValue
  // generation transitions (build, patch swap, invalidate) serialize
  // on servingLock; searches read the volatile without it
  private val servingLock = new Object
  @volatile private var servingGen: Option[Graft.ServingGen] = None

  // ---- ingest (W5/W1/W2/W4) ----------------------------------------

  /** Admit one upsert/delete batch (the RPC boundary): validate under
    * the config's FULL limits, group-commit to the WAL, flush to a
    * delta segment (within-batch LWW), advance the flushed frontier,
    * then fold the batch into the served generation (or drop it when
    * the patch gate fails — see [[patchServing]]). Returns the epoch
    * range `[first, last]` the batch landed under.
    *
    * The batch is read with ONE Spark job, which also runs the guard
    * ([[graft.ingest.IngestGuard.collectBatch]]; a second job only for
    * a batch skewed onto few partitions): a batch over a size cap is
    * rejected without being pulled onto the driver, and a null
    * key (`id`, the delete flag's column, a brought `epoch`) is
    * rejected before any epoch is reserved or WAL byte written. Every
    * later step runs on the driver over the collected rows — epoch
    * numbering, `id_hash`, nearest-centroid assignment ([[prepare]]),
    * the WAL records, the delta segment
    * ([[graft.segments.Segments.flushRows]]) — and only the serving
    * patch runs a job. Writes of unbounded size keep Spark writers:
    * stream micro-batches ([[startStream]], `IngestPipeline.flushBatch`),
    * the WAL recovery segment, [[compact]] and [[rebuild]].
    */
  def upsert(batch: DataFrame): (Long, Long) = {
    val in = IngestGuard.collectBatch(batch, config.ingestLimits,
      vecCol = "vec",
      tagsCol = if (batch.columns.contains("tags")) Some("tags") else None,
      idCol = Some("id"), notNull = Graft.keyColumns(batch.schema))
    require(in.nonEmpty, "empty upsert batch")
    val (schema, full) = prepare(batch, in)
    commit(schema, full)
  }

  /** Tombstone a set of ids (W5 DELETE): an upsert of null-vector rows. */
  def delete(ids: DataFrame): (Long, Long) =
    upsert(ids.select(col("id"),
      lit(null).cast("array<double>").as("vec"),
      lit(true).as("deleted")))

  /** Normalize the collected rows of `batch` (its schema, input order)
    * to the engine's mutation shape, on the driver. Columns follow
    * `withColumn`: `deleted` (from `op == "DELETE"` when only `op` is
    * present, else false), `epoch`, `id_hash`, `vec_id` and
    * `centroid_id` replace a same-named column in place or are
    * appended, in that order.
    *
    * Without an `epoch` column the batch reserves `n` epochs and row r
    * gets `base + rank`, its rank in a STABLE sort by id in Spark's
    * string order (UTF-8 bytes), and the rows come back in that order;
    * with one, they keep input order. `id_hash` (and `vec_id`) is
    * seed-0 xxhash64 of the id's UTF-8 bytes, as
    * [[graft.functions.VectorFunctions.hashId]] computes it;
    * `centroid_id` is [[graft.functions.expr.NearestIndex]]'s argmin
    * over the live layout, -1 for a null `vec`.
    */
  private def prepare(batch: DataFrame,
      in: Array[org.apache.spark.sql.catalyst.InternalRow])
      : (StructType, Array[Row]) = {
    val src = batch.schema
    val vi = src.fieldIndex("vec")
    val ii = src.fieldIndex("id")
    def at(c: String) = Some(src.fieldNames.indexOf(c)).filter(_ >= 0)
    val ei = at("epoch")
    val di = at("deleted")
    val oi = if (di.isEmpty) at("op") else None
    val l = layoutFor(if (ei.isDefined) batch else batch.coalesce(1),
      in.count(!_.isNullAt(vi)).toLong)
    val n = in.length
    val ids = in.map(_.getUTF8String(ii))
    val (order, epochOf) = ei match {
      case Some(e) => (Array.range(0, n), (i: Int, _: Int) => in(i).getLong(e))
      case None =>
        val base = reserveEpochs(n)
        ((0 until n).sortWith((a, b) => ids(a).binaryCompare(ids(b)) < 0)
          .toArray, (_: Int, rank: Int) => base + rank)
    }
    var schema = src
    def put(f: StructField): Unit = schema =
      if (schema.fieldNames.contains(f.name))
        StructType(schema.map(x => if (x.name == f.name) f else x))
      else schema.add(f)
    if (di.isEmpty) put(StructField("deleted", BooleanType,
      nullable = oi.exists(src(_).nullable)))
    if (ei.isEmpty) put(StructField("epoch", LongType, nullable = false))
    Seq("id_hash", "vec_id", "centroid_id")
      .foreach(c => put(StructField(c, LongType, nullable = false)))
    val Seq(dOut, eOut, hOut, vOut, cOut) = Seq("deleted", "epoch",
      "id_hash", "vec_id", "centroid_id").map(schema.fieldIndex)
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(src)
    val nearest = new graft.functions.expr.NearestIndex.Kernel(l.matrix,
      src(vi).dataType)
    val delete = org.apache.spark.unsafe.types.UTF8String.fromString("DELETE")
    val rows = order.zipWithIndex.map { case (i, rank) =>
      val r = in(i)
      val out = new Array[Any](schema.length)
      toScala(r).asInstanceOf[Row].toSeq.copyToArray(out)
      out(dOut) = di.map(r.getBoolean)
        .getOrElse(oi.exists(r.getUTF8String(_) == delete))
      out(eOut) = epochOf(i, rank)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(ids(i), 0L)
      out(hOut) = h
      out(vOut) = h
      out(cOut) = if (r.isNullAt(vi)) -1L else l.cids(nearest(r.getArray(vi)))
      new org.apache.spark.sql.catalyst.expressions.GenericRow(out): Row
    }
    (schema, rows)
  }

  /** Admit a prepared batch: WAL, delta segment, flushed frontier,
    * serving patch.
    */
  private[graft] def commit(schema: StructType,
      full: Array[Row]): (Long, Long) = {
    val rows = batchRows(schema, full)
    val lo = rows.iterator.map(_.epoch).min
    val hi = rows.iterator.map(_.epoch).max
    // a batch that BRINGS its own epoch column can land above the
    // auto-assignment counter; bump it so a later auto-epoch batch
    // always sorts after everything already committed — otherwise LWW
    // keeps the older explicit-epoch row and the new write is
    // silently invisible until reopen (no-op for auto-epoch batches,
    // where hi + 1 == the counter already)
    nextEpoch.getAndUpdate(c => math.max(c, hi + 1))
    appendWal(rows)
    Segments.flushRows(spark, baseDir,
      f"delta-${nextBatch.getAndIncrement()}%05d", schema,
      full.toSeq, maxRowsPerSegment = config.segment.targetSizeVectors)
    advanceFrontier(hi)
    patchServing(rows, lo)
    (lo, hi)
  }

  /** Reserve `n` auto-assigned epochs; returns the first. */
  private[graft] def reserveEpochs(n: Long): Long = nextEpoch.getAndAdd(n)

  /** The layout for assignment: the store's, or — when absent —
    * trained on the non-null `vec`s of `train` (the first batch; `nVec`
    * of them, nlist clamped to the data) and persisted, so every later
    * batch and every reopen assigns against the SAME layout (B1 —
    * retraining is [[rebuild]]'s job).
    */
  private[graft] def layoutFor(train: DataFrame, nVec: Long): Graft.Layout =
    layout().getOrElse {
      val vecs = train.filter(col("vec").isNotNull)
        .select(col("vec").as("embedding"))
      require(nVec > 0,
        "first batch carries no vectors — cannot train the centroid layout")
      trainCentroids(vecs, nVec).write.mode("overwrite")
        .parquet(centroidsPath)
      layout().get
    }

  // the live layout collected once per handle, keyed on the layout
  // directory's part-file names — every Spark write of a layout (first
  // ingest, a rebuild promote here or by another process) names its
  // parts with a fresh UUID, so the key moves with the layout
  @volatile private var layoutMemo: Option[Graft.Layout] = None

  /** The live centroid layout (cids ascending, as
    * [[Ivf.collectCentroids]] returns them), None before the first
    * ingest. A directory listing per call; the layout is read and
    * collected again only when its part files changed.
    */
  private def layout(): Option[Graft.Layout] = {
    val parts =
      try fs.listStatus(new HPath(centroidsPath)).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("part-"))
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    if (parts.isEmpty) return None
    val key = parts.map(_.getName).sorted
    layoutMemo.filter(_.key == key).orElse {
      // read exactly the listed parts, so the memo's content is the
      // content its key names
      val (cids, matrix) = Ivf.collectCentroids(
        spark.read.parquet(parts.map(_.toString): _*))
      val l = Graft.Layout(key, cids, matrix)
      layoutMemo = Some(l)
      Some(l)
    }
  }

  /** nlist for a corpus of `nVec` vectors: the config's, clamped to the
    * data (≥ 4 vectors per list).
    */
  private def nlistFor(nVec: Long): Int =
    math.max(1, math.min(config.delta.nlist, (nVec / 4).toInt))

  /** nlist clamped to the data; KMeans needs k ≥ 2, so a corpus too
    * small to cluster (the very first tiny batch) gets the trivial
    * 1-list layout — its mean vector — instead of a crash. [[rebuild]]
    * retrains properly once the corpus grows.
    */
  private def trainCentroids(vecs: DataFrame, nVec: Long): DataFrame = {
    import spark.implicits._
    val nlist = nlistFor(nVec)
    if (nlist < 2) {
      val mean = vecs.select(posexplode(col("embedding")))
        .groupBy("pos").agg(avg("col").as("m"))
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
        .sortBy(_._1).map(_._2)
      Seq((0L, mean.toSeq)).toDF("cid", "cv")
    } else
      // balance-gated: a collapsed k-means layout (the clustered-corpus
      // degeneracy caught at 100M, PLANS.md round 8) falls back to the
      // deterministic farthest-point Lloyd instead of silently shipping
      // a one-mega-list store through ingest or a 24 h rebuild()
      Ivf.trainCentroidsBalanced(vecs, nVec, nlist)
  }

  private def centroids(): DataFrame = {
    require(fs.exists(new HPath(centroidsPath)),
      s"no centroid layout at $centroidsPath — ingest first")
    spark.read.parquet(centroidsPath)
  }

  /** The collected prepared batch as WAL / serving-patch rows (`vec`
    * widened to double, as a cast to array<double> would).
    */
  private def batchRows(schema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row]): Array[Graft.BatchRow] = {
    val Seq(id, h, e, d, c, v) = Seq("id", "id_hash", "epoch", "deleted",
      "centroid_id", "vec").map(schema.fieldIndex)
    rows.map(r => Graft.BatchRow(r.getString(id), r.getLong(h), r.getLong(e),
      r.getBoolean(d), if (r.isNullAt(c)) None else Some(r.getLong(c)),
      if (r.isNullAt(v)) null
      else r.getSeq[Any](v).iterator.map {
        case null => 0.0 // a null element is 0 in the WAL record
        case x => x.asInstanceOf[Number].doubleValue()
      }.toArray))
  }

  /** Group-commit the prepared batch to the WAL (W1/W2): driver-side
    * FlatBuffers encode of an RPC-bounded batch, one framed append
    * under the config's codec/rotation, the max_files backstop armed
    * with the REAL flushed frontier (so stalls reclaim-or-reject
    * instead of deadlocking — config.h:50).
    */
  private def appendWal(rows: Array[Graft.BatchRow]): Unit = {
    val recs = rows.map { r =>
      val vecF: Array[Float] =
        if (r.vec == null) Array.emptyFloatArray else r.vec.map(_.toFloat)
      val rec = WalRecord(
        op = if (r.deleted) 1.toByte else 0.toByte,
        id = r.id, idHash = r.idHash, tenantNsHash = 0L,
        timestampNanos = r.epoch, dim = vecF.length, vector = vecF,
        tags = Array.emptyIntArray, flags = 0, epoch = r.epoch,
        centroidId =
          if (r.deleted) 0 else r.centroidId.fold(0)(_.toInt),
        tenant = "t0", namespace = "default")
      (rec.epoch, WalRecordFb.encode(rec))
    }
    Wal.appendBinaryRotating(walDir, recs.toSeq,
      rotateBytes = config.wal.rotateBytes, codec = config.walCodec,
      maxFiles = config.wal.maxFiles, flushedEpoch = flushedFrontier)
  }

  private def advanceFrontier(epoch: Long): Unit = {
    flushedFrontier = math.max(flushedFrontier, epoch)
    // temp + rename: a crash mid-write must never leave a garbled
    // frontier (open would fail parsing it; replaying extra WAL past a
    // LOWER frontier is merely idempotent work, LWW resolves it)
    val tmp = new HPath(s"$baseDir/wal/_flushed_epoch.tmp")
    val out = fs.create(tmp, true)
    try out.write(flushedFrontier.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(frontierPath, false)
    // fail LOUDLY on a false return (dest recreated, transient FS
    // error): recovery stays correct with a stale/absent frontier
    // (idempotent LWW replay), but silently repaying a full WAL replay
    // on every reopen is an invisible failure, not a policy
    if (!fs.rename(tmp, frontierPath))
      throw new java.io.IOException(
        s"frontier rename failed: $tmp -> $frontierPath")
    Wal.reclaim(walDir, flushedFrontier)
  }

  // ---- serving (Q6/Q13/Q14/T5) -------------------------------------

  /** The serving stack: the current generation, or — after a write
    * that could not patch it — a stored-layout build (latest-live
    * masking, read-your-writes over everything flushed), which the
    * next read pays once.
    */
  private def serving(): Graft.ServingGen =
    servingGen.getOrElse(servingLock.synchronized {
      servingGen.getOrElse {
        val gen = newGeneration(ServingIndex.buildStored(spark, baseDir,
          centroids(), config.collection.metric,
          limits = config.servingLimits))
        servingGen = Some(gen)
        gen
      }
    })

  /** A generation over `idx`: a fresh adaptive nprobe controller, plus
    * a fresh (cold) HNSW hot cache when the config enables it.
    */
  private def newGeneration(idx: ServingIndex): Graft.ServingGen =
    new Graft.ServingGen(idx,
      new AdaptiveServingIndex(idx,
        lo = config.tuning.nprobeDeltaMin,
        hi = config.tuning.nprobeDeltaMax,
        target = config.tuning.recallTarget),
      if (!config.hnswCache.enabled) None
      else Some(new HnswHotCache(idx,
        maxElements = config.hnswCache.maxElements,
        m = config.hnswCache.m,
        efConstruction = config.hnswCache.efConstruction,
        ef = config.hnswCache.ef,
        // the facade stands up ONE driver-resident tier → it gets
        // the config's whole memory_cache_mb budget
        maxBytes = config.global.memoryCacheBytes)))

  /** After an upsert has published: fold the batch into the served
    * generation when [[ServingIndex.patched]]'s gate holds — a
    * generation is built, every batch epoch sorts after it, and no id
    * carries one epoch twice — else drop the generation.
    */
  private def patchServing(rows: Array[Graft.BatchRow],
      lo: Long): Unit = servingLock.synchronized {
    servingGen match {
      case Some(cur) if lo > cur.index.maxEpoch &&
          rows.map(r => (r.idHash, r.epoch)).distinct.length == rows.length =>
        val next =
          try cur.index.patched(rows.toSeq.map(r => (r.idHash, r.epoch,
            r.deleted, r.centroidId.getOrElse(-1L), r.vec)))
          catch { case e: Throwable => invalidateServing(); throw e }
        servingGen = Some(newGeneration(next))
        cur.retire()
      case _ => invalidateServing()
    }
  }

  private def invalidateServing(): Unit = servingLock.synchronized {
    val old = servingGen
    servingGen = None
    old.foreach(_.retire())
  }

  /** The served generation's index, None when the next read rebuilds
    * (never builds one).
    */
  private[graft] def servedGeneration: Option[ServingIndex] =
    servingGen.map(_.index)

  /** KNN over everything flushed (the tiered read-your-writes view),
    * at the controller's current nprobe; served from the HNSW hot
    * cache when enabled and warm (Q14 fall-through semantics).
    */
  def search(q: Array[Float], k: Int): Array[(Long, Double)] = {
    var gen = serving()
    while (!gen.tryAcquire()) gen = serving()
    try gen.hnsw match {
      case Some(cache) => cache.search(q, k, gen.adaptive.currentNprobe)
      case None        => gen.adaptive.search(q, k)
    } finally gen.release()
  }

  /** Current runtime nprobe (the controller's live decision, Q13). */
  def currentNprobe: Int = serving().adaptive.currentNprobe

  /** Q14 cache warmer (the maintenance-side admission pass a reference
    * deployment runs): offer the live corpus to the HNSW hot cache up
    * to its byte budget, refresh the graph, and CALIBRATE the beam
    * width against the config's recall target ([[graft.index.Hnsw.tuneEf]]
    * — the nprobe-tuner discipline on the cache's quality knob, using a
    * sample of cached vectors as self-queries). Returns
    * (tuned ef, achieved recall), or None when the config leaves the
    * cache disabled. Until this runs, cache-enabled requests fall
    * through to the probe path (cold-cache semantics).
    */
  def warmCache(tuneSample: Int = 32): Option[(Int, Double)] = {
    // the generation carries the cache when cfg.hnswCache.enabled
    serving().hnsw.map { cache =>
      val dim = config.collection.dim
      // rows the budget can hold, priced like the cache's own ledger
      val capRows = math.max(1L, config.global.memoryCacheBytes /
        (4L * dim + 8L + 4L * (3L * config.hnswCache.m))).toInt
      val rows = liveView.filter(col("vec").isNotNull)
        .select(col("id_hash"), col("vec").cast("array<double>"))
        .limit(math.min(capRows, config.hnswCache.maxElements))
        .collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).iterator.map(_.toFloat).toArray))
      rows.foreach { case (id, v) => cache.offer(id, v) }
      cache.refresh()
      cache.tuneEf(rows.take(tuneSample).map(_._2).toSeq, k = 10,
        target = config.tuning.recallTarget)
    }
  }

  // ---- Q7/Q8 at the facade: the reference's STABLE-tier IVF-PQ
  // serving shape (config.h:84-94) reachable from the public API ----

  /** The warm stable tier: distributed codes tier + (when the config
    * budget admits anything) a driver-resident codes tier, composed by
    * the cache-hierarchy router — phase 1 serves WITHOUT a scheduler
    * job when the driver tier covers the probes (~14 ms dispatch floor
    * saved per request at reference list sizes), from the distributed
    * tier otherwise, and from the DURABLE codes tree (`stored`, the
    * partition-pruned declarative ADC plan over `$baseDir/pqcodes`)
    * when the distributed tier has been evicted — the router DEGRADES
    * to the slow exact-contract answer instead of throwing
    * (VERDICT r12 finding #1: an eviction must not turn a query into
    * an exception).
    */
  /** `dist` is None only for a tier ADOPTED at open from a restart-
    * durable codes tree ([[recoverOnOpen]]): the stored L2 plan serves
    * every request until the next [[warmPqTier]] admits the cache
    * levels — the first post-restart cache miss DEGRADES to the tree
    * instead of refusing until a full re-warm.
    */
  private final case class PqTierState(
      dist: Option[graft.index.PqServingIndex],
      router: graft.index.PqTieredServing,
      stored: StoredAdc,
      cb: graft.index.Pq.Codebook)

  @volatile private var pqTier: Option[PqTierState] = None
  // how the tier was admitted: Some(cb) = caller-pinned quantizer
  // (tests/oracles), None = trained here — re-admission repeats the
  // SAME policy (a pinned quantizer stays pinned; a trained one
  // RETRAINS on the post-maintenance corpus, because a stale codebook
  // cannot represent directions the corpus grew after its training —
  // the reference's periodic rebuild retrains its quantizers too)
  @volatile private var pqTierPinned:
      Option[graft.index.Pq.Codebook] = None

  /** The warm tier's quantizer (None when cold) — observability for
    * the determinism contract (GraftFacadeSpec: two warms over the
    * same corpus must admit bit-identical codebooks; phase 2's exact
    * rerank makes a drifting codebook value-invisible, so the contract
    * is pinned here, not on search results).
    */
  private[graft] def pqTierCodebook: Option[graft.index.Pq.Codebook] =
    pqTier.map(_.cb)

  /** PQ-door phase-1 route counters (driver, distributed, stored), one
    * count per query — observability for the cache hierarchy. Both
    * doors share one router, so a query counts the same whichever door
    * sent it. Mixed L0/L1 serves ([[pqDoorMixedServes]]) count under
    * the driver column, mixed L0/stored serves
    * ([[pqDoorMixedStoredServes]]) under the stored column.
    */
  def pqDoorRoutes: (Long, Long, Long) = pqTier match {
    case Some(st) =>
      (st.router.localServes + st.router.mixedServes,
        st.router.distServes,
        st.router.storedServes + st.router.mixedStoredServes)
    case None => (0L, 0L, 0L)
  }

  /** Queries served part-L0/part-L1 (split probe set, merged pools —
    * [[graft.index.PqTieredServing]] mixed serving), on either door:
    * a batch's L1 misses join its one distributed-tier job.
    */
  def pqDoorMixedServes: Long = pqTier.map(_.router.mixedServes).getOrElse(0L)

  /** Queries served part-L0/part-STORED (distributed tier evicted,
    * driver tier holding some probed lists): resident lists scan at
    * driver speed, only the misses pay the parquet plan — on a batch,
    * the misses of every query join one stored call. Counted under the
    * stored column of [[pqDoorRoutes]].
    */
  def pqDoorMixedStoredServes: Long =
    pqTier.map(_.router.mixedStoredServes).getOrElse(0L)

  /** Resident-but-uncovered distributed-tier routes — a probe-contract
    * ANOMALY (the tiers are built over one layout, so a warm resident
    * tier covering less than the probe walk is a coverage regression),
    * distinct from legitimate eviction fall-throughs; surfaces as a
    * counter + one warn instead of mysterious multi-second latency.
    */
  def pqDoorAnomalousRoutes: Long =
    pqTier.map(_.router.anomalousResidentRoutes).getOrElse(0L)

  /** Test hook: the stored L2 plan for one request, unexecuted — the
    * pruning spec asserts its scan node carries a PartitionFilter.
    */
  private[graft] def pqStoredPlanForTest(q: Array[Float], n: Int,
      nprobe: Int, metric: String): Option[DataFrame] =
    pqTier.flatMap(_.stored.plan(q, n, nprobe, metric))

  /** Drop the distributed PQ tier's block-manager residency WITHOUT
    * demoting the door to cold: subsequent requests route past L1 to
    * the durable codes tree (the stored L2 plan) until the next
    * [[warmPqTier]]. The operator-facing "give the memory back now"
    * action — and the eviction stand-in GraftFacadeSpec pins the L2
    * fall-through with.
    */
  def releasePqDistTier(): Unit =
    pqTier.foreach(_.dist.foreach(_.unpersist()))

  /** Stand up the stable PQ cache HIERARCHY over the CURRENT live
    * corpus (the reference's stable-tier admission pass, a
    * maintenance-cadence operation like [[warmCache]]): assign live
    * rows to the serving centroid layout, PQ-encode them ONCE
    * (`index.stable.pq_m` × 8 bits; pass `codebook` to pin a
    * deterministic quantizer — tests and oracles do), then admit the
    * codes into BOTH cache levels — every inverted list as one RDD
    * partition in the block manager ([[graft.index.PqServingIndex]])
    * and, under the `global.memory_cache_mb` byte budget, a
    * driver-resident packed tier ([[graft.index.LocalPqIndex]]) that
    * serves covered probes with zero scheduler dispatch. Codes cost
    * `m` bytes a row vs `4·dim` for raw floats — the tiers that still
    * fit memory when the raw corpus no longer does. STAMP-GATED
    * re-admission: when the warm's inputs (corpus snapshot, layout,
    * metric, quantizer — see [[pqTreeBaseStamp]]) match the live codes
    * tree's, the warm skips the codebook sample pass, reads the coded
    * relation back FROM the tree instead of re-encoding the corpus,
    * and reuses the tree's generation — restoring an evicted
    * distributed tier or resizing the driver budget costs a tree read,
    * not a corpus pass. Returns the
    * distributed tier's packed list count. SNAPSHOT semantics: like
    * every cache tier, the packed codes reflect the corpus at warm
    * time; phase 2 re-scores against the CURRENT store, so deleted
    * rows never surface, but rows upserted after the warm are served
    * by [[search]]/[[liveView]] until the next admission pass
    * re-warms.
    */
  /** `localBudgetBytes` overrides the driver tier's byte budget
    * (default: the config's `global.memory_cache_mb`, the reference's
    * memory-cache knob — codes cost `pq_m` bytes a row, so the budget
    * that held the raw hot set holds ~`4·dim/pq_m`× the coded corpus);
    * a post-maintenance re-admission always uses the config budget.
    */
  def warmPqTier(codebook: Option[graft.index.Pq.Codebook] = None,
      localBudgetBytes: Long = -1L): Int =
    // SINGLE-THREADED WARM contract (ADVICE r14): the generation
    // bookkeeping mutates four fields read-modify-write — two
    // interleaved warms could lose a retired path (disk leak) or pair
    // a stamp with a mismatched live path during the reuse check.
    // Warms are maintenance-cadence operations, so serializing them IS
    // the contract, not a bottleneck; serving never takes this lock.
    warmLock.synchronized(warmPqTierUnlocked(codebook, localBudgetBytes))

  private val warmLock = new Object

  private def warmPqTierUnlocked(
      codebook: Option[graft.index.Pq.Codebook],
      localBudgetBytes: Long): Int = {
    val dim = config.collection.dim
    val m = codebook.map(_.m).getOrElse(config.stable.pqM)
    require(dim % m == 0, s"collection.dim $dim not divisible by pq_m $m")
    val metric = config.collection.metric
    require(metric == "ip" || metric == "l2" || metric == "cosine",
      s"unknown collection metric '$metric'")
    val raw = liveView.filter(col("vec").isNotNull)
      .select(col("id_hash").as("vec_id"),
        col("vec").cast("array<double>").as("vec"))
    // cosine collections encode NORMALIZED vectors (the reference's own
    // contract — "Cosine via L2-norm at ingest", types.h:39): the ADC
    // IP LUT over normalized codes ranks by cosine; over raw codes it
    // would rank by cos·‖x‖, a biased pool for unnormalized corpora
    val live =
      if (metric == "cosine")
        raw.withColumn("vec",
          graft.functions.VectorFunctions.l2Normalize(col("vec")))
      else raw
    val cents = centroids()
    // the stamps are computed BEFORE anything materializes: a mutation
    // racing the warm (a streaming micro-batch publishing mid-encode)
    // then leaves the tree carrying a stamp OLDER than its bytes, so
    // the NEXT warm's stamp differs and rolls the generation — the
    // safe direction. Stamping after materialization would invert it:
    // a new-corpus stamp on an old-corpus tree, and the reuse gate
    // would pin the stale tree forever.
    val baseStamp = pqTreeBaseStamp(cents, metric, m)
    // DETERMINISTIC training sample: hash-ordered top-N, not a bare
    // limit (whose row set AND order depend on scan/partition order —
    // two warms over the same corpus could admit different codebooks,
    // breaking the engine-wide reproducibility contract every other
    // trainer honors). orderBy+limit compiles to TakeOrderedAndProject:
    // per-partition top-N on the executors, driver merge — no full
    // sort, the 100 TB shape. Hash order also makes the sample
    // pseudo-random instead of storage-ordered; ties (hash collisions)
    // break on the unique vec_id. SKIPPED when the base stamp matches
    // the live tier's trained admission: the trainer is deterministic
    // in (corpus, layout, metric, m) — the determinism spec pins it —
    // so a retrain would reproduce the resident quantizer bit for bit
    // while paying a full corpus pass for the sample at scale.
    val cb = codebook.getOrElse {
      pqTier
        .filter(_ => pqTierPinned.isEmpty &&
          pqCodesLiveBase.contains(baseStamp))
        .map(_.cb).filter(_.m == m)
        .getOrElse(graft.index.Pq.trainCodebookDriver(
          live.orderBy(xxhash64(col("vec_id")), col("vec_id"))
            .limit(16384),
          m, dim / m, 256, vecCol = "vec", maxIter = 8))
    }
    // `src` records HOW the quantizer was admitted: an adopted tree's
    // codebook may only short-circuit a later unpinned warm's training
    // when it was itself TRAINED (training is deterministic in the base
    // inputs, so the adopted codebook IS the retrain result) — a pinned
    // codebook proves nothing about what training would produce
    val treeStamp = baseStamp +
      s" cb=${graft.index.Pq.codebookFingerprint(cb)}" +
      s" src=${if (codebook.isDefined) "pinned" else "trained"}"
    // STAMP-GATED admission source (the reference's stable segments
    // carry PQ codes, config.h:84-94): when the live tree's recorded
    // inputs (corpus snapshot, codebook, centroid layout, metric)
    // match this warm's, the tree's bytes ARE this warm's encode —
    // read the coded relation back from the tree instead of
    // re-encoding the corpus, and reuse the generation instead of
    // rewriting it. At the 100M geometry that turns the common
    // re-warms (restore an evicted distributed tier; resize the
    // driver budget) from a full regenerate+assign+encode pass
    // (~ivf_100m_build_sec, an hour) into a ~10 GB tree read — and
    // skips the ~10 GB rewrite (the [[graft.index.LocalPqIndex
    // .savePacked]] stamp discipline applied to the tree). A
    // maintain()-triggered re-admission always follows a catalog
    // change, so its stamp rolls by construction and takes the
    // fresh-encode path below.
    val reuse = pqCodesLive.isDefined &&
      pqCodesLiveStamp.contains(treeStamp) &&
      fs.exists(new HPath(pqCodesLive.get))
    val codesPath =
      if (reuse) pqCodesLive.get
      else s"$baseDir/pqcodes_g${pqCodesGen.getAndIncrement()}"
    // fresh path: ONE encode feeds both cache levels, the sizes
    // aggregate AND the durable codes tree. BYTE-PACKED codes (the
    // reference's own 8-bit code arrays, config.h:87): every consumer
    // dispatches on the stored type, and the packed layout quarters
    // the tree's bytes on disk and on every cold-path read. Assignment
    // takes the GEMM bulk path (the same one [[rebuild]] uses —
    // spec-pinned assignment-identical to the codegen kernel,
    // IvfPqSpec): a warm is a bulk build by definition, and at the
    // reference geometry (nlist 4096 × dim 768) the row-at-a-time
    // kernel would make admission ~10× slower for the same
    // assignments.
    // cached either way: the relation feeds both cache-level builds
    // (plus, on the fresh path, the sizes aggregate and the tree
    // write) — one encode or one tree read, never two
    val codes =
      (if (reuse) spark.read.parquet(codesPath)
        .select(col("vec_id"), col("centroid_id"), col("codes"))
      else Ivf.assignBulkGemm(live, cents, vecCol = "vec")
        .select(col("vec_id"), col("centroid_id"),
          graft.index.Pq.codesBinaryColumn(cb, "vec").as("codes")))
        .cache()
    try {
      // the sizes aggregate doubles as the cache materialization: on
      // the fresh path it runs the encode once; on the reuse path it
      // pulls the tree into the block manager for the two tier builds
      val sizes = codes
        .groupBy(col("centroid_id").cast("long").as("centroid_id"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // a FRESH generation dir per tree-writing warm: see
      // [[pqCodesGen]] — a failed warm past this point deletes only
      // its own tree and leaves the OLD tier (and the trees it reads)
      // fully serving.
      val built =
        try {
          if (!reuse) {
            Segments.writeListTree(codes, codesPath, exchange = true)
            // RESTART-DURABLE sidecars (underscore-named, so the
            // parquet reads above never see them): stamp + codebook +
            // list sizes, each temp+rename — [[recoverOnOpen]] ADOPTS
            // a tree whose recorded inputs match the reopened store
            // instead of sweeping it, and serves from it with no
            // re-encode (the reference reloads stable segments' codes
            // at restart, it does not re-encode them). A crash between
            // the tree write and the sidecars leaves a stampless tree
            // → swept at open, the safe direction.
            writeTreeSidecars(codesPath, treeStamp, cb, sizes)
          }
          val dist = graft.index.PqServingIndex.build(codes, cents, cb,
            config.servingLimits, Some(sizes))
          val budget =
            if (localBudgetBytes >= 0L) localBudgetBytes
            else config.global.memoryCacheBytes
          // if anything past this point fails — driver-tier admission,
          // the stored bundle's plan setup, router construction — the
          // FRESH distributed tier's blocks (10 GB at the 100M
          // geometry) must not sit orphaned in the block manager until
          // GC notices the unreachable RDD: unpersist before
          // propagating (ADVICE r13: the old guard covered only the
          // LocalPqIndex build)
          try {
            val local = {
              val local0 = graft.index.LocalPqIndex.build(codes, cents,
                cb, maxBytes = budget, limits = config.servingLimits,
                knownSizes = Some(sizes))
              if (local0.cachedLists > 0) Some(local0) else None
            }
            val stored = new StoredAdc(codesPath, cents, cb, sizes)
            val router = new graft.index.PqTieredServing(local,
              Some(dist), stored.searchBatch, stored.probeFor)
            PqTierState(Some(dist), router, stored, cb)
          } catch { case e: Throwable => dist.unpersist(); throw e }
        } catch {
          case e: Throwable =>
            // delete only a tree THIS warm wrote — a reused live tree
            // is what the still-installed old tier serves from
            if (!reuse)
              scala.util.Try(fs.delete(new HPath(codesPath), true))
            throw e
        }
      // INSTALL + generation bookkeeping, PAST the failure window: from
      // here nothing throws in a way that leaves the tier state
      // referencing deleted files (ADVICE r13: a grandparent-delete
      // failure inside the old try deleted codesPath — the tree the
      // just-installed tier reads — inverting degrade-not-throw)
      pqTier.foreach(_.dist.foreach(_.unpersist()))
      pqTier = Some(built)
      pqTierPinned = codebook
      if (!reuse) {
        pqCodesLive.foreach(p => pqCodesRetired = p :: pqCodesRetired)
        pqCodesLive = Some(codesPath)
        pqCodesLiveStamp = Some(treeStamp)
        pqCodesLiveBase = Some(baseStamp)
        // RING retirement (keep the 2 newest retired generations, not
        // 1): stored L2 plans run 0.3-5 s at the 100M geometry, so two
        // back-to-back warms under single-generation retention could
        // delete files a live scan is mid-read (ADVICE r13). Deletes
        // are best-effort — a failed delete is a disk leak the next
        // warm/close/open sweep reclaims, never a broken serving tier.
        val (keep, drop) = pqCodesRetired.splitAt(2)
        pqCodesRetired = keep
        drop.foreach(p => scala.util.Try(fs.delete(new HPath(p), true))
          .failed.foreach(t => System.err.println(
            s"[graft] best-effort retire of stale codes tree $p " +
              s"failed: ${t.getMessage}")))
      }
      // resident per-file id_hash blooms for phase 2 (the reference
      // loads segment blooms into its 1 GiB cache at open,
      // config.h:117-125): the admission pass pays the one-time footer
      // sweep over the store so no serving request ever does — without
      // it the FIRST point lookups after a warm re-read ~every store
      // file's footer inside their own latency. BEST-EFFORT
      // (review-caught): the tier is already installed and serving;
      // a failed cache optimization must not rethrow out of a
      // successful warm (maintain() would demote the tier to cold —
      // degrade-not-refuse inverted) — the lazy per-request path fills
      // the cache with identical values
      scala.util.Try(Segments.warmIdBlooms(spark, baseDir))
        .failed.foreach(t => System.err.println(
          s"[graft] id-bloom warm failed (point lookups fall back to " +
            s"lazy per-file loads): ${t.getMessage}"))
      built.dist.fold(0)(_.cachedLists)
    } finally codes.unpersist(blocking = false)
  }

  /** The codes tree's CODEBOOK-FREE input stamp: corpus snapshot (live
    * catalog descriptors + the streaming overlay's not-yet-published
    * tail), centroid layout, metric (cosine normalizes at admission,
    * so the same corpus encodes different bytes), pq_m. The full tree
    * stamp appends [[graft.index.Pq.codebookFingerprint]]; the base is
    * kept separately so a trained re-admission can prove "the trainer
    * inputs are unchanged" BEFORE training (and skip the sample pass —
    * see [[warmPqTier]]). Two warms with equal full stamps write
    * bit-identical trees — the reuse gate. Driver-cheap: the
    * descriptors are catalog metadata, the overlay is the bounded
    * in-memory buffer, and the centroid collect is nlist rows (the
    * warm collects them again for the stored bundle regardless).
    */
  private def pqTreeBaseStamp(cents: DataFrame, metric: String,
      m: Int): String = {
    val corpusFp = Segments.catalogDescriptors(spark, baseDir)
      .sortBy(_.segment_id).foldLeft(17L) { (h, d) =>
        ((h * 31 + d.segment_id.hashCode) * 31 + d.num_vectors) * 31 +
          d.min_epoch * 1000003L + d.max_epoch
      }
    val overlayFp = overlay.snapshot.toSeq.sortBy(_._1)
      .foldLeft(17L) { case (h, (idHash, e)) =>
        (h * 31 + idHash * 1000003L + e.epoch) * 31 +
          (if (e.deleted) 1L else 0L)
      }
    val (cids, matrix) = Ivf.collectCentroids(cents)
    val centFp = cids.zip(matrix).foldLeft(17L) { case (h, (cid, row)) =>
      row.foldLeft(h * 31 + cid)((h2, v) =>
        h2 * 31 + java.lang.Double.doubleToLongBits(v))
    }
    s"v1 metric=$metric m=$m corpus=$corpusFp overlay=$overlayFp " +
      s"cents=$centFp"
  }

  // GENERATION-STAMPED codes trees: each tree-writing warm creates a
  // FRESH directory (pqcodes_g<n>) and replaced generations are deleted
  // only after the new tier state is installed — overwriting one fixed
  // path in place would delete the files the LIVE stored closure reads,
  // so a re-warm that fails mid-build (executor OOM, disk full) would
  // leave the old tier installed with a broken L2 (exactly the
  // degrade-not-throw contract this layer exists for). A warm whose
  // input stamp matches the live tree's REUSES the live generation
  // (no write, no retire). The 2 newest retired generations are kept
  // (a ring, not single retention: stored scans run seconds at the
  // 100M geometry, and requests in flight across back-to-back swaps
  // must finish against their own files); [[recoverOnOpen]] sweeps all
  // generations at open (the tier is cold then by definition) and
  // [[close]] removes the session's trees.
  private val pqCodesGen = new AtomicLong(0L)
  @volatile private var pqCodesLive: Option[String] = None
  @volatile private var pqCodesLiveStamp: Option[String] = None
  @volatile private var pqCodesLiveBase: Option[String] = None
  @volatile private var pqCodesRetired: List[String] = Nil

  /** Test hook: the live codes tree's directory (stamp-gate evidence —
    * a no-op re-warm must keep it, a corpus-mutating one must roll it).
    */
  private[graft] def pqCodesLiveDir: Option[String] = pqCodesLive

  // ---- codes-tree sidecars (restart durability, F1pq-rt) -----------
  // Underscore-named files inside the tree dir, invisible to the
  // parquet scans over it: the full tree stamp, the exact quantizer,
  // and the per-list sizes — everything [[recoverOnOpen]] needs to
  // ADOPT the tree after a restart and serve from it without a corpus
  // pass (the reference reloads stable segments' codes at restart,
  // src/cpp/core/config.h:84-94; re-encoding a bit-identical corpus
  // was this engine's last re-encode-what-you-persisted path).
  private val TreeStampFile = "_graft_stamp"
  private val TreeCodebookFile = "_graft_codebook"
  private val TreeSizesFile = "_graft_sizes"

  private def writeSidecar(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      name: String)(w: java.io.DataOutputStream => Unit): Unit = {
    // temp+rename, the engine's publish discipline: a crash mid-write
    // leaves only a .tmp the adoption scan never reads
    val tmp = new HPath(dir, s".tmp.$name")
    val out = new java.io.DataOutputStream(fs.create(tmp, true))
    try w(out) finally out.close()
    val dst = new HPath(dir, name)
    if (fs.exists(dst)) fs.delete(dst, false)
    // Hadoop rename reports failure by RETURNING false — swallowed, a
    // stampless tree would lose restart durability with no log line
    // explaining why; warn rather than throw (a failed sidecar must
    // not fail the otherwise-successful warm — the tree just sweeps at
    // the next open, the safe direction)
    if (!fs.rename(tmp, dst))
      System.err.println(s"[graft] sidecar publish failed for $dst — " +
        "the tree will not be adopted at the next open")
  }

  // through the tree writer's own filesystem: no forked `chmod`
  private def writeTreeSidecars(dir: String, stamp: String,
      cb: graft.index.Pq.Codebook, sizes: Map[Long, Long]): Unit =
    Segments.withListFs(spark.sessionState.newHadoopConf()) { fs =>
      writeSidecar(fs, dir, TreeStampFile)(o =>
        o.write(stamp.getBytes(StandardCharsets.UTF_8)))
      writeSidecar(fs, dir, TreeCodebookFile)(o =>
        graft.index.Pq.writeCodebook(o, cb))
      writeSidecar(fs, dir, TreeSizesFile) { o =>
        val sb = new StringBuilder
        sizes.toSeq.sortBy(_._1).foreach { case (cid, n) =>
          sb.append(cid).append('\t').append(n).append('\n')
        }
        o.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      }
    }

  private def readSidecarBytes(dir: String, name: String): Option[Array[Byte]] = {
    val p = new HPath(dir, name)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
    }.toOption
  }

  private def readTreeStamp(dir: String): Option[String] =
    readSidecarBytes(dir, TreeStampFile)
      .map(new String(_, StandardCharsets.UTF_8).trim)

  private def readTreeCodebook(dir: String): Option[graft.index.Pq.Codebook] =
    readSidecarBytes(dir, TreeCodebookFile).flatMap { bytes =>
      scala.util.Try(graft.index.Pq.readCodebook(
        new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(bytes)))).toOption
    }

  private def readTreeSizes(dir: String): Option[Map[Long, Long]] =
    readSidecarBytes(dir, TreeSizesFile).flatMap { bytes =>
      scala.util.Try {
        new String(bytes, StandardCharsets.UTF_8).split("\n")
          .iterator.map(_.trim).filter(_.nonEmpty).map { line =>
            val f = line.split("\t")
            (f(0).toLong, f(1).toLong)
          }.toMap
      }.toOption
    }

  /** The router's L2 bundle: the REAL declarative stored ADC plans over
    * the codes tree [[warmPqTier]] persisted — the path requests take
    * when the distributed tier's blocks have been evicted
    * ([[releasePqDistTier]], memory pressure). Metric-correct and
    * value-identical to the cache levels by construction: the probe
    * set is the same metric-aware ranking + max_candidates walk, the
    * per-query LUT is THE shared [[graft.index.Pq.lutForMetric]]
    * (carried as exact doubles in a broadcast relation), the scan is
    * the shared byte-code lookup-sum kernel with sequential double
    * accumulation, and the top-n keeps the (score desc, id asc)
    * contract — only n (id, score) pairs per query reach the driver. Slow by design
    * (parquet decode per request, ~0.3-5 s at the 100M geometry on
    * local[32]); the architecture's promise is DEGRADE, not refuse.
    */
  private final class StoredAdc(codesPath: String, cents: DataFrame,
      cb: graft.index.Pq.Codebook, sizes: Map[Long, Long]) {
    private val (cids, matrix) = Ivf.collectCentroids(cents)
    private val lim = config.servingLimits
    private val storedCodes = spark.read.parquet(codesPath)
    // hive partition-value inference types centroid_id as INT — the
    // probe filter's literals must match it exactly, or Catalyst wraps
    // the PARTITION column in a cast and directory-level pruning is at
    // the planner's mercy (a full-tree scan on the cold path would be
    // the one thing this layout exists to avoid); [[Ivf.cidLiterals]]
    // is the one shared guard
    private val cidIsLong = storedCodes.schema("centroid_id").dataType ==
      org.apache.spark.sql.types.LongType
    private def cidVals(probed: Seq[Long]): Seq[Any] =
      Ivf.cidLiterals(storedCodes, probed)

    def probeFor(q: Array[Float], nprobe: Int,
        metric: String): Seq[Long] =
      graft.index.ServingIndex.capProbesWalk(
        Ivf.probePick(graft.index.Pq.probeQuery(q, metric), cids,
          matrix, nprobe),
        cid => sizes.getOrElse(cid, 0L), lim.maxCandidates)

    /** The single-request L2 plan, unexecuted — separated from
      * [[searchBatch]] so the partition-pruning spec can assert the scan
      * carries a real PartitionFilter (a literal-type regression would
      * silently turn the cold path into a full-tree read).
      */
    private[graft] def plan(q: Array[Float], n: Int, nprobe: Int,
        metric: String): Option[DataFrame] =
      planOnProbed(q, probeFor(q, nprobe, metric), n, metric)

    private def planOnProbed(q: Array[Float], probed: Seq[Long],
        n: Int, metric: String): Option[DataFrame] = {
      if (n <= 0 || probed.isEmpty) return None
      import spark.implicits._
      val lut = graft.index.Pq.lutForMetric(cb, q, metric)
      // the per-query LUT rides a one-row BROADCAST relation (the batch
      // door's shape) instead of an m×256-double plan literal — the
      // literal paid its value conversion at every plan build on the
      // cold path; the relation is a LocalTableScan the broadcast
      // materializes without a scheduler job. Per-row ADC cost is
      // identical either way (the kernel reads the LUT as ArrayData).
      val lutDf = Seq(Tuple1(lut.map(_.toSeq).toSeq)).toDF("__lut")
      Some(storedCodes
        .filter(col("centroid_id").isin(cidVals(probed): _*))
        .crossJoin(broadcast(lutDf))
        .select(col("vec_id"),
          graft.functions.expr.IndexExpressions
            .pqAdcSumBytes(col("codes"), col("__lut"))
            .as("approx_score"))
        .orderBy(col("approx_score").desc, col("vec_id").asc)
        .limit(n))
    }

    /** L2 for the router ([[graft.index.PqTieredServing.StoredSearch]]):
      * each query's top-n over ITS probe set (a subset on a mixed
      * L0/stored serve — the union of the pools ranks identically to a
      * full stored scan because the top-n contract is shared). A
      * one-query call runs [[planOnProbed]], the single-stage plan
      * (partition-pruned scan + broadcast LUT + in-plan
      * TakeOrderedAndProject). More queries share ONE plan — the scan
      * statically prunes to the UNION of their probed lists, a
      * broadcast (qi, centroid_id) pair relation restricts each query
      * to its own lists, per-query LUTs ride a broadcast relation as
      * exact doubles, and the map-side-combined top-k aggregator cuts
      * to n per query before anything reaches the driver. Per-query
      * values are equal either way (same LUT doubles, same kernel, same
      * ranking contract) — a sequential per-query plan here would pay
      * the full parquet scan per query (~0.3-5 s × batch at the 100M
      * geometry).
      */
    def searchBatch(work: IndexedSeq[(Array[Float], Seq[Long])], n: Int,
        metric: String): IndexedSeq[Array[(Long, Double)]] = {
      import spark.implicits._
      val out = Array.fill(work.length)(Array.empty[(Long, Double)])
      val live = work.indices.filter(qi => work(qi)._2.nonEmpty)
      if (n <= 0 || live.isEmpty) return out.toIndexedSeq
      if (live.length == 1) {
        val qi = live.head
        planOnProbed(work(qi)._1, work(qi)._2, n, metric).foreach { df =>
          out(qi) = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
        }
        return out.toIndexedSeq
      }
      val union = live.flatMap(qi => work(qi)._2).distinct
      val pairs0 = live.flatMap { qi =>
        work(qi)._2.map(cid => (qi, cid)) }.toDF("qi", "centroid_id")
      val pairs =
        if (cidIsLong) pairs0
        else pairs0.withColumn("centroid_id",
          col("centroid_id").cast("int"))
      val luts = live.map { qi =>
        (qi, graft.index.Pq.lutForMetric(cb, work(qi)._1, metric)
          .map(_.toSeq).toSeq)
      }.toDF("qi", "__lut")
      val scored = storedCodes
        .filter(col("centroid_id").isin(cidVals(union): _*))
        .join(broadcast(pairs), "centroid_id")
        .join(broadcast(luts), "qi")
        .select(col("qi"), col("vec_id"),
          graft.functions.expr.IndexExpressions
            .pqAdcSumBytes(col("codes"), col("__lut"))
            .as("approx_score"))
      graft.operators.TopK
        .viaAggregator(scored, "qi", "vec_id", "approx_score", n)
        .collect()
        .groupBy(_.getLong(0).toInt)
        .foreach { case (qi, rows) =>
          out(qi) = rows.map(r => (r.getLong(1), r.getDouble(2)))
            .sortBy { case (id, s) => (s, id) }(Ordering.Tuple2(
              Ordering[Double].reverse, Ordering[Long]))
        }
      out.toIndexedSeq
    }
  }

  /** Two-phase stable-tier search for ONE query: the one-query case of
    * [[searchPqBatch]] (same routing, same counters, same values).
    * Refuses when the tier is cold ([[warmPqTier]] is the admission
    * pass); a non-positive k is an empty answer.
    */
  def searchPq(q: Array[Float], k: Int,
      rerank: Int = config.stable.rerankFactor): Array[(Long, Double)] =
    searchPqBatch(Seq(q), k, rerank).head

  /** Two-phase stable-tier search for a QUERY BATCH (Q12, ≤
    * `query.max_batch`, config.h:180); [[searchPq]] is its one-query
    * case. The door owns the client contract: the batch guard and the
    * `min(k, max_k)` clamp apply here, before routing, so behavior can
    * never depend on which level serves. Phase 1 is the cache
    * hierarchy's ADC ([[graft.index.PqTieredServing.search]]) over
    * only the probed lists (`index.stable.nprobe`) under the
    * collection's METRIC ([[graft.index.Pq.lutForMetric]]), at the
    * UNCLAMPED rerank·k internal candidate budget (config.h:93): a
    * query the driver tier covers scans at memory speed with zero
    * scheduler dispatch, a partly covered one serves mixed, and all
    * distributed-tier work of the batch shares ONE scheduler job; an
    * EVICTED distributed tier degrades to the durable codes tree (the
    * [[StoredAdc]] bundle in [[PqTierState]]) with identical values.
    * Phase 2 ([[rerankExact]]) re-scores every query's candidates
    * EXACTLY through ONE plan-free point lookup for the whole batch,
    * consulting the streaming overlay per query — so a batch the
    * driver tier serves submits no Spark job at all. Every query is
    * accounted in [[pqDoorRoutes]].
    */
  def searchPqBatch(qs: Seq[Array[Float]], k: Int,
      rerank: Int = config.stable.rerankFactor)
      : IndexedSeq[Array[(Long, Double)]] = {
    val st = pqTier.getOrElse(throw new IllegalStateException(
      "PQ tier cold — warmPqTier() is the stable-tier admission pass"))
    val qArr = qs.toIndexedSeq
    require(qArr.length <= config.servingLimits.maxBatch,
      s"query batch ${qArr.length} exceeds max_query_batch " +
        s"${config.servingLimits.maxBatch}")
    val kk = math.min(k, config.servingLimits.maxK)
    if (kk <= 0 || qArr.isEmpty)
      return IndexedSeq.fill(qArr.length)(Array.empty)
    val pools = st.router.search(qArr, kk * rerank, config.stable.nprobe,
      config.collection.metric)
    rerankExact(qArr, pools.map(_.map(_._1)).toArray, kk)
  }

  /** Phase 2 of both PQ doors: re-score each query's phase-1 candidate
    * pool EXACTLY and keep its top `kk`. Buffered rows resolve against
    * the streaming overlay snapshot (a buffered DELETE masks its
    * candidate, a buffered upsert re-scores its current vector); the
    * rest resolve last-writer-wins against the store through ONE
    * plan-free pruned point lookup for the whole batch
    * ([[graft.segments.Segments.scoreLatestByIdHash]]), each fetched row
    * scored only against the queries that pooled it. Driver-side: no
    * Spark job.
    */
  private def rerankExact(qs: IndexedSeq[Array[Float]],
      pools: Array[Array[Long]], kk: Int): IndexedSeq[Array[(Long, Double)]] = {
    val metric = config.collection.metric
    val topks = IndexedSeq.fill(qs.length)(
      new graft.operators.TopK.Bounded(kk, metric == "l2"))
    // overlay entries still buffered are NEWER than any published row
    // for the same id (prune retains exactly the not-yet-published tail)
    val snap = overlay.snapshot
    val askers = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuilder.ofInt]
    var qi = 0
    while (qi < pools.length) {
      pools(qi).foreach { h =>
        snap.get(h) match {
          case Some(e) =>
            if (!e.deleted && e.vec != null)
              topks(qi).insert(graft.index.ServingIndex.scoreOne(
                qs(qi), e.vec.toArray, metric), h)
          case None =>
            askers.getOrElseUpdate(h, new scala.collection.mutable
              .ArrayBuilder.ofInt) += qi
        }
      }
      qi += 1
    }
    Segments.scoreLatestByIdHash(spark, baseDir, qs,
        askers.view.mapValues(_.result()).toMap, metric) { (i, h, s) =>
      topks(i).insert(s, h)
    }
    topks.map(_.result())
  }

  /** Driver-resident buffer overlay for the streaming ingest path —
    * rows a [[startStream]] micro-batch has admitted but not yet
    * catalog-published serve reads from here (the reference's
    * buffer-serves-reads visibility, msg-buf.h:116-166). Empty unless
    * a stream is running; the synchronous [[upsert]] path never needs
    * it (durable + published before it returns).
    */
  val overlay = new graft.streaming.BufferOverlay()

  /** T1-T5 streaming ingest through the facade: mutation-shaped parquet
    * landing under `sourceDir` flows through the same per-batch LWW +
    * segment flush as [[upsert]], with each batch published to
    * [[overlay]] BEFORE the durable flush and pruned after the catalog
    * publish — so [[liveView]] reads are fresh at driver-memory latency
    * (bench: ingest→queryable p50 ≈2× the 100 ms trigger via the
    * overlay vs ≈5× via file publish alone).
    */
  def startStream(sourceDir: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    // "sdelta" keys the stream's segment-id space away from the
    // facade counter's "delta-" names (recoverOnOpen excludes it from
    // the counter scan, as with recover-<epoch>); one stream per store.
    // Each published batch invalidates the serving cache — without it
    // search() would serve the pre-stream index forever (liveView was
    // coherent, the index path was not). The rebuild is lazy (next
    // search) and catalog-driven; a deployment running hot search
    // traffic under a continuous high-frequency trigger should prefer
    // coarser triggers or scheduled compaction, exactly like the
    // reference's flush/compact cadence.
    IngestPipeline.start(spark, sourceDir, baseDir, checkpointDir,
      trigger, overlay = Some(overlay), segmentPrefix = "sdelta",
      onPublish = _ => invalidateServing())

  /** T5: the live resolved view (latest version per id, tombstones
    * masked) as a DataFrame for batch analytics. Merges the streaming
    * [[overlay]] tier when non-empty (same LWW resolution — an overlay
    * row and its just-flushed segment twin collapse to one).
    */
  def liveView: DataFrame = {
    val segs = Segments.readSegments(spark, baseDir)
    val merged = overlay.asBuffer(spark) match {
      case None => segs
      case Some(buf0) =>
        val buf = buf0.withColumn("segment_id", lit("buffer"))
        if (segs.columns.isEmpty) buf
        else {
          // align the overlay to the segment schema: buffered rows
          // carry the fixed mutation columns; any extra segment column
          // (tags, ...) is null until the durable flush publishes it
          val aligned = segs.columns.foldLeft(buf) { (b, c) =>
            if (b.columns.contains(c)) b
            else b.withColumn(c, lit(null).cast(segs.schema(c).dataType))
          }.select(segs.columns.map(col).toSeq: _*)
          segs.unionByName(aligned)
        }
    }
    graft.operators.Lww.latestBy(merged, "id_hash", "epoch")
      .filter(!col("deleted"))
  }

  /** The declarative-ANN door ([[graft.plans.AnnTopKRewrite]]) over the
    * facade's STABLE tier: after [[compact]] the store is one fully
    * LWW-resolved, tombstone-purged, centroid-partitioned segment —
    * exactly the relation the planner rule prunes. Registers that
    * segment and the live centroid layout with [[graft.plans.GraftAnn]]
    * at the given probe width and returns the relation; the caller
    * writes the brute-force top-k shape
    * (`ORDER BY graft_dot(vec, <query>) DESC LIMIT k`, SQL or
    * DataFrame) and the optimizer injects the IVF probe filter, so the
    * scan reads ~nprobe/nlist of the corpus. Deltas written after the
    * compact are NOT visible through this door (use [[search]] /
    * [[liveView]] for read-your-writes); it refuses a mixed store
    * rather than serve silently stale approximations.
    */
  def declarativeAnn(nprobe: Int = config.stable.nprobe): DataFrame = {
    val descs = Segments.catalogDescriptors(spark, baseDir)
    require(descs.nonEmpty, "empty store — ingest and compact() first")
    require(descs.length == 1 && descs.head.is_stable,
      s"declarative ANN serves the compacted stable tier: expected " +
        s"exactly one stable segment, found ${descs.count(_.is_stable)} " +
        s"stable / ${descs.count(!_.is_stable)} delta — compact() first")
    graft.plans.GraftAnn.install(spark)
    // a rebuild() may have retrained the layout in place — re-read it
    graft.plans.AnnTopKRewrite.invalidate(centroidsPath)
    graft.plans.GraftAnn.configure(spark, descs.head.file_path,
      centroidsPath, nprobe)
    spark.read.parquet(descs.head.file_path)
  }

  // ---- maintenance (W11/W12/B1/A1) ---------------------------------

  /** Compact all delta segments into one stable segment (lease-guarded,
    * atomic publish). Returns the new descriptor, None when idle.
    */
  def compact(): Option[Segments.SegmentDescriptor] = {
    val r = Segments.compact(spark, baseDir,
      f"stable-${nextBatch.getAndIncrement()}%05d",
      exactPurge = config.segment.exactTombstonePurge)
    if (r.nonEmpty) invalidateServing()
    r
  }

  /** The reference's background maintenance pass as ONE policy decision
    * (the reference drives compaction and the periodic retrain from
    * config thresholds — `config.h:37-39,96-99`, yaml segment/delta
    * sections): evaluate the loaded config against the live catalog and
    * run what the policy asks. Triggers:
    *  - COMPACT when any delta segment's tombstone ratio crosses
    *    `segment.tombstone_ratio_threshold`, or the delta tier holds
    *    more than `segment.max_segments_per_leaf` segments;
    *  - REBUILD ([[rebuild]]: retrain + relayout) when the centroid
    *    layout is older than `delta.rebuild_interval_hours`, or the
    *    live per-list row distribution trips the shared collapse
    *    detector ([[graft.index.Ivf.layoutCollapsed]] thresholds —
    *    the 100M layout-collapse class caught in round 8: <80% lists
    *    non-empty, a >20×-mean mega-list, or median < mean/10).
    * The age check is metadata-cheap and short-circuits the skew scan
    * (one column-pruned count-by-list job — bounded, but a job); both
    * operations it delegates to are lease-guarded and atomic, so
    * concurrent/maintain-twice calls stay safe. Returns what it decided
    * and why, for the scheduler's log.
    */
  def maintain(nowMs: Long = System.currentTimeMillis())
      : Graft.MaintenanceReport = {
    val descs = Segments.catalogDescriptors(spark, baseDir)
    val deltas = descs.filter(!_.is_stable)
    val compactReason: Option[String] =
      if (deltas.exists(_.tombstone_ratio >=
          config.segment.tombstoneRatioThreshold))
        Some(f"delta tombstone ratio ${deltas.map(_.tombstone_ratio).max}%.3f" +
          f" >= tombstone_ratio_threshold " +
          f"${config.segment.tombstoneRatioThreshold}%.2f")
      else if (deltas.length > config.segment.maxSegmentsPerLeaf)
        Some(s"${deltas.length} delta segments > max_segments_per_leaf " +
          s"${config.segment.maxSegmentsPerLeaf}")
      else None
    val compacted = compactReason.isDefined && compact().nonEmpty
    val rebuildReason: Option[String] =
      if (descs.isEmpty) None
      else centroidAgeReason(nowMs).orElse(layoutSkewReason())
    val rebuilt = rebuildReason.isDefined && rebuild().nonEmpty
    // a warm PQ tier is a snapshot of (corpus, centroid layout): after
    // maintenance rewrote either, the policy pass re-admits it under
    // the SAME admission policy it was warmed with (pinned quantizer
    // stays pinned; a trained one retrains on the current corpus — see
    // [[pqTierPinned]]) so the stable-tier door keeps serving the
    // post-maintenance world without a manual warm call. A cold tier
    // stays cold: admission is the caller's explicit budget decision.
    // Fault-isolated: the re-warm is CACHE maintenance layered on top
    // of maintenance that has already committed — a failed re-admission
    // (e.g. the live corpus emptied since the warm, so codebook
    // training has nothing to train on) demotes the tier to cold
    // instead of losing the report for work that is already durable.
    if ((compacted || rebuilt) && pqTier.isDefined)
      try warmPqTier(pqTierPinned)
      catch {
        case scala.util.control.NonFatal(e) =>
          pqTier.foreach(_.dist.foreach(_.unpersist()))
          pqTier = None
          pqTierPinned = None
          System.err.println("[graft] PQ tier re-admission failed " +
            s"after maintenance — tier demoted to cold: ${e.getMessage}")
      }
    Graft.MaintenanceReport(
      compactReason.filter(_ => compacted),
      rebuildReason.filter(_ => rebuilt))
  }

  /** Layout age from the centroid directory's mtime: written at first
    * ingest, staged-then-promoted by [[rebuild]] (the staged dir keeps
    * its train-time stamp through the rename).
    */
  private def centroidAgeReason(nowMs: Long): Option[String] =
    try {
      val mtime = fs.getFileStatus(new HPath(centroidsPath))
        .getModificationTime
      val ageH = (nowMs - mtime) / 3.6e6
      if (ageH >= config.delta.rebuildIntervalHours)
        Some(f"centroid layout age $ageH%.1f h >= " +
          s"rebuild_interval_hours ${config.delta.rebuildIntervalHours}")
      else None
    } catch { case _: java.io.FileNotFoundException => None }

  /** The LIVE per-list row distribution against the shared collapse
    * thresholds ([[graft.index.Ivf.countsCollapseReason]] — one source
    * of truth with the trainer audit). Counts are LWW-resolved live
    * rows: raw segment counts would include superseded versions and
    * rows duplicated across stable generations (minor compaction
    * retires only deltas), and a spurious mega-list of MASKED data
    * would trigger the most expensive operation maintain() can launch.
    * One aggregation over the live view — the cost the maintenance
    * cadence absorbs, not a per-query path.
    */
  private def layoutSkewReason(): Option[String] = {
    val live = liveView
    if (!live.columns.contains("centroid_id")) return None
    val nlist = layout().fold(0)(_.cids.length)
    if (nlist < 2) return None
    // Cost honesty: the LWW resolution itself (one hash-aggregate over
    // (id_hash, epoch, deleted, centroid_id) — narrow columns, map-side
    // combined) is the irreducible price of judging the LIVE
    // distribution; sampling ABOVE it would save nothing (the join has
    // already run) while adding exactly the threshold noise that could
    // spuriously fire rebuild(), the most expensive action this policy
    // can take. One such aggregation per maintain() call is the
    // maintenance cadence's cost, not a per-query path.
    val sizes = live
      .filter(col("centroid_id") >= 0) // -1 = unassigned
      .groupBy(col("centroid_id").cast("long"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    if (sizes.isEmpty) return None
    val counts = Array.tabulate(nlist)(i => sizes.getOrElse(i.toLong, 0L))
    // too small to judge: [[trainCentroids]] clamps nlist to rows/4, so
    // a young store sits at ~4 rows/list — distribution statistics start
    // meaning something once lists average ≥8 rows
    if (counts.sum < 8L * nlist) return None
    Ivf.countsCollapseReason(counts)
  }

  /** B1 periodic rebuild: retrain centroids on the current live corpus
    * and re-layout the store under them (the reference's 24 h job).
    */
  def rebuild(): Option[Segments.SegmentDescriptor] = {
    val live = liveView.filter(col("vec").isNotNull)
      .select(col("vec").as("embedding"))
    val n = live.count()
    if (n == 0) return None
    val cents = trainCentroids(live, n)
    // Train → STAGE → relayout → swap. Overwriting the live centroids
    // before rebuildLayout would leave the store partitioned under the
    // OLD layout while assignment/probing use the NEW one if the
    // relayout throws (e.g. CatalogLeaseHeld) or the driver dies — a
    // silent low-recall state. The staged path is named after the
    // rebuild segment so [[recoverOnOpen]] can finish (publish landed)
    // or discard (it didn't) an interrupted swap deterministically.
    val rebuildId = f"rebuild-${nextBatch.getAndIncrement()}%05d"
    val nextPath = s"$baseDir/centroids_next_$rebuildId"
    cents.write.mode("overwrite").parquet(nextPath)
    val nextCents = spark.read.parquet(nextPath)
    val r =
      try Segments.rebuildLayout(spark, baseDir,
        // the GEMM bulk assigner: exact argmin like Ivf.assign but it
        // scales past the codegen kernel's row-at-a-time matrix streaming
        // at big nlist×dim (the 24 h rebuild is a bulk build by
        // definition — see stress768_assign_* in the bench record)
        df => Ivf.assignBulkGemm(df, nextCents, vecCol = "vec")
          .withColumn("centroid_id",
            coalesce(col("centroid_id"), lit(-1L))),
        rebuildId)
      catch {
        case e: Throwable =>
          fs.delete(new HPath(nextPath), true)
          throw e
      }
    r match {
      case Some(_) => promoteCentroids(nextPath) // atomic publish landed
      case None    => fs.delete(new HPath(nextPath), true) // idle store
    }
    if (r.nonEmpty) invalidateServing()
    r
  }

  /** Swap the staged centroid layout live (rename, not rewrite). A crash
    * between the two renames leaves the staged dir in place and the live
    * path absent — [[recoverOnOpen]] completes the swap from the staged
    * dir (its rebuild descriptor is in the catalog, so publish landed).
    */
  private def promoteCentroids(nextPath: String): Unit = {
    val live = new HPath(centroidsPath)
    fs.delete(live, true)
    fs.rename(new HPath(nextPath), live)
  }

  /** Fold the catalog manifest history (A1 checkpoint, lease-guarded). */
  def checkpoint(): Unit = Segments.checkpointCatalog(spark, baseDir)

  /** Release driver/executor-resident serving state. The store tree on
    * disk IS the database — reopen with [[Graft.open]].
    */
  def close(): Unit = {
    invalidateServing()
    pqTier.foreach(_.dist.foreach(_.unpersist()))
    pqTier = None
    // RETIRED codes trees are session-scoped garbage — reclaim the
    // disk BEST-EFFORT (teardown must not throw for a cleanup failure;
    // a crash skips this entirely and the next open's sweep catches
    // the leftovers). The LIVE tree is KEPT: it is restart-durable —
    // its stamp/codebook/sizes sidecars let the next open ADOPT it and
    // serve without re-encoding a bit-identical corpus
    // ([[recoverOnOpen]]); a store mutated before that open fails the
    // stamp match and the tree sweeps then.
    pqCodesRetired
      .foreach(p => scala.util.Try(fs.delete(new HPath(p), true))
        .failed.foreach(t => System.err.println(
          s"[graft] close: codes-tree delete failed for $p " +
            s"(open() sweeps it): ${t.getMessage}")))
    pqCodesLive = None
    pqCodesLiveStamp = None
    pqCodesLiveBase = None
    pqCodesRetired = Nil
  }

  // ---- recovery (T8/W3) --------------------------------------------

  private[graft] def recoverOnOpen(): Unit = {
    // finish or discard an interrupted rebuild's centroid swap FIRST —
    // staged layouts are named centroids_next_<rebuildId>; if the
    // catalog carries that rebuild's descriptor the atomic publish
    // landed (store is laid out under the staged centroids → promote),
    // otherwise the relayout never committed (→ discard the staging)
    val staged = Option(fs.globStatus(
      new HPath(s"$baseDir/centroids_next_*"))).getOrElse(Array.empty)
    if (staged.nonEmpty) {
      val published = Segments.allDescriptors(spark, baseDir)
        .map(_.segment_id).toSet
      staged.foreach { st =>
        val rebuildId = st.getPath.getName.stripPrefix("centroids_next_")
        if (published.contains(rebuildId))
          promoteCentroids(st.getPath.toString)
        else fs.delete(st.getPath, true)
      }
    }
    // (codes trees are handled at the END of recovery — adoption needs
    // the FINAL catalog, which the WAL replay below may still change)
    // frontier: everything at or below it is already in segments
    flushedFrontier =
      if (fs.exists(frontierPath)) {
        val in = fs.open(frontierPath)
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      } else Long.MinValue
    val tail = Wal.replayBinaryRotated(walDir)
      .filter(_._1 > flushedFrontier)
    if (tail.nonEmpty) {
      val rows = tail.map { case (_, payload) =>
        val r = WalRecordFb.decode(payload)
        Row(r.id, r.idHash, r.idHash, r.epoch, r.op == 1.toByte,
          if (r.op == 1.toByte) -1L else r.centroidId.toLong,
          if (r.vector.isEmpty) null
          else r.vector.map(_.toDouble).toSeq)
      }
      val maxEpoch = tail.map(_._1).max
      // the tail is already on the driver: the driver flush applies the
      // LWW rule and writes it with no Spark job. A deterministic
      // recovery segment id → a crash DURING recovery replays into the
      // same segment idempotently
      Segments.flushRows(spark, baseDir, s"recover-$maxEpoch",
        Graft.RecoveredRowSchema, rows, maxRowsPerSegment = Long.MaxValue)
      advanceFrontier(maxEpoch)
    }
    // epoch/batch counters resume past everything ever seen
    val descs = Segments.allDescriptors(spark, baseDir)
    // orphan-segment sweep: a crash between an optimistic (unpublished)
    // flush write and its catalog append — or between an oversized
    // flush's slice publish and its draft delete — leaves
    // store/segment_id=* dirs no catalog row ever referenced. Readers
    // are catalog-driven so they never see them, but the disk leak is
    // permanent without a sweep; anything swept here is re-delivered by
    // the stream checkpoint / WAL replay, so deletion loses nothing.
    // (Mirrors the centroids_next_* healing above.)
    locally {
      val knownIds = descs.map(_.segment_id).toSet
      val storeRoot = new HPath(s"$baseDir/${Segments.StoreDir}")
      if (fs.exists(storeRoot)) fs.listStatus(storeRoot).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("segment_id=") &&
            !knownIds.contains(nm.stripPrefix("segment_id="))) {
          System.err.println(s"[graft] sweeping orphan segment dir " +
            s"${st.getPath} (no catalog row references it)")
          // the fs-level delete must honor the same cache invariant as
          // [[Segments.deleteDir]]: no stale listing/bloom may survive
          // a path removal
          Segments.invalidateListings(st.getPath.toString)
          fs.delete(st.getPath, true)
        }
      }
    }
    val maxSeen = (flushedFrontier +: descs.map(_.max_epoch)).max
    nextEpoch.set(math.max(0L, maxSeen + 1))
    // the batch counter resumes PAST the max numeric suffix actually
    // used, never from the descriptor COUNT: compact()/rebuild() consume
    // ids even when they publish nothing (return None), and a folded
    // catalog can carry duplicate rows — counting would land the counter
    // on a used id and the next flush would Overwrite a live segment
    // (acknowledged writes silently lost). recover-<epoch> ids are
    // epoch-derived, not counter-derived, and are excluded.
    val counterId = "(?:delta|stable|rebuild)-(\\d+)(?:-\\d+)?".r
    val used = descs.iterator.map(_.segment_id).collect {
      case counterId(n) => n.toLong
    }.toSeq
    nextBatch.set(if (used.isEmpty) 0L else used.max + 1L)
    // RESTART-DURABLE codes tree (F1pq-rt — the reference reloads
    // stable segments' codes at restart rather than re-encoding them):
    // with the catalog now FINAL (WAL tail replayed, orphans swept),
    // adopt the one stamped generation whose recorded inputs match
    // this store exactly; sweep the rest (stampless = crashed before
    // its sidecars landed; mismatched = the store moved on — both take
    // the pre-r15 sweep, the safe direction). Adoption installs a
    // STORED-ONLY serving tier from the sidecars, so the first
    // post-restart cache miss DEGRADES to the tree instead of refusing
    // until a full re-warm, and the next [[warmPqTier]] reuses the
    // tree's bytes (stamp gate) and its trained quantizer (base gate)
    // without a corpus pass.
    locally {
      val treeDirs = Option(fs.globStatus(new HPath(s"$baseDir/pqcodes_g*")))
        .getOrElse(Array.empty).map(_.getPath)
      if (treeDirs.nonEmpty) {
        val cents =
          if (fs.exists(new HPath(centroidsPath))) Some(centroids())
          else None
        val baseStamp = cents.flatMap(c => scala.util.Try(
          pqTreeBaseStamp(c, config.collection.metric,
            config.stable.pqM)).toOption)
        val parsed = treeDirs.flatMap { dir =>
          for {
            stamp <- readTreeStamp(dir.toString)
            gen <- dir.getName.stripPrefix("pqcodes_g").toLongOption
          } yield (dir, stamp, gen)
        }
        val adopted = baseStamp.flatMap(bs =>
          parsed.filter(_._2.startsWith(bs + " cb="))
            .sortBy(_._3).lastOption)
        treeDirs.foreach { dir =>
          if (!adopted.exists(_._1 == dir)) fs.delete(dir, true)
        }
        adopted.foreach { case (dir, stamp, gen) =>
          // normalize to the warm-time spelling (globStatus returns the
          // scheme-qualified path; the reuse gate and test hooks compare
          // strings)
          val dirStr = s"$baseDir/${dir.getName}"
          val install = scala.util.Try {
            pqCodesGen.set(gen + 1)
            pqCodesLive = Some(dirStr)
            pqCodesLiveStamp = Some(stamp)
            pqCodesLiveBase = baseStamp
            (readTreeCodebook(dirStr), readTreeSizes(dirStr)) match {
              case (Some(cb), Some(sizes)) =>
                val stored = new StoredAdc(dirStr, cents.get, cb,
                  sizes)
                val router = new graft.index.PqTieredServing(None, None,
                  stored.searchBatch, stored.probeFor)
                pqTier = Some(PqTierState(None, router, stored, cb))
                // reproduce the prior session's admission policy: a
                // pinned quantizer stays pinned (its codebook must
                // never short-circuit an unpinned warm's training)
                if (stamp.endsWith(" src=pinned")) pqTierPinned = Some(cb)
                // the adopted door is SERVING from here — load the
                // phase-2 id evidence now (the reference loads segment
                // blooms at open, config.h:117-125): in a fresh JVM
                // the lazy path would pay a ~file-count SEQUENTIAL
                // footer sweep inside the FIRST request (measured 42 s
                // over 3,960 files at 1M) and then serve at bloom
                // quality; the one warm job here makes steady serves
                // exact. Best-effort like the warm's own pre-load, and
                // over the exact budget it SKIPS rather than paying a
                // whole-store sequential footer sweep inside open()
                // (evidence then loads lazily per probed file).
                scala.util.Try(Segments.warmIdBlooms(spark, baseDir,
                    eagerBloomsOverBudget = false))
                  .failed.foreach(t => System.err.println(
                    s"[graft] id-bloom warm at adoption failed (point " +
                      s"lookups fall back to lazy loads): " +
                      t.getMessage))
              case _ =>
                // codebook/sizes sidecar missing: the tree's BYTES are
                // still reusable through the warm's stamp gate —
                // serving just stays cold until that warm
                ()
            }
          }
          install.failed.foreach { t =>
            // a tree that cannot stand up a serving tier must not fail
            // open() OR linger for the warm's reuse gate to trip over
            System.err.println(s"[graft] codes-tree adoption failed " +
              s"for $dir — sweeping it: ${t.getMessage}")
            scala.util.Try(fs.delete(dir, true))
            pqTier = None
            pqCodesLive = None
            pqCodesLiveStamp = None
            pqCodesLiveBase = None
          }
        }
      }
    }
  }
}

object Graft {

  /** A collected centroid layout and the part-file names it was read
    * from (its memo key).
    */
  private[graft] final case class Layout(key: Seq[String], cids: Array[Long],
      matrix: Array[Array[Double]])

  /** The columns an upsert batch keys on, which must hold no null:
    * `id`, the column a row's delete flag is read from (`deleted`, else
    * `op`) and a brought `epoch`. Their types are checked here.
    */
  private def keyColumns(schema: StructType): Seq[String] = {
    def typed(c: String, t: DataType): Option[String] =
      schema.find(_.name == c).map { f =>
        require(f.dataType == t,
          s"upsert batch: column '$c' must be ${t.simpleString}, " +
            s"got ${f.dataType.simpleString}")
        c
      }
    val flag = typed("deleted", BooleanType).orElse(typed("op", StringType))
    typed("id", StringType).toSeq ++ flag ++ typed("epoch", LongType)
  }

  /** One collected row of a prepared upsert batch (`vec` null when
    * the row carries none).
    */
  private final case class BatchRow(id: String, idHash: Long, epoch: Long,
      deleted: Boolean, centroidId: Option[Long], vec: Array[Double])

  /** WAL recovery's rows: tombstones at list -1 with a null `vec`. */
  private val RecoveredRowSchema = StructType(StructField("id", StringType) +:
    Seq("id_hash", "vec_id", "epoch", "deleted", "centroid_id").map(c =>
      StructField(c, if (c == "deleted") BooleanType else LongType, false)) :+
    StructField("vec", ArrayType(DoubleType, containsNull = false)))

  /** One serving generation — the raw-door index under its nprobe
    * controller, plus the HNSW hot cache when enabled — and the
    * searches running on it. A superseded generation releases its
    * blocks when its last search returns: a patched generation's
    * lineage is truncated, so a search still scanning released blocks
    * could not recompute them.
    */
  private final class ServingGen(val index: ServingIndex,
      val adaptive: AdaptiveServingIndex, val hnsw: Option[HnswHotCache]) {
    private var readers = 0
    private var retired = false
    def tryAcquire(): Boolean = synchronized {
      if (!retired) readers += 1
      !retired
    }
    def release(): Unit = synchronized {
      readers -= 1
      if (retired && readers == 0) index.unpersist()
    }
    def retire(): Unit = synchronized {
      retired = true
      if (readers == 0) index.unpersist()
    }
  }

  /** What one [[Graft.maintain]] pass decided: each field holds the
    * trigger that fired (and was acted on), or None.
    */
  final case class MaintenanceReport(compacted: Option[String],
      rebuilt: Option[String]) {
    def idle: Boolean = compacted.isEmpty && rebuilt.isEmpty
  }

  /** Open (or create) a store at `baseDir` under `cfg`: recover any
    * un-flushed WAL tail, then return the wired handle. The config is
    * validated on load; a fresh directory becomes a new collection.
    */
  def open(spark: SparkSession, baseDir: String,
      cfg: GraftConfig = GraftConfig.default): Graft = {
    // The segment store / centroids / frontier all go through the
    // Hadoop FS API, but the WAL tier is java.io (posix append
    // semantics) — fail LOUDLY on a remote baseDir instead of silently
    // journaling into a local directory literally named "s3://…" while
    // the segments land remotely (a split-brain store).
    val scheme = Segments.hfs(spark, baseDir).getScheme
    require(scheme == "file",
      s"Graft.open requires a local-filesystem baseDir (WAL tier is " +
        s"posix); got scheme '$scheme'. Use the segment-store APIs " +
        "directly for remote stores, or stage the WAL locally.")
    val g = new Graft(spark, cfg, baseDir)
    g.recoverOnOpen()
    g
  }

  /** [[open]] from a YAML config path (the reference's own format). */
  def open(spark: SparkSession, baseDir: String,
      cfgPath: String): Graft =
    open(spark, baseDir, GraftConfig.load(cfgPath))
}
