package graft.index

import java.util.concurrent.TimeUnit

import org.apache.spark.{Partitioner, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** One packed inverted list: ids + row-major flat vectors (the serving
  * analogue of the reference's in-memory IVF list, config.h:74-82). Flat
  * primitive arrays — no per-row objects, no boxing — so a probe scan is a
  * tight sequential loop over contiguous floats. `tenants`/`tags` are
  * null unless the index was built with attribute columns (then aligned
  * row-wise with `ids`).
  *
  * `tagPostings` is the serving twin of the stored row-level tag index
  * (reference roaring prefilter, config.h:117-125; the SQL-path postings
  * live in Segments.writeTagIndex): for each tag below the dense
  * threshold, the sorted row indices carrying it. A tags-ANY request
  * whose wanted tags are all sparse walks only the posting union instead
  * of testing every row; `denseTags` (sorted) records which tags were
  * NOT posted so the scan knows when it must fall back to the per-row
  * predicate.
  */
final case class ListBlock(cid: Long, ids: Array[Long], vecs: Array[Float],
    dim: Int, tenants: Array[String] = null,
    tags: Array[Array[Long]] = null, vecsD: Array[Double] = null,
    tagPostings: Map[Long, Array[Int]] = null,
    denseTags: Array[Long] = null)

/** Per-request predicate for the serving path — the reference
  * QueryRequest's filter surface (types.h:67-75): tenant equality (Q2),
  * tags ANY-of (Q3), and the deterministic sample gate (sample_p,
  * config.h:78). Arithmetic matches the SQL paths exactly
  * ([[graft.operators.Knn.sampleFilter]]'s Knuth-multiplicative bucket).
  */
final case class ServingFilter(tenant: Option[String] = None,
    tagsAny: Option[Seq[Long]] = None, sampleP: Option[Int] = None) {
  def isEmpty: Boolean = tenant.isEmpty && tagsAny.isEmpty && sampleP.isEmpty
}

object ServingFilter {
  val none: ServingFilter = ServingFilter()
}

/** Request guardrails — the reference's server-side caps
  * (config.h:128-131,180; configs/woved-default.yaml:163-169):
  * `top_k ≤ 100`, `max_candidates = 10000`, per-request deadline 5000 ms,
  * `max_query_batch = 100`. All four are yaml-configurable in the
  * reference, so they are constructor parameters here; the defaults ARE
  * the reference defaults. A misbehaving caller gets a clamp (k), a
  * probe truncation (candidate pool), a deterministic rejection (batch),
  * or a cancelled job (deadline) — never an unbounded scan.
  */
final case class ServingLimits(maxK: Int = 100, maxCandidates: Int = 10000,
    maxBatch: Int = 100, deadlineMs: Long = 5000L)

object ServingLimits {
  /** Reference defaults (config.h:128-131,180). */
  val reference: ServingLimits = ServingLimits()
  /** No caps — for oracle/verification paths that must see every row. */
  val unlimited: ServingLimits =
    ServingLimits(Int.MaxValue, Int.MaxValue, Int.MaxValue, 0L)
}

/** Raised when a serving request exceeds its deadline; the underlying
  * Spark job is cancelled (tasks interrupted), not abandoned.
  */
final class ServingDeadlineExceeded(val deadlineMs: Long, cause: Throwable)
  extends RuntimeException(
    s"serving request exceeded its ${deadlineMs} ms deadline", cause)

/** One overlay candidate: the buffer's LWW winner for an id, with the
  * attribute columns (if the overlay carries them) needed to apply a
  * QueryRequest filter driver-side.
  */
final case class OverlayWinner(id: Long, cid: Long, vec: Array[Double],
    tenant: String = null, tags: Array[Long] = null)

/** Raised when the in-flight buffer exceeds the overlay's capacity cap —
  * the serving tier's signal that a flush must run before the next
  * overlay generation (reference buffer cap: 16 GiB, types.h:130).
  */
final class OverlayCapacityExceeded(val maxRows: Int)
  extends RuntimeException(
    s"buffered mutations exceed the overlay cap ($maxRows rows) — " +
      "force a flush and rebuild the stored index before the next " +
      "overlay generation")

/** In-flight buffer tier for the serving path (T5/Q10 read-your-writes on
  * serving; reference msg-buf.h:220-262 buffer scan + latest-by-id
  * masking): the mutations accepted since the index was last rebuilt.
  * Winners are held driver-side (delta-fraction small — measured ~2%),
  * grouped by centroid so a request scans only the probed fraction; the
  * shadow id set is BROADCAST once per overlay generation as a SORTED
  * PRIMITIVE Array[Long] — 8 B/entry, cheap to (de)serialize if an
  * executor ever rehydrates it, probed by binary search in-task. A
  * request's probe-task closure carries only the broadcast handle. At
  * the reference envelope (5% of 100M vectors buffered) that is 40 MB
  * shipped per executor once per overlay generation instead of per
  * request — the difference between a 150 ms p99 holding and dying on
  * closure serialization.
  *
  * Capacity is CAPPED ([[ServingOverlay.defaultMaxRows]], the row
  * analogue of the reference's 16 GiB buffer cap, types.h:130): a
  * buffer beyond the cap throws [[OverlayCapacityExceeded]] — the
  * ingest layer must force a flush (stored-index rebuild) instead of
  * letting the driver-side winner tier grow unboundedly. This is the
  * same contract the reference enforces: the buffer tier is bounded,
  * the stored tier is not.
  *
  * Lifecycle: build once per refresh interval from the current buffer;
  * after a flush rebuilds the stored index, build the next overlay and
  * `destroy()` this one (drops the broadcast from executors). The class
  * is deliberately NOT Serializable — accidentally capturing it in a
  * task closure is a bug and fails fast.
  *
  * Semantics match [[graft.operators.TieredScan.liveView]]: any overlay
  * version of an id SHADOWS the stored version (buffer epochs are ≥
  * flushed epochs by construction), the overlay's own LWW winner
  * represents the id, and tombstoned winners mask without becoming
  * candidates.
  */
final class ServingOverlay private (
    private[index] val shadowBc: Broadcast[Array[Long]],
    private[index] val winners: Array[OverlayWinner],
    private[index] val hasTenant: Boolean,
    private[index] val hasTags: Boolean) {
  def size: Int = winners.length
  /** Winners grouped by centroid, built once per generation: a request
    * scans only the PROBED lists' winners — O(probed fraction of the
    * overlay), not O(overlay) — matching the stored side's pruning.
    */
  private[index] val winnersByCid: Map[Long, Array[OverlayWinner]] =
    winners.groupBy(_.cid)
  /** Driver-side view of the shadowed id set (local read, no fetch). */
  private[index] def shadowed: Array[Long] = shadowBc.value
  /** Drop the broadcast from executors — call when this overlay
    * generation is superseded (flush → stored-index rebuild → new
    * overlay). Blocking=false: executors GC it lazily.
    */
  def destroy(): Unit = shadowBc.destroy()
}

object ServingOverlay {
  /** Buffer cap in BUFFERED VERSIONS (≈ the reference's 16 GiB
    * in-memory buffer cap, types.h:130 — the buffer holds every
    * un-flushed mutation, not just the winners; at 1024-dim double
    * vectors: 2M × 8 KiB = 16 GiB). Yaml-tunable in the reference, a
    * parameter here. (The distributed overlay bounds a different
    * structure — its driver-resident shadow-id broadcast — with
    * [[DistributedServingOverlay.defaultMaxShadowRows]].)
    */
  val defaultMaxRows: Int = 2000000

  private def lexD(a: Array[Double], b: Array[Double]): Int = {
    if (a == null || b == null)
      return java.lang.Boolean.compare(a != null, b != null)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = java.lang.Double.compare(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  private def lexL(a: Array[Long], b: Array[Long]): Int = {
    if (a == null || b == null)
      return java.lang.Boolean.compare(a != null, b != null)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = java.lang.Long.compare(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  /** Total winner order shared by the driver and distributed overlays:
    * epoch, then live-over-deleted, then vector content (lexicographic
    * — a CONTENT compare, not a hash, so there is no collision case),
    * then centroid, tenant, tags. Total up to full row equality, which
    * makes the LWW reduction commutative and associative — both
    * overlay forms pick the same winner under ANY merge order, and the
    * pick is reproducible run-to-run. Epoch ties cannot occur under
    * the ingest contract (group-commit epochs are unique per id); this
    * order is the deterministic safety net when they do anyway.
    */
  private[index] def winnerCompare(
      aEpoch: Long, aDel: Boolean, aCid: Long, aVec: Array[Double],
      aTen: String, aTags: Array[Long],
      bEpoch: Long, bDel: Boolean, bCid: Long, bVec: Array[Double],
      bTen: String, bTags: Array[Long]): Int = {
    val c0 = java.lang.Long.compare(aEpoch, bEpoch)
    if (c0 != 0) return c0
    val c1 = java.lang.Boolean.compare(!aDel, !bDel)
    if (c1 != 0) return c1
    val c2 = lexD(aVec, bVec)
    if (c2 != 0) return c2
    val c3 = java.lang.Long.compare(aCid, bCid)
    if (c3 != 0) return c3
    val c4 =
      if (aTen == null || bTen == null)
        java.lang.Boolean.compare(aTen != null, bTen != null)
      else aTen.compareTo(bTen)
    if (c4 != 0) return c4
    lexL(aTags, bTags)
  }

  /** Build from buffered mutation rows
    * (cols: idCol, epoch, deleted, centroid_id, vecCol [, tenantCol,
    * tagsCol]). Vectors are held as doubles — exact for float sources,
    * lossless for double sources — so overlay scores match the SQL paths
    * bit-for-bit. Pass `tenantCol`/`tagsCol` when requests will combine
    * an overlay with a tenant/tags filter (the attributes are needed to
    * gate overlay winners driver-side). Throws
    * [[OverlayCapacityExceeded]] past `maxRows` buffered versions — the
    * collect is bounded by `limit(maxRows + 1)`, so an over-cap buffer
    * costs one truncated fetch, never an unbounded driver collect.
    */
  def fromDataFrame(buffer: DataFrame, idCol: String = "vec_id",
      vecCol: String = "vec", tenantCol: Option[String] = None,
      tagsCol: Option[String] = None,
      maxRows: Int = defaultMaxRows): ServingOverlay = {
    val hasTenant = tenantCol.isDefined
    val hasTags = tagsCol.isDefined
    val cols = Seq(col(idCol).cast("long"), col("epoch").cast("long"),
        col("deleted").cast("boolean"), col("centroid_id").cast("long"),
        col(vecCol).cast("array<double>")) ++
      tenantCol.map(c => col(c).cast("string")) ++
      tagsCol.map(c => col(c).cast("array<long>"))
    val tenantIdx = 5
    val tagsIdx = if (hasTenant) 6 else 5
    val fetch = buffer.select(cols: _*)
    val rows = (if (maxRows == Int.MaxValue) fetch
      else fetch.limit(maxRows + 1))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getSeq[Double](4).toArray,
        if (hasTenant && !r.isNullAt(tenantIdx)) r.getString(tenantIdx)
        else null,
        if (hasTags && !r.isNullAt(tagsIdx))
          r.getSeq[Long](tagsIdx).toArray
        else null))
    if (rows.length > maxRows) throw new OverlayCapacityExceeded(maxRows)
    val byId = rows.groupBy(_._1)
    val winners = byId.valuesIterator
      // LWW within the buffer. Epochs are unique per id by the ingest
      // contract (group-commit epochs); if a tie ever occurs anyway, the
      // break is the TOTAL content order shared with the distributed
      // overlay ([[winnerCompare]]) so the two forms pick the same
      // winner and never diverge run-to-run — the batch path
      // (Lww.latestBy) keeps all max-epoch rows, which a single-winner
      // overlay cannot represent, so determinism is the contract here.
      .map(_.reduce { (a, b) =>
        if (winnerCompare(a._2, a._3, a._4, a._5, a._6, a._7,
            b._2, b._3, b._4, b._5, b._6, b._7) >= 0) a else b
      })
      .collect { case (id, _, deleted, cid, vec, ten, tg)
        if !deleted && vec != null => OverlayWinner(id, cid, vec, ten, tg)
      }
      .toArray
    // sorted primitive shadow: 8 B/entry on the wire and in executor
    // memory (a boxed Set[Long] is ~50 B/entry and slow to rehydrate
    // under cache eviction); membership = binary search, no boxing
    val shadow = byId.keySet.toArray
    java.util.Arrays.sort(shadow)
    val sc = buffer.sparkSession.sparkContext
    new ServingOverlay(sc.broadcast(shadow), winners, hasTenant,
      hasTags)
  }
}

private final class ExactPartitioner(n: Int) extends Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = key.asInstanceOf[Int]
}

/** One packed overlay list: the buffer's live LWW winners for one
  * centroid, co-partitioned with the stored [[ListBlock]] of the same
  * cid. Vectors are doubles (lossless for both float and double
  * sources) so overlay scores match the driver-overlay and SQL paths
  * bit-for-bit.
  */
final case class OverlayBlock(cid: Long, ids: Array[Long],
    vecs: Array[Double], dim: Int, tenants: Array[String] = null,
    tags: Array[Array[Long]] = null)

/** Fully distributed read-your-writes overlay (Q10/T5 at 100×): the
  * scale path past [[ServingOverlay]]'s driver-side winner cap. The
  * driver overlay holds the buffer's LWW winners in driver memory —
  * bounded by [[ServingOverlay.defaultMaxRows]] (the reference's 16 GiB
  * buffer cap, types.h:130), which forces a flush when the buffer
  * outgrows it. This variant removes the driver from the data path
  * entirely: winners live as packed [[OverlayBlock]]s co-partitioned
  * with the stored index's inverted lists (same [[ExactPartitioner]],
  * same cid → partition map), so a request's probe tasks scan the
  * stored list AND its overlay rows in the SAME task via a
  * zip-partitions stitch over the two cached RDDs — no per-request
  * driver scan, no winner array whose size is a driver liability.
  *
  * What stays on the driver: nothing per-request. What stays broadcast:
  * the shadowed-id set (sorted primitive Array[Long], 8 B/entry) —
  * necessarily global, because an upsert can MOVE a vector between
  * centroids, so the stored row it shadows lives in a list the overlay
  * row does not. The zipped `tiered` RDD is built ONCE per overlay
  * generation (both parents cached; the stitch recomputes per request
  * as two cache hits + iterator packing — no data copy, no extra cache).
  *
  * Result contract: identical to [[ServingIndex.searchWithOverlay]]
  * with a [[ServingOverlay]] built from the same buffer — same LWW
  * winner tie-break, same filter semantics, same score arithmetic, same
  * (score, id) rank order. ServingSpec fuzzes the equivalence;
  * `tiered_knn_served_dist` gates it against the DuckDB oracle.
  */
final class DistributedServingOverlay private (
    private[index] val shadowBc: Broadcast[Array[Long]],
    @transient private[index] val blocks: RDD[OverlayBlock],
    @transient private[index] val tiered:
      RDD[(Array[ListBlock], Array[OverlayBlock])],
    @transient private[index] val owner: ServingIndex,
    private[index] val hasTenant: Boolean,
    private[index] val hasTags: Boolean,
    val size: Long) {
  /** Drop the overlay generation: broadcast off executors, blocks
    * uncached. Call after a flush rebuilds the stored index.
    */
  def destroy(): Unit = {
    shadowBc.destroy()
    blocks.unpersist(blocking = false)
  }
}

object DistributedServingOverlay {
  /** Build from buffered mutation rows (same contract as
    * [[ServingOverlay.fromDataFrame]]: cols idCol, epoch, deleted,
    * centroid_id, vecCol [, tenantCol, tagsCol]), co-partitioned with
    * `index`'s inverted lists. LWW winner per id is reduced
    * DISTRIBUTED (reduceByKey — one shuffle of the buffer, never a
    * driver collect) with the same deterministic tie-break as the
    * driver overlay: (epoch, live-over-deleted, vector content hash).
    * Only the shadowed-id ARRAY ever reaches the driver (8 B/id, the
    * same array the driver overlay broadcasts).
    */
  /** Shadow-set bound: the one driver-resident structure this overlay
    * keeps is the sorted shadowed-id array (8 B/id broadcast once per
    * generation) — 100M buffered ids ≈ 800 MB, the practical broadcast
    * envelope. Past the bound the build throws
    * [[OverlayCapacityExceeded]]: the ingest layer must force a flush,
    * the same bounded-buffer contract the reference enforces
    * (types.h:130) and the capped driver overlay signals at 2M rows.
    */
  val defaultMaxShadowRows: Long = 100000000L

  def fromDataFrame(buffer: DataFrame, index: ServingIndex,
      idCol: String = "vec_id", vecCol: String = "vec",
      tenantCol: Option[String] = None,
      tagsCol: Option[String] = None,
      maxShadowRows: Long = defaultMaxShadowRows): DistributedServingOverlay = {
    val hasTenant = tenantCol.isDefined
    val hasTags = tagsCol.isDefined
    val cols = Seq(col(idCol).cast("long"), col("epoch").cast("long"),
        col("deleted").cast("boolean"), col("centroid_id").cast("long"),
        col(vecCol).cast("array<double>")) ++
      tenantCol.map(c => col(c).cast("string")) ++
      tagsCol.map(c => col(c).cast("array<long>"))
    val tenantIdx = 5
    val tagsIdx = if (hasTenant) 6 else 5
    // (epoch, deleted, cid, vec, tenant, tags) keyed by id
    val versions: RDD[(Long, (Long, Boolean, Long, Array[Double],
        String, Array[Long]))] =
      buffer.select(cols: _*).rdd.map { r =>
        (r.getLong(0), (r.getLong(1), r.getBoolean(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getSeq[Double](4).toArray,
          if (hasTenant && !r.isNullAt(tenantIdx)) r.getString(tenantIdx)
          else null,
          if (hasTags && !r.isNullAt(tagsIdx))
            r.getSeq[Long](tagsIdx).toArray
          else null))
      }
    // LWW winner per id — the SAME total content order as the driver
    // overlay ([[ServingOverlay.winnerCompare]]): total up to full row
    // equality, hence commutative/associative under any reduceByKey
    // merge order, and both overlay forms pick the same winner
    val winners = versions.reduceByKey { (a, b) =>
      if (ServingOverlay.winnerCompare(a._1, a._2, a._3, a._4, a._5, a._6,
          b._1, b._2, b._3, b._4, b._5, b._6) >= 0) a else b
    }.persist(StorageLevel.MEMORY_AND_DISK)
    // global shadow set: every buffered id (live OR tombstoned) masks
    // its stored versions store-wide. Bounded: past maxShadowRows the
    // generation refuses to build (force-flush signal) instead of
    // collecting an arbitrarily large driver array.
    val nShadow = winners.count()
    if (nShadow > maxShadowRows) {
      winners.unpersist(blocking = false)
      throw new OverlayCapacityExceeded(
        math.min(maxShadowRows, Int.MaxValue.toLong).toInt)
    }
    val shadow = winners.keys.collect()
    java.util.Arrays.sort(shadow)
    val cidToPart = index.cidToPart
    val nParts = index.cids.length
    val packed = winners
      .flatMap { case (id, (_, deleted, cid, vec, ten, tg)) =>
        if (deleted || vec == null) None
        else cidToPart.get(cid).map(p => (p, (cid, id, vec, ten, tg)))
      }
      .partitionBy(new ExactPartitioner(nParts))
      .mapPartitions({ it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val cid = rows.head._2._1
          val n = rows.length
          val d = rows.head._2._3.length
          val ids = new Array[Long](n)
          val vecs = new Array[Double](n * d)
          val tenants = if (hasTenant) new Array[String](n) else null
          val tags = if (hasTags) new Array[Array[Long]](n) else null
          var i = 0
          while (i < n) {
            ids(i) = rows(i)._2._2
            System.arraycopy(rows(i)._2._3, 0, vecs, i * d, d)
            if (hasTenant) tenants(i) = rows(i)._2._4
            if (hasTags) tags(i) = rows(i)._2._5
            i += 1
          }
          Iterator.single(OverlayBlock(cid, ids, vecs, d, tenants, tags))
        }
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_ONLY)
    // materialize the cache and count live winners in one pass
    val size = packed.map(_.ids.length.toLong).fold(0L)(_ + _)
    winners.unpersist(blocking = false)
    // stitch built once per generation: computing a zipped partition is
    // two cache hits + two toArray ref-packs — no copy, nothing cached
    val tiered = index.blocks.zipPartitions(packed,
        preservesPartitioning = true) { (bIt, oIt) =>
      Iterator.single((bIt.toArray, oIt.toArray))
    }
    val sc = buffer.sparkSession.sparkContext
    new DistributedServingOverlay(sc.broadcast(shadow), packed, tiered,
      index, hasTenant, hasTags, size)
  }
}

/** Single-request IVF serving index (SURVEY Q6 serving path; BASELINE
  * 150 ms p99, reference types.h:141).
  *
  * The batch path ([[Ivf.search]]) and the per-request SQL path
  * ([[Ivf.searchPoint]]) both pay per-request costs a resident server
  * shouldn't: a fresh Catalyst analyze/optimize cycle per query (the plan
  * differs in its literals) and a task per cached partition even for
  * unprobed lists. This index removes both:
  *
  *  - the corpus lives as packed [[ListBlock]]s in a cached RDD partitioned
  *    ONE LIST PER PARTITION — the distributed analogue of the reference's
  *    in-memory inverted lists, still spread across executors;
  *  - a request is `sc.runJob(blocks, scan, probedPartitions)`: the
  *    scheduler dispatches ONLY the nprobe probed partitions (true
  *    scheduler-level partition pruning — nprobe tasks, not nlist), each
  *    task runs a codegen-equivalent tight-loop scan with a bounded top-k,
  *    and the driver merges nprobe k-row partials. No SQL planning, no
  *    shuffle, no broadcast — per-request cost is probe-task dispatch plus
  *    the probed fraction's scan.
  *
  * Score arithmetic is bit-identical to the codegen kernels
  * (VectorExpressions.DotProduct / L2SqDistance: sequential double
  * accumulation over float reads) and probe selection is bit-identical to
  * [[Ivf.searchPoint]], so results hash-match the batch path and the DuckDB
  * oracle (gated by `knn_point_served`).
  *
  * Requests run under [[ServingLimits]] (reference config.h:128-131,180):
  * k clamps to maxK, the probe set truncates when the candidate pool
  * (sum of probed list sizes) would exceed maxCandidates, and the probe
  * job is cancelled past the deadline.
  *
  * At 1000 executors this is exactly the layout you'd want: each executor
  * holds a slice of the lists, a request touches nprobe of them, and
  * scheduler locality sends each probe task to the executor caching that
  * list. Refresh on flush/compaction by rebuilding from the stored layout
  * ([[ServingIndex.buildStored]]) — the index is a read-optimized snapshot,
  * versioned by the segment tree it was built from — or, for one
  * batch whose epochs all sort after that snapshot, by folding the
  * batch into it ([[patched]]), the reference's write-through latest
  * map (`msg-buf.h:116-166`) at list granularity.
  */
final class ServingIndex private (
    @transient private[index] val blocks: RDD[ListBlock],
    val cids: Array[Long],
    val matrix: Array[Array[Double]],
    private[index] val cidToPart: Map[Long, Int],
    val metric: String,
    val dim: Int,
    private[graft] val listSizes: Map[Long, Int],
    val hasTenant: Boolean,
    val hasTags: Boolean,
    val limits: ServingLimits,
    private[index] val vecsDouble: Boolean,
    val maxEpoch: Long) extends Serializable {

  private[index] val asc = graft.operators.Knn.isAscending(metric)

  // observability counters (reference woved_bitmap_cache_hits/misses,
  // configs/woved-default.yaml:157-158): per probed list under a tags
  // filter, a "hit" = served from the posting union, a "miss" = per-row
  // fallback (a wanted tag was dense or unposted). Spark accumulators:
  // incremented in-task, merged into the driver on task completion —
  // the cluster-correct counter shape (a plain field would count only
  // in local mode). AT-LEAST-ONCE: user-level accumulators also merge
  // updates from speculative/resubmitted successful attempts, so under
  // retries these can overcount — read them as monitoring counters (the
  // reference's Prometheus role), not exact truths; consumers that need
  // a per-section figure should difference before/after snapshots of a
  // retry-free run rather than trust absolute values.
  @transient private[index] lazy val postingHitAcc =
    blocks.sparkContext.longAccumulator("graft.serving.posting.hits")
  @transient private[index] lazy val postingMissAcc =
    blocks.sparkContext.longAccumulator("graft.serving.posting.misses")

  /** Posting-prefilter hits so far (tags-filtered probed lists served
    * from the posting union).
    */
  def postingHits: Long = postingHitAcc.value
  /** Tags-filtered probed lists that fell back to the per-row test. */
  def postingMisses: Long = postingMissAcc.value

  /** nprobe nearest centroids for q — identical arithmetic and (d, cid)
    * tie-break to [[Ivf.searchPoint]]/[[Ivf.probes]].
    */
  def probe(q: Array[Float], nprobe: Int): Seq[Long] =
    Ivf.probePick(q, cids, matrix, nprobe)

  /** A filter naming an attribute the index was not built with would
    * silently reject every row (the SQL twin fails analysis instead) —
    * reject the request explicitly.
    */
  private[index] def validateFilter(filter: ServingFilter,
      tenantOk: Boolean, tagsOk: Boolean): Unit = {
    require(filter.tenant.isEmpty || tenantOk,
      "tenant filter on an index/overlay built without a tenant column")
    require(filter.tagsAny.isEmpty || tagsOk,
      "tags filter on an index/overlay built without a tags column")
  }

  /** max_candidates cap (config.h:129): walk the probe ranking in order,
    * keep probes while the cumulative candidate pool (probed list sizes)
    * stays within budget — always at least one probe. Deterministic: the
    * truncation depends only on the ranking and the built list sizes.
    * (One walk definition, shared with the local PQ tier:
    * [[ServingIndex.capProbesWalk]].)
    */
  private[index] def capProbes(probed: Seq[Long]): Seq[Long] =
    ServingIndex.capProbesWalk(probed, cid => listSizes.getOrElse(cid, 0).toLong,
      limits.maxCandidates)

  /** One QueryRequest: top-k over the probed lists, optionally through
    * the request's tenant/tags/sample predicate (evaluated in-task before
    * scoring — filtered rows never pay a dot product). Returns (id, score)
    * in final rank order (score best-first, ties by id asc).
    */
  def search(q: Array[Float], k: Int, nprobe: Int,
      filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] = {
    validateFilter(filter, hasTenant, hasTags)
    val kk = math.min(k, limits.maxK) // clamp, not reject (config.h:128)
    if (kk <= 0) return Array.empty // degenerate size: an answer, not an error
    val probed = capProbes(probe(q, nprobe))
    val parts = probed.flatMap(cidToPart.get).distinct.toArray
    if (parts.isEmpty) return Array.empty
    val probedSet = probed.toSet
    val m = metric
    val ascL = asc
    val hA = postingHitAcc
    val mA = postingMissAcc
    val partials: Array[Array[(Long, Double)]] =
      ServingIndex.withDeadline(blocks.sparkContext, limits.deadlineMs) {
        blocks.sparkContext.runJob(
          blocks,
          (it: Iterator[ListBlock]) =>
            ServingIndex.scanTopK(it, q, kk, m, ascL, probedSet, filter,
              ServingIndex.noShadow, hA, mA),
          parts.toIndexedSeq)
      }
    val merged = partials.flatten.sortBy {
      case (id, s) => (if (ascL) s else -s, id)
    }
    merged.take(kk)
  }

  /** Tiered request: stored index + in-flight buffer overlay with version
    * masking — the serving-path twin of the tiered read
    * ([[graft.operators.TieredScan.liveView]] semantics). Stored rows
    * whose id has ANY buffered version are skipped in-task (the shadow
    * set rides a per-overlay-generation broadcast — the probe closure
    * carries only the handle); the overlay's live LWW winners within the
    * probed lists join the candidate pool driver-side with the same score
    * arithmetic and the same filter predicate. Overlay scan cost is
    * O(overlay) per request on the driver — microseconds at the measured
    * 2% delta fraction.
    */
  def searchWithOverlay(q: Array[Float], k: Int, nprobe: Int,
      overlay: ServingOverlay,
      filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] = {
    validateFilter(filter, hasTenant, hasTags)
    validateFilter(filter, overlay.hasTenant, overlay.hasTags)
    val kk = math.min(k, limits.maxK)
    if (kk <= 0) return Array.empty // degenerate size: an answer, not an error
    val probed = capProbes(probe(q, nprobe))
    val probedSet = probed.toSet
    val parts = probed.flatMap(cidToPart.get).distinct.toArray
    val m = metric
    val ascL = asc
    val hA = postingHitAcc
    val mA = postingMissAcc
    val shadowBc = overlay.shadowBc // handle only — the set never ships
    val partials: Array[Array[(Long, Double)]] =
      if (parts.isEmpty) Array.empty
      else ServingIndex.withDeadline(blocks.sparkContext, limits.deadlineMs) {
        blocks.sparkContext.runJob(
          blocks,
          (it: Iterator[ListBlock]) =>
            ServingIndex.scanTopK(it, q, kk, m, ascL, probedSet,
              filter, shadowBc.value, hA, mA),
          parts.toIndexedSeq)
      }
    // query self-norm is loop-invariant across overlay winners — computed
    // once (cosine only; the accumulation order inside is unchanged, so
    // scores stay bit-identical to the per-row form)
    val nqPre =
      if (m == "cosine") ServingIndex.queryNormSq(q) else Double.NaN
    val overlayCands = probed.iterator
      .flatMap(cid => overlay.winnersByCid.getOrElse(cid,
        Array.empty[OverlayWinner]))
      .filter(w => ServingIndex.passWinner(w, filter))
      .map(w => (w.id, ServingIndex.scoreOne(q, w.vec, m, nqPre)))
      .toArray
    (partials.flatten ++ overlayCands)
      .sortBy { case (id, s) => (if (ascL) s else -s, id) }
      .take(kk)
  }

  /** Tiered request against a [[DistributedServingOverlay]]: the same
    * semantics as the driver-overlay [[searchWithOverlay]] — store-wide
    * shadow masking, probed-only candidacy, identical score arithmetic
    * and rank order — but the overlay rows are scanned IN the probe
    * tasks (zip-partitions stitch over the co-partitioned overlay
    * blocks), so no winner ever transits the driver. Each task returns
    * ≤ 2k rows (stored partial + overlay partial); the driver merge is
    * unchanged.
    */
  def searchWithOverlay(q: Array[Float], k: Int, nprobe: Int,
      overlay: DistributedServingOverlay,
      filter: ServingFilter): Array[(Long, Double)] = {
    require(overlay.owner eq this,
      "distributed overlay was built against a different ServingIndex")
    validateFilter(filter, hasTenant, hasTags)
    validateFilter(filter, overlay.hasTenant, overlay.hasTags)
    val kk = math.min(k, limits.maxK)
    if (kk <= 0) return Array.empty // degenerate size: an answer, not an error
    val probed = capProbes(probe(q, nprobe))
    val probedSet = probed.toSet
    val parts = probed.flatMap(cidToPart.get).distinct.toArray
    if (parts.isEmpty) return Array.empty
    val m = metric
    val ascL = asc
    val hA = postingHitAcc
    val mA = postingMissAcc
    val shadowBc = overlay.shadowBc // handle only — the set never ships
    val partials: Array[Array[(Long, Double)]] =
      ServingIndex.withDeadline(blocks.sparkContext, limits.deadlineMs) {
        blocks.sparkContext.runJob(
          overlay.tiered,
          (it: Iterator[(Array[ListBlock], Array[OverlayBlock])]) => {
            val (bs, os) = it.next()
            val stored = ServingIndex.scanTopK(bs.iterator, q, kk, m,
              ascL, probedSet, filter, shadowBc.value, hA, mA)
            val over = ServingIndex.overlayTopK(os, q, kk, m, ascL,
              probedSet, filter)
            stored ++ over
          },
          parts.toIndexedSeq)
      }
    partials.flatten
      .sortBy { case (id, s) => (if (ascL) s else -s, id) }
      .take(kk)
  }

  /** One BATCH request (Q12 on the serving path, config.h:131
    * max_query_batch): the whole batch runs as ONE probe job instead of
    * a job per query. Queries are inverted onto the lists they probe
    * (each partition's task scores every query that probed its list,
    * through the same [[ServingIndex.scanTopK]] kernel), so the batch
    * pays one scheduler dispatch and each list is READ ONCE for all the
    * queries probing it — at a measured ~8 ms dispatch-dominated
    * per-request latency, the difference between batch throughput
    * scaling with work and scaling with dispatch count. Per-query
    * results are identical to [[search]] (same probe pick, same caps,
    * same kernel, same (score, id) rank) — `knn_point_batched` shares
    * `knn_point`'s oracle verbatim.
    *
    * Returns qid → ranked hits. Batches above max_query_batch are
    * rejected; the k clamp, per-query candidate cap and deadline apply
    * as in [[search]].
    */
  def searchBatch(queries: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
      filter: ServingFilter = ServingFilter.none):
      Map[Long, Array[(Long, Double)]] = {
    validateFilter(filter, hasTenant, hasTags)
    val kk = math.min(k, limits.maxK)
    val plan = planBatch(queries, nprobe)
    val qVecs = plan.qVecs
    val partQueries = plan.partQueries
    val m = metric
    val ascL = asc
    val hA = postingHitAcc
    val mA = postingMissAcc
    val probedSets = plan.probedByQuery.map(_.toSet)
    val partials: Array[Array[(Int, Array[(Long, Double)])]] =
      if (plan.parts.isEmpty || kk <= 0) Array.empty
      else ServingIndex.withDeadline(blocks.sparkContext, limits.deadlineMs) {
        blocks.sparkContext.runJob(
          blocks,
          (ctx: org.apache.spark.TaskContext, it: Iterator[ListBlock]) => {
            val bs = it.toArray
            val mine = partQueries.getOrElse(ctx.partitionId(),
              Array.emptyIntArray)
            mine.map { i =>
              // the query's own probed set (computed once on the driver;
              // every batch variant sources it identically)
              (i, ServingIndex.scanTopK(bs.iterator, qVecs(i), kk, m,
                ascL, probedSets(i), filter, ServingIndex.noShadow,
                hA, mA))
            }
          },
          plan.parts.toIndexedSeq)
      }
    mergeBatch(plan, kk, partials, _ => Array.empty)
  }

  // BatchPlan lives in the companion object: an inner case class's
  // synthesized extractor emits an outer-reference type test scalac
  // cannot check (compiler warning), and the plan carries no instance
  // state anyway
  import ServingIndex.BatchPlan

  private def planBatch(queries: Seq[(Long, Array[Float])],
      nprobe: Int): BatchPlan = {
    require(queries.size <= limits.maxBatch,
      s"query batch ${queries.size} exceeds max_query_batch ${limits.maxBatch}")
    val qArr = queries.toArray
    val probedByQuery: Array[Seq[Long]] =
      qArr.map(qv => capProbes(probe(qv._2, nprobe)))
    val byPart = scala.collection.mutable.HashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
    var qi = 0
    while (qi < qArr.length) {
      probedByQuery(qi).foreach { cid =>
        cidToPart.get(cid).foreach { p =>
          byPart.getOrElseUpdate(p,
            scala.collection.mutable.ArrayBuffer.empty[Int]) += qi
        }
      }
      qi += 1
    }
    BatchPlan(qArr, probedByQuery, byPart.keys.toArray.sorted,
      byPart.map { case (p, is) => (p, is.toArray) }.toMap,
      qArr.map(_._2)) // small: batch ≤ 100 × dim floats
  }

  /** Shared batch merge: accumulate the probe job's per-query partials,
    * append each query's driver-side extras (overlay winners on the
    * driver-overlay path), rank by the (score best, id asc) contract.
    */
  private def mergeBatch(plan: BatchPlan, kk: Int,
      partials: Array[Array[(Int, Array[(Long, Double)])]],
      extra: Int => Array[(Long, Double)]):
      Map[Long, Array[(Long, Double)]] = {
    val ascL = asc
    val acc = scala.collection.mutable.HashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    partials.foreach(_.foreach { case (i, hits) =>
      acc.getOrElseUpdate(i,
        scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]) ++= hits
    })
    plan.qArr.indices.map { i =>
      val stored = acc.get(i)
        .map(_.toArray).getOrElse(Array.empty[(Long, Double)])
      plan.qArr(i)._1 -> (stored ++ extra(i))
        .sortBy { case (id, s) => (if (ascL) s else -s, id) }
        .take(kk)
    }.toMap
  }

  /** One BATCH request against the live tiered world (Q12 × Q10/T5 — the
    * composition a resident server actually runs: batched queries over
    * stored + in-flight): the whole batch is ONE probe job exactly as
    * [[searchBatch]], with the overlay's shadow masking in-task (the
    * broadcast handle rides the closure) and each query's overlay
    * winners joined driver-side from ITS probed lists — per-query
    * results identical to [[searchWithOverlay]] (ServingSpec fuzzes the
    * equivalence; `tiered_knn_served_batch` shares `tiered_knn_served`'s
    * oracle verbatim).
    */
  def searchBatch(queries: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
      overlay: ServingOverlay,
      filter: ServingFilter): Map[Long, Array[(Long, Double)]] = {
    validateFilter(filter, hasTenant, hasTags)
    validateFilter(filter, overlay.hasTenant, overlay.hasTags)
    val kk = math.min(k, limits.maxK)
    val plan = planBatch(queries, nprobe)
    val qVecs = plan.qVecs
    val partQueries = plan.partQueries
    val m = metric
    val ascL = asc
    val hA = postingHitAcc
    val mA = postingMissAcc
    val shadowBc = overlay.shadowBc // handle only — the set never ships
    val probedSets = plan.probedByQuery.map(_.toSet)
    val partials: Array[Array[(Int, Array[(Long, Double)])]] =
      if (plan.parts.isEmpty || kk <= 0) Array.empty
      else ServingIndex.withDeadline(blocks.sparkContext, limits.deadlineMs) {
        blocks.sparkContext.runJob(
          blocks,
          (ctx: org.apache.spark.TaskContext, it: Iterator[ListBlock]) => {
            val bs = it.toArray
            val mine = partQueries.getOrElse(ctx.partitionId(),
              Array.emptyIntArray)
            mine.map { i =>
              (i, ServingIndex.scanTopK(bs.iterator, qVecs(i), kk, m,
                ascL, probedSets(i), filter, shadowBc.value, hA, mA))
            }
          },
          plan.parts.toIndexedSeq)
      }
    // each query's overlay winners from ITS probed lists — the same
    // driver-side join as searchWithOverlay, query norm hoisted
    mergeBatch(plan, kk, partials, i => {
      val nqPre =
        if (m == "cosine") ServingIndex.queryNormSq(qVecs(i)) else Double.NaN
      plan.probedByQuery(i).iterator
        .flatMap(cid => overlay.winnersByCid.getOrElse(cid,
          Array.empty[OverlayWinner]))
        .filter(w => ServingIndex.passWinner(w, filter))
        .map(w => (w.id, ServingIndex.scoreOne(qVecs(i), w.vec, m, nqPre)))
        .toArray
    })
  }

  /** Batch × DISTRIBUTED overlay: the batch probe job runs over the
    * zip-partitions stitch, so each task scans the stored list AND its
    * co-partitioned overlay rows for every query that probed it — no
    * per-request or per-query driver scan at all. Per-query results
    * identical to the [[DistributedServingOverlay]] [[searchWithOverlay]].
    */
  def searchBatch(queries: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
      overlay: DistributedServingOverlay,
      filter: ServingFilter): Map[Long, Array[(Long, Double)]] = {
    require(overlay.owner eq this,
      "distributed overlay was built against a different ServingIndex")
    validateFilter(filter, hasTenant, hasTags)
    validateFilter(filter, overlay.hasTenant, overlay.hasTags)
    val kk = math.min(k, limits.maxK)
    val plan = planBatch(queries, nprobe)
    val qVecs = plan.qVecs
    val partQueries = plan.partQueries
    val m = metric
    val ascL = asc
    val hA = postingHitAcc
    val mA = postingMissAcc
    val shadowBc = overlay.shadowBc
    val probedSets = plan.probedByQuery.map(_.toSet)
    val partials: Array[Array[(Int, Array[(Long, Double)])]] =
      if (plan.parts.isEmpty || kk <= 0) Array.empty
      else ServingIndex.withDeadline(blocks.sparkContext, limits.deadlineMs) {
        blocks.sparkContext.runJob(
          overlay.tiered,
          (ctx: org.apache.spark.TaskContext,
              it: Iterator[(Array[ListBlock], Array[OverlayBlock])]) => {
            val (bs, os) = it.next()
            val mine = partQueries.getOrElse(ctx.partitionId(),
              Array.emptyIntArray)
            mine.map { i =>
              // the query's OWN probed set — NEVER derived from the
              // stored blocks: an overlay winner may live in a probed
              // centroid whose stored list is empty (fresh insert into
              // an empty list), and the stored-derived set would
              // silently drop it (read-your-writes violation vs the
              // single-request path)
              val probedQ = probedSets(i)
              val stored = ServingIndex.scanTopK(bs.iterator, qVecs(i), kk,
                m, ascL, probedQ, filter, shadowBc.value, hA, mA)
              val over = ServingIndex.overlayTopK(os, qVecs(i), kk, m,
                ascL, probedQ, filter)
              (i, stored ++ over)
            }
          },
          plan.parts.toIndexedSeq)
      }
    mergeBatch(plan, kk, partials, _ => Array.empty)
  }

  /** Battery/verify helper: a request loop over `queries`, results as a
    * DataFrame (query_id, vec_id, score) — k rows per request, built on
    * the driver (the serving pattern: each query IS an independent
    * request; only O(queries × k) rows ever reach the driver). Batches
    * above max_query_batch are rejected (config.h:131).
    */
  def searchAllDF(spark: SparkSession, queries: Seq[(Long, Array[Float])],
      k: Int, nprobe: Int,
      filter: ServingFilter = ServingFilter.none,
      overlay: Option[ServingOverlay] = None,
      distOverlay: Option[DistributedServingOverlay] = None): DataFrame = {
    require(queries.size <= limits.maxBatch,
      s"query batch ${queries.size} exceeds max_query_batch ${limits.maxBatch}")
    // requests are independent — run them CONCURRENTLY (a resident server
    // serves overlapping requests; sequential submission pays the whole
    // job-dispatch floor per request, guide §2.6). Results are assembled
    // in request order: values identical to the sequential loop.
    val rows = graft.operators.Parallelism.parRequests(queries) {
      case (qid, qv) =>
        val hits = (overlay, distOverlay) match {
          case (_, Some(d)) => searchWithOverlay(qv, k, nprobe, d, filter)
          case (Some(o), _) => searchWithOverlay(qv, k, nprobe, o, filter)
          case _ => search(qv, k, nprobe, filter)
        }
        hits.map { case (id, s) => Row(qid, id, s) }
    }.flatten
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("score", DoubleType, nullable = false))))
  }

  /** Materialize a driver-resident cache tier over this index — the
    * reference's GLOBAL-INDEX MEMORY CACHE
    * (configs/woved-default.yaml:85-89 `global.memory_cache_mb: 512`):
    * whole lists admitted in cid order until the byte budget, fetched
    * with ONE bounded job over only the admitted partitions. See
    * [[LocalServingIndex]] for the serving semantics.
    */
  def toLocal(
      maxBytes: Long = LocalServingIndex.defaultMaxBytes): LocalServingIndex = {
    // admission estimate per list: id 8 B + dim doubles (upper bound —
    // float-packed lists cost half, tenants/tags add slack the double
    // assumption absorbs at reference dims)
    val perRow = 8L + 8L * dim + 16L
    val admitted = scala.collection.mutable.LongMap.empty[Boolean]
    var bytes = 0L
    cids.sorted.foreach { cid =>
      val b = listSizes.getOrElse(cid, 0).toLong * perRow
      if (bytes + b <= maxBytes) { admitted(cid) = true; bytes += b }
    }
    val parts = admitted.keys.flatMap(cidToPart.get).toArray.distinct.sorted
    val adm = admitted.keySet.toSet
    val fetched: Array[Array[ListBlock]] =
      if (parts.isEmpty) Array.empty
      else blocks.sparkContext.runJob(
        blocks,
        (it: Iterator[ListBlock]) => it.filter(b => adm(b.cid)).toArray,
        parts.toIndexedSeq)
    val byCid = scala.collection.mutable.LongMap.empty[ListBlock]
    fetched.foreach(_.foreach(b => byCid(b.cid) = b))
    new LocalServingIndex(this, byCid, bytes)
  }

  def unpersist(): Unit = blocks.unpersist()

  /** The next generation: this one with one mutation batch folded in,
    * in ONE Spark job and without reading a segment. Each list (one
    * partition per centroid) drops every row whose id is in `shadow`
    * (sorted — every `id_hash` the batch carries, tombstones included)
    * and appends the batch's live winners `adds` (cid, id, vec) that
    * land on it, packed in this generation's own precision; a list
    * left empty emits no block, a list empty before gains one. The
    * same job collects the new list sizes, so [[capProbes]] walks
    * exactly the sizes a rebuild would.
    *
    * The result equals [[ServingIndex.buildStored]] over the store
    * with the batch flushed — same rows per list, same list sizes, so
    * bit-equal answers — ONLY when every batch epoch is strictly
    * greater than [[maxEpoch]] (each batch row then beats every stored
    * version of its id) and epochs are unique per id within the batch
    * (an epoch tie keeps both rows in `Lww.latestBy`, which one winner
    * per id cannot reproduce). Checking that gate is the caller's job
    * (`Graft.upsert`); `batchMaxEpoch` becomes the new [[maxEpoch]].
    *
    * Lineage: the new blocks are `localCheckpoint`ed while they
    * materialize (storage becomes MEMORY_AND_DISK, which a local
    * checkpoint requires), so a generation never pins its predecessors
    * — their blocks, their batches — and the caller unpersists this
    * one once the new one serves. A local checkpoint cannot recompute
    * a block lost with its executor, the caveat that gates
    * `Parallelism.materializeSmall` by size. It does not apply to the
    * one caller: the facade is local-only (`Graft.open` requires a
    * `file:` store, its WAL being posix), so the blocks live in the
    * driver's own block manager and no executor can be lost under
    * them. Attribute-free generations only (what `buildStored` makes).
    */
  def patched(shadow: Array[Long], adds: Seq[(Long, Long, Array[Double])],
      batchMaxEpoch: Long): ServingIndex = {
    require(!hasTenant && !hasTags,
      "patched serves attribute-free generations (buildStored's)")
    val d = dim
    val dbl = vecsDouble
    // a row off the layout (cid -1: no vector) is dropped, as build does
    val addBlocks: Map[Int, ListBlock] =
      adds.filter(a => cidToPart.contains(a._1)).groupBy(_._1).map {
        case (cid, rows) =>
          val n = rows.length
          val ids = new Array[Long](n)
          val vf = if (dbl) null else new Array[Float](n * d)
          val vd = if (dbl) new Array[Double](n * d) else null
          rows.iterator.zipWithIndex.foreach { case ((_, id, v), i) =>
            ids(i) = id
            var j = 0
            while (j < d) {
              if (dbl) vd(i * d + j) = v(j) else vf(i * d + j) = v(j).toFloat
              j += 1
            }
          }
          cidToPart(cid) -> ListBlock(cid, ids, vf, d, vecsD = vd)
      }
    // the batch's winners ride a collection co-partitioned with the
    // lists (element p lands in partition p), so a task ships only its
    // own list's rows; the shadow set is broadcast once
    val sc = blocks.sparkContext
    val addRdd = sc.parallelize(cids.indices.map(addBlocks.get), cids.length)
    val bc = sc.broadcast(shadow)
    val next = blocks.zipPartitions(addRdd, preservesPartitioning = true) {
      (oldIt, addIt) =>
        ServingIndex.mergeList(oldIt.toArray.headOption, addIt.next(),
          bc.value).iterator
    }.setName(ServingIndex.GenerationName).localCheckpoint()
    val sizes = next.map(b => (b.cid, b.ids.length)).collect().toMap
    // checkpointing dropped the zip's closure and parents: nothing
    // reads the broadcast or the previous generation's blocks again
    bc.destroy()
    withBlocks(next, sizes, math.max(maxEpoch, batchMaxEpoch))
  }

  /** This generation's layout and settings over other blocks. */
  private def withBlocks(next: RDD[ListBlock], sizes: Map[Long, Int],
      epoch: Long): ServingIndex =
    new ServingIndex(next, cids, matrix, cidToPart, metric, dim, sizes,
      hasTenant, hasTags, limits, vecsDouble, epoch)
}

/** Driver-resident serving tier — the reference's global-index memory
  * cache (configs/woved-default.yaml:85-89 `memory_cache_mb: 512`;
  * GlobalIndexConfig, config.h:96-100): packed list blocks held in
  * driver memory up to a byte budget and served on the CALLING thread
  * with the SAME [[ServingIndex.scanTopK]] kernel, probe ranking,
  * max_candidates cap, and (score, id-asc) merge contract as the probe
  * tasks — so results are bit-identical to [[ServingIndex.search]] by
  * construction, and a cached request pays ZERO scheduler dispatch.
  * The measured dispatch floor (~10 ms for ANY job on the bench box)
  * is the dominant per-request cost at reference list sizes, so this
  * tier is what takes single-request latency from ~p50 10 ms to
  * sub-ms, and per-thread throughput past the single DAGScheduler
  * event loop that caps the job path's concurrent qps.
  *
  * It is a CACHE, not the corpus path: a request probing ANY uncached
  * list falls through to the distributed index (the 100 TB shape —
  * the full corpus never fits a driver; the hot probed set does).
  * Admission is whole-list, deterministic (ascending cid until the
  * budget); the hit-count-driven hot-set variant is
  * [[HnswHotCache]]'s role.
  *
  * Thread-safe: serving state is immutable after build; concurrent
  * callers share nothing mutable (the posting-observability counters
  * ride the owner's accumulators, which are thread-safe).
  */
final class LocalServingIndex private[index] (
    val owner: ServingIndex,
    cached: scala.collection.mutable.LongMap[ListBlock],
    val cachedBytes: Long) {

  def cachedLists: Int = cached.size

  /** Requests served locally vs fallen through (observability). */
  private val localHits = new java.util.concurrent.atomic.AtomicLong(0L)
  private val fallThroughs = new java.util.concurrent.atomic.AtomicLong(0L)
  def localServes: Long = localHits.get()
  def fallThroughServes: Long = fallThroughs.get()

  // id → (cid, row) over the cached lists, built once on first rerank
  // use (8 B/entry; only pays when a compressed tier composes with
  // this raw tier for phase-2 re-scoring)
  @transient private lazy val rowIndex: scala.collection.mutable
      .LongMap[(Long, Int)] = {
    val m = scala.collection.mutable.LongMap
      .empty[(Long, Int)]
    cached.foreach { case (cid, b) =>
      var r = 0
      while (r < b.ids.length) { m(b.ids(r)) = (cid, r); r += 1 }
    }
    m
  }

  /** Exact inner-product scores for specific CACHED ids (the phase-2
    * rerank hook for [[LocalPqIndex]]): sequential double accumulation
    * in element order — `VectorFunctions.dotD`'s arithmetic, which is
    * what `Pq.twoPhaseSearch`'s re-score uses regardless of the probe
    * metric (the PQ path is inner-product, config.h:84-94). Ids not
    * resident in a cached list are absent from the result.
    */
  def scoreIds(q: Array[Float],
      ids: Array[Long]): scala.collection.mutable.LongMap[Double] = {
    val out = scala.collection.mutable.LongMap.empty[Double]
    var i = 0
    while (i < ids.length) {
      rowIndex.get(ids(i)).foreach { case (cid, r) =>
        val b = cached(cid)
        val d = b.dim
        val off = r * d
        var s = 0.0
        var j = 0
        if (b.vecsD != null)
          while (j < d) { s += q(j).toDouble * b.vecsD(off + j); j += 1 }
        else
          while (j < d) {
            s += q(j).toDouble * b.vecs(off + j).toDouble; j += 1
          }
        out(ids(i)) = s
      }
      i += 1
    }
    out
  }

  /** One QueryRequest — [[ServingIndex.search]] semantics exactly. */
  def search(q: Array[Float], k: Int, nprobe: Int,
      filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] = {
    owner.validateFilter(filter, owner.hasTenant, owner.hasTags)
    val kk = math.min(k, owner.limits.maxK)
    val probed = owner.capProbes(owner.probe(q, nprobe))
    if (!probed.forall(cached.contains)) {
      fallThroughs.incrementAndGet()
      return owner.search(q, k, nprobe, filter)
    }
    localHits.incrementAndGet()
    val probedSet = probed.toSet
    ServingIndex.scanTopK(probed.iterator.map(cached(_)), q, kk,
      owner.metric, owner.asc, probedSet, filter,
      ServingIndex.noShadow, owner.postingHitAcc, owner.postingMissAcc)
  }

  /** Tiered request with the driver overlay — same semantics as
    * [[ServingIndex.searchWithOverlay]]; the shadow set is read locally
    * (no broadcast fetch) and overlay winners merge exactly as on the
    * job path.
    */
  def searchWithOverlay(q: Array[Float], k: Int, nprobe: Int,
      overlay: ServingOverlay,
      filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] = {
    owner.validateFilter(filter, owner.hasTenant, owner.hasTags)
    owner.validateFilter(filter, overlay.hasTenant, overlay.hasTags)
    val kk = math.min(k, owner.limits.maxK)
    val probed = owner.capProbes(owner.probe(q, nprobe))
    if (!probed.forall(cached.contains)) {
      fallThroughs.incrementAndGet()
      return owner.searchWithOverlay(q, k, nprobe, overlay, filter)
    }
    localHits.incrementAndGet()
    val probedSet = probed.toSet
    val m = owner.metric
    val ascL = owner.asc
    val stored = ServingIndex.scanTopK(probed.iterator.map(cached(_)), q,
      kk, m, ascL, probedSet, filter, overlay.shadowed,
      owner.postingHitAcc, owner.postingMissAcc)
    val nqPre =
      if (m == "cosine") ServingIndex.queryNormSq(q) else Double.NaN
    val overlayCands = probed.iterator
      .flatMap(cid => overlay.winnersByCid.getOrElse(cid,
        Array.empty[OverlayWinner]))
      .filter(w => ServingIndex.passWinner(w, filter))
      .map(w => (w.id, ServingIndex.scoreOne(q, w.vec, m, nqPre)))
      .toArray
    (stored ++ overlayCands)
      .sortBy { case (id, s) => (if (ascL) s else -s, id) }
      .take(kk)
  }
}

object LocalServingIndex {
  /** Reference default: 512 MiB (yaml:89 memory_cache_mb). */
  val defaultMaxBytes: Long = 512L * 1024 * 1024
}

object ServingIndex {

  /** Batch inversion shared by the three `searchBatch` forms: per-query
    * capped probe sets, and partition → query indices for the one probe
    * job. (Companion-scoped: see the note at the use site.)
    */
  private[index] final case class BatchPlan(
      qArr: Array[(Long, Array[Float])],
      probedByQuery: Array[Seq[Long]], parts: Array[Int],
      partQueries: Map[Int, Array[Int]], qVecs: Array[Array[Float]])

  // ---- per-request deadline (config.h:130 query timeout) --------------
  // The probe job runs on the CALLING thread (no hop on the hot path); a
  // shared daemon watchdog fires cancelJobGroup past the deadline, which
  // interrupts the probe tasks and fails runJob — mapped to
  // ServingDeadlineExceeded. Overhead when the deadline never fires:
  // one schedule + cancel (~µs), invisible at the 150 ms budget.
  private lazy val watchdog = {
    val t = new java.util.concurrent.ScheduledThreadPoolExecutor(1,
      (r: Runnable) => {
        val th = new Thread(r, "graft-serving-deadline")
        th.setDaemon(true); th
      })
    t.setRemoveOnCancelPolicy(true)
    t
  }

  private val groupSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private[index] def withDeadline[T](sc: SparkContext,
      deadlineMs: Long)(body: => T): T = {
    if (deadlineMs <= 0L) return body // 0 = no deadline (unlimited)
    val group = s"graft-serving-${groupSeq.incrementAndGet()}"
    sc.setJobGroup(group, "serving probe", interruptOnCancel = true)
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    val task = watchdog.schedule(new Runnable {
      override def run(): Unit = {
        timedOut.set(true)
        sc.cancelJobGroup(group)
      }
    }, deadlineMs, TimeUnit.MILLISECONDS)
    try body
    catch {
      case e: Throwable if timedOut.get() =>
        throw new ServingDeadlineExceeded(deadlineMs, e)
    } finally {
      task.cancel(false)
      sc.clearJobGroup()
    }
  }

  /** Build from an assigned snapshot (cols: centroid_id, idCol, vecCol).
    * One shuffle (partition by list), then each list packs into flat
    * arrays and is cached where it landed. Build is the B2 index-build
    * step — untimed in serving terms, rerun on refresh. List sizes are
    * collected at build (nlist longs — driver-sized) to enforce the
    * max_candidates probe cap without a per-request job.
    *
    * When `tagsCol` is set, each list also builds per-tag row postings
    * for tags below `tagDenseThreshold` selectivity (reference roaring
    * prefilter role, config.h:117-125; default 0.2 = the reference's
    * dense cutover) — a selective tags-ANY request then walks only the
    * posting union instead of testing every row ([[scanTopK]]).
    */
  def build(assigned: DataFrame, centroids: DataFrame, metric: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tenantCol: Option[String] = None,
      tagsCol: Option[String] = None,
      limits: ServingLimits = ServingLimits.reference,
      tagDenseThreshold: Double = 0.2): ServingIndex = {
    val (cids, matrix) = Ivf.collectCentroids(centroids)
    val cidToPart = cids.zipWithIndex.toMap
    val dim = matrix.headOption.map(_.length).getOrElse(0)
    val hasTenant = tenantCol.isDefined
    val hasTags = tagsCol.isDefined
    // precision follows the source: float embeddings pack as float[]
    // (half the memory at serving scale), double vectors (e.g. segment
    // `vec` columns) pack as double[] — a float downcast would shift
    // scores off the SQL paths by ulps and break the oracle hash
    val isDouble =
      assigned.schema(vecCol).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => true
        case _ => false
      }
    val vecType = if (isDouble) "array<double>" else "array<float>"
    val cols = Seq(col("centroid_id").cast("long"),
        col(idCol).cast("long"), col(vecCol).cast(vecType)) ++
      tenantCol.map(c => col(c).cast("string")) ++
      tagsCol.map(c => col(c).cast("array<long>"))
    val tenantIdx = 3
    val tagsIdx = if (hasTenant) 4 else 3
    val keyed = assigned.select(cols: _*).rdd
      .flatMap { r =>
        val cid = r.getLong(0)
        cidToPart.get(cid).map { p =>
          val vec: AnyRef =
            if (isDouble) r.getSeq[Double](2).toArray
            else r.getSeq[Float](2).toArray
          (p, (cid, r.getLong(1), vec,
            if (hasTenant && !r.isNullAt(tenantIdx)) r.getString(tenantIdx)
            else null,
            if (hasTags && !r.isNullAt(tagsIdx))
              r.getSeq[Long](tagsIdx).toArray
            else null))
        }
      }
    val blocks = keyed
      .partitionBy(new ExactPartitioner(cids.length))
      .mapPartitions({ it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val cid = rows.head._2._1
          val n = rows.length
          val d =
            if (isDouble) rows.head._2._3.asInstanceOf[Array[Double]].length
            else rows.head._2._3.asInstanceOf[Array[Float]].length
          val ids = new Array[Long](n)
          val vecsF = if (isDouble) null else new Array[Float](n * d)
          val vecsD = if (isDouble) new Array[Double](n * d) else null
          val tenants = if (hasTenant) new Array[String](n) else null
          val tags = if (hasTags) new Array[Array[Long]](n) else null
          val byTag =
            if (hasTags)
              scala.collection.mutable.HashMap
                .empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
            else null
          var i = 0
          while (i < n) {
            ids(i) = rows(i)._2._2
            if (isDouble)
              System.arraycopy(rows(i)._2._3.asInstanceOf[Array[Double]],
                0, vecsD, i * d, d)
            else
              System.arraycopy(rows(i)._2._3.asInstanceOf[Array[Float]],
                0, vecsF, i * d, d)
            if (hasTenant) tenants(i) = rows(i)._2._4
            if (hasTags) {
              val tg = rows(i)._2._5
              tags(i) = tg
              if (tg != null) {
                var t = 0
                while (t < tg.length) {
                  val buf = byTag.getOrElseUpdate(tg(t),
                    scala.collection.mutable.ArrayBuffer.empty[Int])
                  // rows arrive in index order, so a repeated tag in one
                  // row's array is adjacent — posting lists stay sorted
                  // and duplicate-free
                  if (buf.isEmpty || buf.last != i) buf += i
                  t += 1
                }
              }
            }
            i += 1
          }
          var tagPostings: Map[Long, Array[Int]] = null
          var denseTags: Array[Long] = null
          if (hasTags) {
            val post = Map.newBuilder[Long, Array[Int]]
            val dense = scala.collection.mutable.ArrayBuffer.empty[Long]
            byTag.foreach { case (t, buf) =>
              if (buf.length.toDouble / n < tagDenseThreshold)
                post += t -> buf.toArray
              else dense += t
            }
            tagPostings = post.result()
            denseTags = dense.toArray
            java.util.Arrays.sort(denseTags)
          }
          Iterator.single(ListBlock(cid, ids, vecsF, d, tenants, tags,
            vecsD, tagPostings, denseTags))
        }
      }, preservesPartitioning = true)
      .setName(GenerationName)
      .persist(StorageLevel.MEMORY_ONLY)
    // materialize the cache AND collect per-list sizes in the same pass —
    // build step, not query latency; nlist (cid, size) pairs only
    val listSizes = blocks.map(b => (b.cid, b.ids.length)).collect().toMap
    new ServingIndex(blocks, cids, matrix, cidToPart, metric, dim,
      listSizes, hasTenant, hasTags, limits, isDouble, Long.MaxValue)
  }

  /** Build from the stored segment layout: latest-live masking first
    * (same store-wide narrow LWW as [[Ivf.searchStored]]), then pack.
    * The serving refresh path after a flush/compaction. The catalog
    * snapshot read here also stamps [[ServingIndex.maxEpoch]] (the
    * highest `max_epoch` it lists — a driver-side read), the bound a
    * later [[ServingIndex.patched]] batch must sort above; a
    * generation from [[build]] has no store behind it and stamps
    * `Long.MaxValue`, which no batch passes.
    */
  def buildStored(spark: SparkSession, baseDir: String, centroids: DataFrame,
      metric: String,
      limits: ServingLimits = ServingLimits.reference): ServingIndex = {
    import graft.segments.Segments
    val descs = Segments.catalogDescriptors(spark, baseDir)
    val all = Segments.readPaths(spark, descs.map(_.file_path))
    val latestLive = graft.operators.Lww.latestBy(
        all.select(col("id_hash"), col("epoch"), col("deleted")),
        "id_hash", "epoch")
      .filter(!col("deleted"))
      .select(col("id_hash"), col("epoch"))
    val idx = build(all.join(latestLive, Seq("id_hash", "epoch")), centroids,
      metric, idCol = "vec_id", vecCol = "vec", limits = limits)
    idx.withBlocks(idx.blocks, idx.listSizes,
      descs.iterator.map(_.max_epoch).foldLeft(Long.MinValue)(math.max))
  }

  /** The RDD name every serving generation's blocks carry (the storage
    * tab, and `SparkContext.getPersistentRDDs`, tell generations apart
    * from other cached data by it).
    */
  val GenerationName = "graft serving generation"

  /** One list of a [[ServingIndex.patched]] generation: `old`'s rows
    * whose id is not in the sorted `shadow` set (the [[scanTopK]]
    * binary-search test), then `add`'s rows (same list, same
    * precision). An untouched list returns `old` itself — the two
    * generations share its arrays.
    */
  private def mergeList(old: Option[ListBlock], add: Option[ListBlock],
      shadow: Array[Long]): Option[ListBlock] = {
    val keep = old.fold(Array.emptyIntArray)(b =>
      b.ids.indices.filter(i =>
        java.util.Arrays.binarySearch(shadow, b.ids(i)) < 0).toArray)
    if (add.isEmpty && old.forall(_.ids.length == keep.length)) return old
    val nAdd = add.fold(0)(_.ids.length)
    val n = keep.length + nAdd
    if (n == 0) return None
    val src = old.getOrElse(add.get)
    val d = src.dim
    val dbl = src.vecsD != null
    val ids = new Array[Long](n)
    val vf = if (dbl) null else new Array[Float](n * d)
    val vd = if (dbl) new Array[Double](n * d) else null
    old.foreach { b =>
      var i = 0
      while (i < keep.length) {
        ids(i) = b.ids(keep(i))
        if (dbl) System.arraycopy(b.vecsD, keep(i) * d, vd, i * d, d)
        else System.arraycopy(b.vecs, keep(i) * d, vf, i * d, d)
        i += 1
      }
    }
    add.foreach { a =>
      System.arraycopy(a.ids, 0, ids, keep.length, nAdd)
      if (dbl) System.arraycopy(a.vecsD, 0, vd, keep.length * d, nAdd * d)
      else System.arraycopy(a.vecs, 0, vf, keep.length * d, nAdd * d)
    }
    Some(ListBlock(src.cid, ids, vf, d, vecsD = vd))
  }

  /** Query self-norm-squared: sequential double accumulation in index
    * order — the exact chain the fused per-row loop used, hoisted because
    * it never varies across rows of one request.
    */
  private[graft] def queryNormSq(q: Array[Float]): Double = {
    var nq = 0.0
    var j = 0
    while (j < q.length) { nq += q(j).toDouble * q(j).toDouble; j += 1 }
    nq
  }

  /** Driver-side mirror of [[scanTopK]]'s per-row predicate for overlay
    * winners — same cheapest-first order, same sample arithmetic.
    */
  private[index] def passWinner(w: OverlayWinner,
      filter: ServingFilter): Boolean = {
    filter.sampleP.forall { p =>
      val m = (w.id * 2654435761L) % 100L
      (if (m < 0) m + 100L else m) < p
    } &&
    filter.tenant.forall(t => w.tenant != null && w.tenant == t) &&
    filter.tagsAny.forall(ts =>
      w.tags != null && ts.exists(t => w.tags.contains(t)))
  }

  /** Single-vector score with the exact kernel arithmetic of [[scanTopK]]
    * (sequential double accumulation) — used for driver-side overlay
    * candidates so tiered results hash-match the SQL paths. `nqPre` is
    * the precomputed query norm-squared ([[queryNormSq]]) for cosine;
    * NaN recomputes it here.
    */
  private[graft] def scoreOne(q: Array[Float], v: Array[Double],
      metric: String, nqPre: Double = Double.NaN): Double = {
    val d = q.length
    var s = 0.0
    var i = 0
    if (metric == "l2") {
      while (i < d) {
        val diff = q(i).toDouble - v(i).toDouble; s += diff * diff; i += 1
      }
    } else {
      while (i < d) { s += q(i).toDouble * v(i).toDouble; i += 1 }
      if (metric == "cosine") {
        val nq = if (nqPre.isNaN) queryNormSq(q) else nqPre
        var nv = 0.0; var j = 0
        while (j < d) { nv += v(j) * v(j); j += 1 }
        s = s / (math.sqrt(nq) * math.sqrt(nv))
      }
    }
    s
  }

  private[index] val noShadow: Array[Long] = Array.emptyLongArray

  /** The ONE max_candidates probe-cap walk (config.h:129), shared by
    * the job-path index and the local tiers: keep probes in ranking
    * order while the cumulative candidate pool stays within budget,
    * always at least one probe.
    */
  private[graft] def capProbesWalk(probed: Seq[Long], sizeOf: Long => Long,
      maxCandidates: Int): Seq[Long] = {
    if (maxCandidates == Int.MaxValue) return probed
    var cum = 0L
    val keep = Seq.newBuilder[Long]
    var n = 0
    probed.foreach { cid =>
      val sz = sizeOf(cid)
      if (n == 0 || cum + sz <= maxCandidates) {
        keep += cid; cum += sz; n += 1
      }
    }
    keep.result()
  }

  /** The bounded top-k kernel behind the stored-list scan
    * ([[scanTopK]]), the overlay scan ([[overlayTopK]]), and the local
    * tiers — THE shared rank/tie definition
    * ([[graft.operators.TopK.Bounded]]): one implementation of the
    * (score best, id asc) contract across every path the oracle
    * equivalences compare.
    */
  private[index] type BoundedTopK = graft.operators.TopK.Bounded

  /** In-task overlay scan: bounded top-k over a partition's packed
    * [[OverlayBlock]]s (cid ∈ probed), with [[passWinner]]'s predicate
    * semantics (sample → tenant → tags, cheapest first) and
    * [[scoreOne]]'s arithmetic (sequential double accumulation, cosine
    * query norm hoisted). Overlay rows are never shadow-tested — the
    * overlay IS the shadowing tier.
    */
  private[index] def overlayTopK(os: Array[OverlayBlock], q: Array[Float],
      k: Int, metric: String, asc: Boolean, probed: Set[Long],
      filter: ServingFilter): Array[(Long, Double)] = {
    if (os.isEmpty) return Array.empty
    val wantTenant = filter.tenant.orNull
    val wantTags = filter.tagsAny.map(_.toArray).orNull
    val sampleP = filter.sampleP.getOrElse(-1)
    val nqPre = if (metric == "cosine") queryNormSq(q) else Double.NaN
    val topk = new BoundedTopK(k, asc)
    var bi = 0
    while (bi < os.length) {
      val b = os(bi)
      if (probed.contains(b.cid)) {
        val d = b.dim
        val n = b.ids.length
        val v = b.vecs
        var r = 0
        while (r < n) {
          var ok = true
          if (sampleP >= 0) {
            val m = (b.ids(r) * 2654435761L) % 100L
            if ((if (m < 0) m + 100L else m) >= sampleP) ok = false
          }
          if (ok && wantTenant != null &&
            (b.tenants == null || b.tenants(r) != wantTenant)) ok = false
          if (ok && wantTags != null) {
            val rowTags = if (b.tags == null) null else b.tags(r)
            if (rowTags == null) ok = false
            else {
              var hit = false
              var i = 0
              while (!hit && i < wantTags.length) {
                var j = 0
                while (!hit && j < rowTags.length) {
                  if (rowTags(j) == wantTags(i)) hit = true
                  j += 1
                }
                i += 1
              }
              if (!hit) ok = false
            }
          }
          if (ok) {
            val off = r * d
            var s = 0.0
            var i = 0
            if (metric == "l2") {
              while (i < d) {
                val diff = q(i).toDouble - v(off + i); s += diff * diff
                i += 1
              }
            } else {
              while (i < d) { s += q(i).toDouble * v(off + i); i += 1 }
              if (metric == "cosine") {
                var nv = 0.0; var j = 0
                while (j < d) {
                  val x = v(off + j); nv += x * x; j += 1
                }
                s = s / (math.sqrt(nqPre) * math.sqrt(nv))
              }
            }
            topk.insert(s, b.ids(r))
          }
          r += 1
        }
      }
      bi += 1
    }
    topk.result()
  }

  /** Per-task probe scan: tight loop over a packed list, bounded top-k
    * with (score, id-asc) tie-break. Double accumulation over float reads
    * in index order — bit-identical to the codegen DotProduct/L2SqDistance
    * kernels. The cosine query norm is hoisted out of the row loop
    * (loop-invariant; the per-variable accumulation chains are unchanged,
    * so scores are bit-identical to the fused form — and cosine stops
    * paying ~1.5× the flops of ip).
    *
    * `shadow` is the overlay's sorted shadowed-id array (binary-search
    * membership); empty = no overlay. When every wanted tag is sparse in
    * a block (posted at build time, [[ListBlock.tagPostings]]), the scan
    * walks only the posting union instead of testing each row — the
    * serving analogue of the stored sparse path
    * (Segments.scanForTagsRowLevel); any dense wanted tag falls back to
    * the per-row predicate. Both paths see identical row sets, so
    * results are value-identical by construction.
    */
  private[index] def scanTopK(it: Iterator[ListBlock], q: Array[Float],
      k: Int, metric: String, asc: Boolean, probed: Set[Long],
      filter: ServingFilter = ServingFilter.none,
      shadow: Array[Long] = noShadow,
      postingHitAcc: org.apache.spark.util.LongAccumulator = null,
      postingMissAcc: org.apache.spark.util.LongAccumulator = null)
      : Array[(Long, Double)] = {
    val wantTenant = filter.tenant.orNull
    val wantTags = filter.tagsAny.map(_.toArray).orNull
    val sampleP = filter.sampleP.getOrElse(-1)
    val nqPre = if (metric == "cosine") queryNormSq(q) else Double.NaN
    val topk = new BoundedTopK(k, asc)
    // per-row predicate, cheapest test first — a rejected row never pays
    // a dot product. Sample arithmetic = Knn.sampleFilter's
    // pmod(vec_id · 2654435761, 100) < p, wrap-and-positive-mod exactly.
    // `checkTags=false` on the posting path: membership in the posting
    // union IS the tags-ANY predicate, already proven.
    def pass(b: ListBlock, r: Int, checkTags: Boolean): Boolean = {
      if (shadow.length > 0 &&
        java.util.Arrays.binarySearch(shadow, b.ids(r)) >= 0) return false
      if (sampleP >= 0) {
        val m = (b.ids(r) * 2654435761L) % 100L
        if ((if (m < 0) m + 100L else m) >= sampleP) return false
      }
      if (wantTenant != null &&
        (b.tenants == null || b.tenants(r) != wantTenant)) return false
      if (checkTags && wantTags != null) {
        if (b.tags == null) return false
        val rowTags = b.tags(r)
        if (rowTags == null) return false
        var hit = false
        var i = 0
        while (!hit && i < wantTags.length) {
          var j = 0
          while (!hit && j < rowTags.length) {
            if (rowTags(j) == wantTags(i)) hit = true
            j += 1
          }
          i += 1
        }
        if (!hit) return false
      }
      true
    }
    while (it.hasNext) {
      val b = it.next()
      if (probed.contains(b.cid)) {
        val d = b.dim
        val n = b.ids.length
        val vf = b.vecs
        val vd = b.vecsD
        // element read dispatches on the packed precision OUTSIDE the
        // per-dimension loop cost path (JIT specializes each branch);
        // (double)float reads are exact, so both paths match the codegen
        // kernels bit-for-bit
        def scoreAndInsert(r: Int): Unit = {
          val off = r * d
          var s = 0.0
          var i = 0
          if (metric == "l2") {
            if (vd != null)
              while (i < d) {
                val diff = q(i).toDouble - vd(off + i)
                s += diff * diff; i += 1
              }
            else
              while (i < d) {
                val diff = q(i).toDouble - vf(off + i).toDouble
                s += diff * diff; i += 1
              }
          } else {
            // ip and cosine share the dot loop; cosine normalizes below
            if (vd != null)
              while (i < d) { s += q(i).toDouble * vd(off + i); i += 1 }
            else
              while (i < d) {
                s += q(i).toDouble * vf(off + i).toDouble; i += 1
              }
            if (metric == "cosine") {
              var nv = 0.0; var j = 0
              while (j < d) {
                val x = if (vd != null) vd(off + j) else vf(off + j).toDouble
                nv += x * x
                j += 1
              }
              // IEEE division, no zero guard — exactly cosineD's
              // dot/(sqrt·sqrt) op order
              s = s / (math.sqrt(nqPre) * math.sqrt(nv))
            }
          }
          topk.insert(s, b.ids(r))
        }
        // sparse posting path: every wanted tag was posted at build time
        // (below the dense threshold) — walk the sorted posting union;
        // rows outside it cannot satisfy tags-ANY and are never touched
        val postingRows: Array[Int] =
          if (wantTags != null && b.tagPostings != null &&
              !wantTags.exists(t => b.denseTags != null &&
                java.util.Arrays.binarySearch(b.denseTags, t) >= 0)) {
            var total = 0
            var i = 0
            while (i < wantTags.length) {
              total += b.tagPostings.getOrElse(wantTags(i),
                Array.emptyIntArray).length
              i += 1
            }
            val u = new Array[Int](total)
            var o = 0
            i = 0
            while (i < wantTags.length) {
              val p = b.tagPostings.getOrElse(wantTags(i),
                Array.emptyIntArray)
              System.arraycopy(p, 0, u, o, p.length)
              o += p.length
              i += 1
            }
            java.util.Arrays.sort(u)
            u
          } else null
        // observability (reference woved_bitmap_cache_hits/misses,
        // yaml:157-158): one hit per probed list served from its posting
        // union, one miss per probed list that fell back to the per-row
        // tag test — counted in-task, surfaced through Spark accumulators
        if (wantTags != null) {
          if (postingRows != null) {
            if (postingHitAcc != null) postingHitAcc.add(1L)
          } else if (postingMissAcc != null) postingMissAcc.add(1L)
        }
        if (postingRows != null) {
          var j = 0
          var prev = -1
          while (j < postingRows.length) {
            val r = postingRows(j)
            // adjacent duplicates (a row carrying several wanted tags)
            // are scored once — same row set as the per-row ANY-of test
            if (r != prev && pass(b, r, checkTags = false))
              scoreAndInsert(r)
            prev = r
            j += 1
          }
        } else {
          var r = 0
          while (r < n) {
            if (pass(b, r, checkTags = true)) scoreAndInsert(r)
            r += 1
          }
        }
      }
    }
    topk.result()
  }
}
