package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One packed PQ inverted list: codes laid out row-major (m bytes per
  * row, uint8 as JVM bytes), ids parallel — byte-for-byte the layout
  * [[LocalPqIndex]] holds on the driver, here living in the BLOCK
  * MANAGER as one RDD partition per list.
  */
final case class PqListBlock(cid: Long, ids: Array[Long],
    codes: Array[Byte])

/** Distributed PQ-codes serving tier — the CLUSTER-SHAPE cache for the
  * store's coded corpus (reference stable tier, config.h:84-94, under
  * the memory-cache split yaml:85-89). Where [[LocalPqIndex]] packs the
  * byte-budgeted hot set into DRIVER memory, this tier packs EVERY list
  * into executor memory (10 GB of codes at the 100M geometry — a
  * rounding error across a real cluster's aggregate RAM, and the codes
  * are 32× smaller than the raw floats they stand in for), partitioned
  * ONE INVERTED LIST PER PARTITION exactly like [[ServingIndex]].
  *
  * A request is one `sc.runJob` over the probed partitions
  * ([[searchBatch]], the tier's one request kernel; a single query is
  * a one-query batch): scheduler-level pruning — a list outside the
  * probe set never schedules a task, so per-request work is nprobe
  * tasks of in-memory ADC over packed bytes, not a Catalyst plan +
  * parquet decode per query (the `ivf_100m_stored_*` path this tier
  * replaces costs ~3× the 150 ms budget on local[32] re-reading the
  * probed files each request). At 1000 executors the same request
  * shape holds: nprobe tasks, each local to its cached list. Scoring
  * is the shared ADC contract: [[Pq.lutForMetric]] LUTs (driver, once per query,
  * broadcast), the shared scan kernel [[Pq.adcTopN]] in each task,
  * (score desc, id asc) ranking — results are IDENTICAL to
  * [[LocalPqIndex]] on the same lists (PqServingSpec pins it).
  */
final class PqServingIndex private (
    blocks: RDD[PqListBlock],
    cids: Array[Long],
    matrix: Array[Array[Double]],
    cidToPart: Map[Long, Int],
    cb: Pq.Codebook,
    listSizes: Map[Long, Long],
    val limits: ServingLimits) {

  def cachedLists: Int = listSizes.size

  /** Same centroid ranking as every other probe path. */
  def probe(q: Array[Float], nprobe: Int): Seq[Long] =
    Ivf.probePick(q, cids, matrix, nprobe)

  private def capProbes(probed: Seq[Long]): Seq[Long] =
    ServingIndex.capProbesWalk(probed,
      cid => listSizes.getOrElse(cid, 0L), limits.maxCandidates)

  /** The request's capped, METRIC-AWARE probe set ([[Pq.probeQuery]]:
    * cosine probes with the normalized query, matching the
    * normalize-at-admission list membership) — computed ONCE and
    * shared by the coverage pre-check and the scan.
    */
  private[graft] def probeFor(q: Array[Float], nprobe: Int,
      metric: String = "ip"): Seq[Long] =
    capProbes(probe(Pq.probeQuery(q, metric), nprobe))

  /** Whether the tier's blocks are still marked persisted in the block
    * manager: [[unpersist]] — the facade's mid-session demotion, or an
    * operator dropping the cache under memory pressure — flips this to
    * false, and the ROUTER ([[PqTieredServing]]) routes past this level
    * to the stored path instead of silently recomputing the whole build
    * lineage inside a latency-budgeted request. Deliberately NOT part
    * of [[coversProbes]]: a DIRECT call on a non-resident tier still
    * serves via RDD lineage recompute (correct, slow — and the
    * recompute fails loudly on the packed file's staleness gate if the
    * file moved on, PqServingSpec pins it); residency is a routing
    * concern, coverage is a correctness one. Partition-granular loss is
    * not visible here (MEMORY_AND_DISK spills rather than drops).
    */
  def resident: Boolean =
    blocks.getStorageLevel != StorageLevel.NONE

  /** A probed list is covered when a partition holds it OR it is empty
    * (no partition exists for an empty list by construction).
    */
  def coversProbes(probed: Seq[Long]): Boolean =
    probed.forall(cid =>
      cidToPart.contains(cid) || listSizes.getOrElse(cid, 0L) == 0L)

  /** Phase 1 over the distributed tier for a QUERY BATCH (Q12,
    * config.h:180) — THIS tier's one request kernel: ONE scheduler job
    * serves the whole batch. Each probed partition is scheduled once,
    * and its task scans the packed list once per query that probed it
    * with the shared kernel ([[Pq.adcTopN]]), so the per-request
    * job-dispatch floor (~14 ms on local[32], the dominant cost of a
    * cache-tier request) is paid once per batch; a one-query batch is
    * the single request. Per-query LUTs ([[Pq.lutForMetric]] — every
    * variant higher-is-better) ride a broadcast (batch × m × 256
    * doubles — ~20 MB at the reference geometry, too big for a task
    * closure), and the driver merges each query's partials under the
    * (score desc, id asc) contract ([[Pq.mergeTopN]]) — results equal
    * the driver tier's on the same lists (PqServingSpec pins it). `n`
    * is the caller's candidate budget, never clamped here (the client
    * clamp and the batch guard live at the door). A routing caller
    * that already ranked the centroids passes `knownProbes` (one probe
    * per query per request).
    */
  def searchBatch(qs: Seq[Array[Float]], n: Int, nprobe: Int,
      metric: String = "ip",
      knownProbes: Option[IndexedSeq[Seq[Long]]] = None)
      : IndexedSeq[Array[(Long, Double)]] = {
    val qArr = qs.toArray
    if (n <= 0 || qArr.isEmpty)
      return IndexedSeq.fill(qArr.length)(Array.empty)
    val probedByQuery = knownProbes
      .map(_.toArray)
      .getOrElse(qArr.map(q => probeFor(q, nprobe, metric)))
    require(probedByQuery.length == qArr.length,
      "knownProbes length != batch size")
    // coverage contract (same as the driver tier's): a probed list with
    // rows but no resident partition must REFUSE, never silently drop
    // its candidates from the top-k (a partial packed file could
    // otherwise serve subtly wrong results); empty lists are covered
    probedByQuery.foreach { probed =>
      require(coversProbes(probed),
        "probed list not resident in the distributed tier — serve via " +
          "the declarative stored path")
    }
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
    if (byPart.isEmpty) return IndexedSeq.fill(qArr.length)(Array.empty)
    val sc = blocks.sparkContext
    val luts = qArr.map(q => Pq.lutForMetric(cb, q, metric))
    val bcLuts = sc.broadcast(luts)
    val partQueries = byPart.map { case (p, is) => (p, is.toArray) }.toMap
    val parts = byPart.keys.toArray.sorted
    val partials: Array[Array[(Int, Array[(Long, Double)])]] =
      try ServingIndex.withDeadline(sc, limits.deadlineMs) {
        sc.runJob(
          blocks,
          (ctx: org.apache.spark.TaskContext,
              it: Iterator[PqListBlock]) => {
            val mine = partQueries.getOrElse(ctx.partitionId(),
              Array.emptyIntArray)
            if (!it.hasNext || mine.isEmpty)
              Array.empty[(Int, Array[(Long, Double)])]
            else {
              val block = it.next()
              mine.map(i => (i, Pq.adcTopN(block.ids, block.codes, 0,
                block.ids.length, bcLuts.value(i), n)))
            }
          },
          parts.toIndexedSeq)
      } finally bcLuts.destroy()
    // per-query driver merge under the shared contract
    val acc = Array.fill(qArr.length)(
      scala.collection.mutable.ArrayBuffer.empty[Array[(Long, Double)]])
    partials.foreach(_.foreach { case (i, hits) => acc(i) += hits })
    acc.iterator.map(Pq.mergeTopN(_, n)).toIndexedSeq
  }

  def unpersist(): Unit = { blocks.unpersist(); () }
}

object PqServingIndex {

  /** Build from a PACKED TIER FILE ([[LocalPqIndex.savePacked]]'s
    * format): the driver scans the file's table of contents (one pass
    * over the 12-byte list headers, data skipped), then each RDD
    * partition RANGE-READS its own list — no shuffle, no row decode,
    * ~sequential-read cost for the whole tier (measured ~30 s vs 469 s
    * for the fragment-shuffle build at the 100M geometry, because the
    * driver tier just loaded the same file and it is page-cache-hot).
    * On a real cluster the file lives on shared storage and each
    * executor range-reads its lists — exactly how a native engine
    * loads index shards. Stamp-gated like [[LocalPqIndex.loadPacked]]:
    * returns None on any mismatch and the caller falls back to
    * [[build]].
    */
  def buildFromPacked(spark: org.apache.spark.sql.SparkSession,
      path: String, stamp: String, centroids: DataFrame,
      cb: Pq.Codebook,
      limits: ServingLimits = ServingLimits.reference,
      knownSizes: Option[Map[Long, Long]] = None)
      : Option[PqServingIndex] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return None
    val m = cb.m
    // ---- driver-side TOC scan (headers only) ----
    var fileLen = -1L // captured for the partition readers' staleness gate
    val toc: Array[(Long, Long, Int)] = try { // (cid, dataOffset, n)
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.READ)
      try {
        fileLen = ch.size()
        def readFully(buf: java.nio.ByteBuffer): Unit = {
          while (buf.hasRemaining)
            if (ch.read(buf) < 0) throw new java.io.EOFException()
          buf.flip()
        }
        val magic = java.nio.ByteBuffer.allocate(
          LocalPqIndex.FileMagic.length + 4)
        readFully(magic)
        val gotMagic = new Array[Byte](LocalPqIndex.FileMagic.length)
        magic.get(gotMagic)
        if (!java.util.Arrays.equals(gotMagic, LocalPqIndex.FileMagic))
          return None
        val stampLen = magic.getInt
        if (stampLen < 0 || stampLen > 65536) return None
        val head = java.nio.ByteBuffer.allocate(stampLen + 4 + 4 + 8)
        readFully(head)
        val stampBytes = new Array[Byte](stampLen)
        head.get(stampBytes)
        if (new String(stampBytes,
            java.nio.charset.StandardCharsets.UTF_8) != stamp) return None
        if (head.getInt != m) return None
        val nLists = head.getInt
        if (nLists < 0 || nLists > 16777216) return None
        head.getLong // cachedBytes — unused here
        val out = Array.newBuilder[(Long, Long, Int)]
        var li = 0
        var pos = ch.position()
        while (li < nLists) {
          val hdr = java.nio.ByteBuffer.allocate(12)
          ch.position(pos)
          readFully(hdr)
          val cid = hdr.getLong
          val n = hdr.getInt
          if (n < 0 ||
              !knownSizes.forall(_.get(cid).contains(n.toLong)))
            throw new java.io.IOException(
              s"corrupt or stale list header cid=$cid n=$n")
          if (n.toLong * 8 > Int.MaxValue || n.toLong * m > Int.MaxValue)
            throw new java.io.IOException(
              s"list cid=$cid n=$n exceeds the 2 GiB per-buffer bound")
          out += ((cid, pos + 12, n))
          pos = pos + 12 + n.toLong * 8 + n.toLong * m
          li += 1
        }
        out.result()
      } finally ch.close()
    } catch {
      case e: Exception =>
        System.err.println(s"[pqserving] packed tier unreadable at " +
          s"$path (${e.getMessage}) — falling back to the shuffle build")
        return None
    }
    if (toc.isEmpty) return None // zero lists: nothing to serve from —
                                 // and parallelize(…, 0) would throw
    val (cids, matrix) = Ivf.collectCentroids(centroids)
    // partition i serves toc(i)'s list; cids absent from the file
    // (empty lists) have no partition and never schedule a task
    val cidToPart = toc.iterator.zipWithIndex
      .map { case ((cid, _, _), i) => (cid, i) }.toMap
    val bcToc = spark.sparkContext.broadcast(toc)
    val expectLen = fileLen
    val blocks = spark.sparkContext
      .parallelize(toc.indices, toc.length)
      .mapPartitionsWithIndex({ (pi, it) =>
        it.map { i =>
          require(i == pi, s"toc index $i landed on partition $pi")
          val (cid, off, n) = bcToc.value(i)
          val ch =
            try java.nio.channels.FileChannel.open(
              java.nio.file.Paths.get(path),
              java.nio.file.StandardOpenOption.READ)
            catch { case e: java.nio.file.NoSuchFileException =>
              // on local[*] and shared filesystems the driver-validated
              // path is visible here by construction; a per-task miss
              // means executor-local disks — name the fix loudly
              // instead of surfacing a bare NoSuchFileException per task
              throw new java.io.IOException(
                s"packed tier file $path not visible from this " +
                  "executor — buildFromPacked range-reads the file " +
                  "PER TASK, so on a multi-node cluster it must live " +
                  "on storage shared by every executor (or use the " +
                  "shuffle build over the codes relation instead)", e)
            }
          try {
            // Staleness gate BEFORE any range read: this RDD recomputes
            // an evicted/lost partition by re-reading the file at
            // build-time TOC offsets — a file atomically REPLACED by a
            // later savePacked since then would be range-read at stale
            // offsets and serve torn ids/codes with no error. Recompute
            // must fail loudly instead: re-validate magic + stamp +
            // total length against what the TOC scan saw.
            if (ch.size() != expectLen)
              throw new java.io.IOException(
                s"packed tier file $path changed since build " +
                  s"(${ch.size()} bytes, expected $expectLen) — " +
                  "stale TOC; rebuild the tier")
            val magicLen = LocalPqIndex.FileMagic.length
            val hb = java.nio.ByteBuffer.allocate(magicLen + 4)
            while (hb.hasRemaining)
              if (ch.read(hb) < 0) throw new java.io.EOFException()
            hb.flip()
            val gotMagic = new Array[Byte](magicLen)
            hb.get(gotMagic)
            val stampLen = hb.getInt
            val stampBytes =
              stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val sb = java.nio.ByteBuffer.allocate(
              math.max(0, math.min(stampLen, 65536)))
            while (sb.hasRemaining)
              if (ch.read(sb) < 0) throw new java.io.EOFException()
            sb.flip()
            val gotStamp = new Array[Byte](sb.limit())
            sb.get(gotStamp)
            if (!java.util.Arrays.equals(gotMagic, LocalPqIndex.FileMagic)
                || stampLen != stampBytes.length
                || !java.util.Arrays.equals(gotStamp, stampBytes))
              throw new java.io.IOException(
                s"packed tier file $path replaced since build " +
                  "(magic/stamp mismatch) — stale TOC; rebuild the tier")
            ch.position(off)
            val idBuf = java.nio.ByteBuffer.allocate(n * 8)
            while (idBuf.hasRemaining)
              if (ch.read(idBuf) < 0) throw new java.io.EOFException()
            idBuf.flip()
            val ids = new Array[Long](n)
            idBuf.asLongBuffer().get(ids)
            val codes = new Array[Byte](n * m)
            val cBuf = java.nio.ByteBuffer.wrap(codes)
            while (cBuf.hasRemaining)
              if (ch.read(cBuf) < 0) throw new java.io.EOFException()
            PqListBlock(cid, ids, codes)
          } finally ch.close()
        }
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = knownSizes.getOrElse(
      blocks.map(b => (b.cid, b.ids.length.toLong)).collect().toMap)
    if (knownSizes.isDefined) blocks.count() // materialize
    Some(new PqServingIndex(blocks, cids, matrix, cidToPart, cb, sizes,
      limits))
  }

  /** Build from coded assignments (vec_id, centroid_id, codes — BINARY
    * byte-packed or array<int>). Two stages, FRAGMENT-grained:
    * each input partition packs its rows into per-cid primitive
    * fragments (ids[], codes[]) FIRST, so the one shuffle moves
    * ~inputPartitions × listsPerPartition large blobs instead of the
    * full row count of tiny records (at the 100M geometry that is the
    * difference between shuffling ~300k packed fragments and 100M
    * individually-serialized rows — the row-grained build measured
    * 13 min, fragment-grained ~2 min). Reduce side concatenates
    * fragments per list (id-ascending for determinism) and persists
    * MEMORY_AND_DISK. `knownSizes` skips the sizes scan exactly like
    * the driver tier's build.
    */
  def build(assignedCodes: DataFrame, centroids: DataFrame,
      cb: Pq.Codebook,
      limits: ServingLimits = ServingLimits.reference,
      knownSizes: Option[Map[Long, Long]] = None): PqServingIndex = {
    val (cids, matrix) = Ivf.collectCentroids(centroids)
    val cidToPart = cids.zipWithIndex.toMap
    val bcParts =
      assignedCodes.sparkSession.sparkContext.broadcast(cidToPart)
    val m = cb.m
    val binaryCodes =
      assignedCodes.schema("codes").dataType ==
        org.apache.spark.sql.types.BinaryType
    // map side: pack per-cid fragments inside each input partition
    val fragments = assignedCodes
      .select(col("centroid_id").cast("long"), col("vec_id").cast("long"),
        col("codes"))
      .rdd.mapPartitions { it =>
        val byCid = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]]
        it.foreach { r =>
          val bytes =
            if (binaryCodes) r.getAs[Array[Byte]](2)
            else {
              val cs = r.getSeq[Int](2)
              val b = new Array[Byte](m)
              var j = 0
              while (j < m) { b(j) = cs(j).toByte; j += 1 }
              b
            }
          byCid.getOrElseUpdate(r.getLong(0),
            scala.collection.mutable.ArrayBuffer
              .empty[(Long, Array[Byte])]) += ((r.getLong(1), bytes))
        }
        val parts = bcParts.value
        byCid.iterator.flatMap { case (cid, rows) =>
          parts.get(cid).map { p =>
            val n = rows.length
            val ids = new Array[Long](n)
            val codes = new Array[Byte](n * m)
            var i = 0
            while (i < n) {
              ids(i) = rows(i)._1
              System.arraycopy(rows(i)._2, 0, codes, i * m, m)
              i += 1
            }
            (p, (cid, ids, codes))
          }
        }
      }
    // reduce side: concatenate fragments per list, id-ascending
    val blocks = fragments
      .partitionBy(new ExactPartitioner(cids.length))
      .mapPartitions({ it =>
        val frags = it.toArray
        if (frags.isEmpty) Iterator.empty
        else {
          val cid = frags.head._2._1
          val n = frags.iterator.map(_._2._2.length).sum
          val ids = new Array[Long](n)
          val codes = new Array[Byte](n * m)
          var o = 0
          frags.foreach { case (_, (_, fIds, fCodes)) =>
            System.arraycopy(fIds, 0, ids, o, fIds.length)
            System.arraycopy(fCodes, 0, codes, o * m, fCodes.length)
            o += fIds.length
          }
          // deterministic row order inside a list (id asc): ranking is
          // order-insensitive, but determinism keeps builds comparable
          val order = Array.range(0, n).sortBy(ids(_))
          val ids2 = new Array[Long](n)
          val codes2 = new Array[Byte](n * m)
          var w = 0
          while (w < n) {
            ids2(w) = ids(order(w))
            System.arraycopy(codes, order(w) * m, codes2, w * m, m)
            w += 1
          }
          Iterator.single(PqListBlock(cid, ids2, codes2))
        }
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the cache and collect per-list sizes in one pass
    // (build cost, not query latency) unless the catalog already knows
    val sizes = knownSizes.getOrElse(
      blocks.map(b => (b.cid, b.ids.length.toLong)).collect().toMap)
    if (knownSizes.isDefined) blocks.count() // still materialize
    new PqServingIndex(blocks, cids, matrix, cidToPart, cb, sizes, limits)
  }
}
