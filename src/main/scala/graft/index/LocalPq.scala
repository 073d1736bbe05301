package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-resident IVF-PQ tier — the reference's STABLE-tier index
  * shape (config.h:84-94: IVF-PQ, nlist 4096, nprobe 12, PQ m×8 bits,
  * rerank_factor 4) held in the global-index memory cache
  * (yaml:85-89). PQ codes cost `4·m` bytes a row here versus `4·dim`
  * for raw floats — at the reference geometry (dim 768, m 96) the same
  * cache byte budget holds 8× the corpus, and at this engine's fixture
  * geometry (dim 64, m 8) it holds 8× too; that is the whole point of
  * the compressed tier: the RAW hot set that fits a driver is small,
  * the CODED hot set is nearly an order of magnitude larger.
  *
  * Serving semantics mirror the declarative stored path bit-for-bit:
  * phase 1 ([[searchProbed]], the tier's one request kernel) is the
  * shared ADC scan [[Pq.adcTopN]] — Σ_j lut(j)(codes(j)) with the same
  * sequential-in-j double accumulation as the codegen kernel
  * (`IndexExpressions.pqAdcSum`) and the same per-query LUT arithmetic
  * as `IndexExpressions.pqLut` (sequential dot per codeword); ranking
  * uses the shared (score desc, id asc) contract; optional phase 2
  * re-scores `rerank·k` candidates with the exact sequential dot
  * (`dotD` order) against a raw [[LocalServingIndex]]. Results
  * therefore equal `Pq.adcScores`/`Pq.twoPhaseSearch` exactly
  * (LocalPqSpec), and the `knn_pq_local` gate shares the two-phase
  * oracle SQL verbatim.
  *
  * This tier is a CACHE: lists are admitted whole, in cid order, under
  * a byte budget. A request probing an uncached list throws — the
  * uncovered path is the DISTRIBUTED codes tier ([[PqServingIndex]])
  * when warm, and the declarative stored IVF-PQ query
  * (`Pq.twoPhaseSearch` over the segment layout) only when both cache
  * levels are cold. [[PqTieredServing]] is that routing: it checks
  * [[coversProbes]] (or splits with [[partitionResident]]) on the probe
  * set it computed once, so the refusal never surfaces to a routed
  * caller.
  */
final class LocalPqIndex private (
    cids: Array[Long],
    matrix: Array[Array[Double]],
    cb: Pq.Codebook,
    lists: scala.collection.mutable.LongMap[(Array[Long], Array[Byte])],
    listSizes: Map[Long, Long],
    val limits: ServingLimits,
    val cachedBytes: Long) {

  def cachedLists: Int = lists.size
  private[index] def m: Int = cb.m
  private[index] def listsSnapshot
      : scala.collection.Map[Long, (Array[Long], Array[Byte])] = lists

  /** Same centroid ranking as every other probe path. */
  def probe(q: Array[Float], nprobe: Int): Seq[Long] =
    Ivf.probePick(q, cids, matrix, nprobe)

  /** max_candidates probe cap (config.h:129) — THE shared walk
    * ([[ServingIndex.capProbesWalk]]).
    */
  private def capProbes(probed: Seq[Long]): Seq[Long] =
    ServingIndex.capProbesWalk(probed, cid => listSizes.getOrElse(cid, 0L),
      limits.maxCandidates)

  /** A probed list is covered when its rows are cached OR it is empty
    * (zero stored rows, e.g. an empty k-means cluster): the admission
    * walk admits empty lists at zero bytes but no fragment ever arrives
    * for them, so requiring `lists.contains` alone would turn a fully
    * cached corpus into a permanent false cache miss on any query that
    * probes an empty centroid.
    */
  def coversProbes(probed: Seq[Long]): Boolean =
    probed.forall(cid =>
      lists.contains(cid) || listSizes.getOrElse(cid, 0L) == 0L)

  /** Split a probe set into (lists this tier actually holds rows for,
    * everything else) — the router's MIXED-serve split
    * ([[PqTieredServing]]): resident lists scan here at driver memory
    * speed, the misses go to the distributed tier, and the pools merge
    * under the shared ranking contract. Empty lists land on the miss
    * side (they scan nothing wherever they route).
    */
  private[graft] def partitionResident(probed: Seq[Long])
      : (Seq[Long], Seq[Long]) =
    probed.partition(lists.contains)

  /** A budget-capped VIEW of this tier: the SAME admission walk
    * [[LocalPqIndex.build]] runs (cid-ascending, whole lists, priced at
    * 8 B id + m B codes a row) over the same catalog sizes, sharing the
    * packed arrays of the admitted lists — zero copy, zero Spark jobs.
    * Lets a bench twin carve a starved tier out of a full one without a
    * second multi-GB build+collect (which OOM'd a 48 GB heap at the
    * 100M geometry); values on covered probes are identical by
    * construction (same arrays). Only lists THIS tier holds are
    * admitted — on a full tier that equals the fresh-build admission
    * exactly.
    */
  private[graft] def restrictToBudget(maxBytes: Long): LocalPqIndex = {
    val perRow = 8L + cb.m.toLong
    var bytes = 0L
    val newLists = scala.collection.mutable.LongMap
      .empty[(Array[Long], Array[Byte])]
    cids.sorted.foreach { cid =>
      val b = listSizes.getOrElse(cid, 0L) * perRow
      if (bytes + b <= maxBytes && lists.contains(cid)) {
        newLists(cid) = lists(cid)
        bytes += b
      }
    }
    new LocalPqIndex(cids, matrix, cb, newLists, listSizes, limits, bytes)
  }

  /** The request's capped, METRIC-AWARE probe set ([[Pq.probeQuery]]:
    * cosine probes with the normalized query, matching the
    * normalize-at-admission list membership) — computed ONCE per
    * request and shared by the coverage pre-check and the scan
    * ([[PqTieredServing]] passes it through, so routing never pays the
    * O(nlist·dim) centroid ranking twice).
    */
  private[graft] def probeFor(q: Array[Float], nprobe: Int,
      metric: String = "ip"): Seq[Long] =
    capProbes(probe(Pq.probeQuery(q, metric), nprobe))

  /** Phase-1 ADC top-n over a probe set the caller computed via
    * [[probeFor]] — THIS tier's one request kernel. The probed lists
    * split into `chunkRows`-row work units, each ranked by the shared
    * kernel ([[Pq.adcTopN]]), and the unit winners merge under the
    * (score desc, id asc) contract ([[Pq.mergeTopN]]); top-n is
    * scan-order-insensitive, so results do not depend on the split.
    * With a `pool` the units fan out over it — the reference's
    * `worker_threads` request parallelism (config.h:171) applied to the
    * one place a 100M-geometry request is compute-bound (~0.5M
    * candidates × m lookups); the LUT ([[Pq.lutForMetric]]) is built
    * once per request and shared read-only. `n` is the caller's
    * candidate budget, never clamped here (a two-phase pool is rerank·k,
    * an internal budget, config.h:93; the client clamp lives at the
    * door). A probe set this tier does not cover is refused — the
    * router only sends covered sets or resident subsets.
    */
  def searchProbed(probed: Seq[Long], q: Array[Float], n: Int,
      metric: String = "ip",
      pool: Option[java.util.concurrent.ExecutorService] = None,
      chunkRows: Int = 65536): Array[(Long, Double)] = {
    require(coversProbes(probed),
      "probed list not cached — serve via the distributed PQ tier " +
        "(PqTieredServing routes there when warm; the declarative " +
        "stored IVF-PQ path is the cold fallback)")
    if (n <= 0) return Array.empty
    val lut = Pq.lutForMetric(cb, q, metric)
    // empty lists pass coverage but have no cached rows to scan
    val units = for {
      cid <- probed
      (ids, codes) <- lists.get(cid).toSeq
      from <- 0 until ids.length by chunkRows
    } yield (ids, codes, from, math.min(ids.length, from + chunkRows))
    def scan(u: (Array[Long], Array[Byte], Int, Int)) =
      Pq.adcTopN(u._1, u._2, u._3, u._4, lut, n)
    val parts = pool match {
      case Some(p) =>
        units.map(u => p.submit(new java.util.concurrent.Callable[
            Array[(Long, Double)]] {
          override def call(): Array[(Long, Double)] = scan(u)
        })).map(_.get())
      case None => units.map(scan)
    }
    if (parts.length == 1) parts.head else Pq.mergeTopN(parts, n)
  }

  /** Two-phase: phase-1 top-(rerank·k) → exact dot re-score against the
    * raw tier → final top-k. Equals `Pq.twoPhaseSearch` on the same
    * rows (same candidate rule, same `dotD` re-score, same final rank).
    */
  def search(q: Array[Float], k: Int, nprobe: Int, rerank: Int,
      raw: LocalServingIndex): Array[(Long, Double)] = {
    val kk = math.min(k, limits.maxK)
    val candidates =
      searchProbed(probeFor(q, nprobe), q, kk * rerank).map(_._1)
    val exact = raw.scoreIds(q, candidates)
    // the expected configuration is a PQ tier WIDER than the raw tier
    // (that is the compression's point), so a candidate may well live in
    // a list the raw tier did not admit — that is a phase-2 cache miss
    // and must REFUSE like phase 1 does, never silently vanish from the
    // top-k (the true nearest neighbor could be the dropped one; the
    // miss path is the declarative two-phase over the store)
    require(exact.size == candidates.length,
      s"phase-2 rerank: ${candidates.length - exact.size} of " +
        s"${candidates.length} candidates are outside the raw tier — " +
        "serve via the declarative stored two-phase path")
    val topk = new ServingIndex.BoundedTopK(kk, asc = false)
    var i = 0
    while (i < candidates.length) {
      val id = candidates(i)
      topk.insert(exact(id), id)
      i += 1
    }
    topk.result()
  }
}

object LocalPqIndex {

  /** Build from coded assignments (cols: vec_id, centroid_id, codes
    * array<int>): whole lists admitted in cid order under `maxBytes`
    * (8 B id + 1 B per code a row — codes are uint8, k = 256, packed
    * as true bytes exactly like the reference's code arrays, so the
    * budget holds 4x what int-boxed codes would), fetched in ONE
    * aggregation over the codes relation — the codes are the small
    * side by construction (that is why this tier exists), so the
    * collect is budget-bounded.
    */
  def build(assignedCodes: DataFrame, centroids: DataFrame,
      cb: Pq.Codebook,
      maxBytes: Long = LocalServingIndex.defaultMaxBytes,
      limits: ServingLimits = ServingLimits.reference,
      knownSizes: Option[Map[Long, Long]] = None): LocalPqIndex = {
    val (cids, matrix) = Ivf.collectCentroids(centroids)
    // list sizes first (driver-sized: nlist longs), then admission —
    // centroid_id cast defensively: a hive-partitioned codes tree read
    // with partition-value inference delivers it as INT. A caller
    // holding catalog-recorded sizes passes them via `knownSizes` and
    // skips this scan — at the 100M geometry the sizes pass otherwise
    // re-reads the whole 10 GB codes relation just to count it.
    val sizes = knownSizes.getOrElse(assignedCodes
      .groupBy(col("centroid_id").cast("long").as("centroid_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
    val perRow = 8L + cb.m.toLong
    var bytes = 0L
    val admitted = scala.collection.mutable.LongMap.empty[Boolean]
    cids.sorted.foreach { cid =>
      val b = sizes.getOrElse(cid, 0L) * perRow
      if (bytes + b <= maxBytes) { admitted(cid) = true; bytes += b }
    }
    val adm = admitted.keySet.toSet
    if (adm.isEmpty)
      return new LocalPqIndex(cids, matrix, cb,
        scala.collection.mutable.LongMap.empty, sizes, limits, 0L)
    // pack IN-TASK, collect packed primitives: a Row-level collect of
    // the whole coded corpus would transiently cost several times the
    // cache budget in driver heap (boxed Rows); per-partition (cid,
    // ids[], codes[]) fragments arrive already at ~1x the packed size
    val m = cb.m
    // codes arrive either BYTE-PACKED (BinaryType — the serving-store
    // layout, one arraycopy per row) or as array<int> (the
    // oracle-facing layout — per-element narrowing); both pack to the
    // same byte lists
    val binaryCodes =
      assignedCodes.schema("codes").dataType ==
        org.apache.spark.sql.types.BinaryType
    val fragments: Array[(Long, Array[Long], Array[Byte])] = assignedCodes
      .filter(col("centroid_id").isin(adm.toSeq: _*))
      .select(col("centroid_id").cast("long"), col("vec_id").cast("long"),
        col("codes"))
      .rdd.mapPartitions { it =>
        val by = scala.collection.mutable.LongMap
          .empty[(scala.collection.mutable.ArrayBuffer[Long],
            scala.collection.mutable.ArrayBuffer[Byte])]
        it.foreach { r =>
          val (ids, codes) = by.getOrElseUpdate(r.getLong(0),
            (scala.collection.mutable.ArrayBuffer.empty[Long],
              scala.collection.mutable.ArrayBuffer.empty[Byte]))
          ids += r.getLong(1)
          if (binaryCodes) codes ++= r.getAs[Array[Byte]](2)
          else {
            val cs = r.getSeq[Int](2)
            var j = 0
            while (j < m) { codes += cs(j).toByte; j += 1 }
          }
        }
        by.iterator.map { case (cid, (ids, codes)) =>
          (cid, ids.toArray, codes.toArray)
        }
      }.collect()
    val lists = scala.collection.mutable.LongMap
      .empty[(Array[Long], Array[Byte])]
    fragments.groupBy(_._1).foreach { case (cid, frags) =>
      val n = frags.map(_._2.length).sum
      val idArr = new Array[Long](n)
      val codeArr = new Array[Byte](n * m)
      var o = 0
      frags.foreach { case (_, ids, codes) =>
        System.arraycopy(ids, 0, idArr, o, ids.length)
        System.arraycopy(codes, 0, codeArr, o * m, codes.length)
        o += ids.length
      }
      // deterministic row order inside a list: id ascending (the scan
      // visits rows in this order; ranking is order-insensitive but
      // reproducibility should not depend on fragment arrival order)
      val perm = idArr.indices.sortBy(idArr(_))
      val ids2 = new Array[Long](n)
      val codes2 = new Array[Byte](n * m)
      var i = 0
      while (i < perm.length) {
        ids2(i) = idArr(perm(i))
        System.arraycopy(codeArr, perm(i) * m, codes2, i * m, m)
        i += 1
      }
      lists(cid) = (ids2, codes2)
    }
    new LocalPqIndex(cids, matrix, cb, lists, sizes, limits, bytes)
  }

  // ---- persisted packed tier (the native engines' index-FILE shape:
  // build once, then every process start is a sequential read instead
  // of a distributed re-collect — at the 100M geometry the rebuild
  // costs ~13 min of collect+pack, the file loads in seconds) --------

  private[index] val FileMagic = "GRFTLPQ1".getBytes(
    java.nio.charset.StandardCharsets.US_ASCII)

  /** Write the admitted lists exactly as they sit in driver memory.
    * `stamp` ties the file to its inputs (store generation, admission
    * budget, list sizes) — [[loadPacked]] refuses on any mismatch, so a
    * stale file can never serve a newer store. Write is temp+rename:
    * a crash mid-write leaves no readable torso.
    */
  def savePacked(idx: LocalPqIndex, path: String, stamp: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.createDirectories(p.getParent)
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val stampBytes = stamp.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)
      val snap = idx.listsSnapshot
      val head = java.nio.ByteBuffer.allocate(
        FileMagic.length + 4 + stampBytes.length + 4 + 4 + 8)
      head.put(FileMagic).putInt(stampBytes.length).put(stampBytes)
        .putInt(idx.m).putInt(snap.size).putLong(idx.cachedBytes)
      head.flip(); while (head.hasRemaining) ch.write(head)
      snap.toSeq.sortBy(_._1).foreach { case (cid, (ids, codes)) =>
        // same 2 GiB per-buffer bound as loadPacked: refuse to write a
        // file the loader could never read back (the caller logs and
        // serves from the in-memory tier; nothing is lost but the warm
        // start)
        if (ids.length.toLong * 8 > Int.MaxValue)
          throw new java.io.IOException(
            s"list cid=$cid n=${ids.length} exceeds the packed " +
              "format's 2 GiB per-buffer bound — not packing")
        val hdr = java.nio.ByteBuffer.allocate(12)
        hdr.putLong(cid).putInt(ids.length); hdr.flip()
        while (hdr.hasRemaining) ch.write(hdr)
        val idBuf = java.nio.ByteBuffer.allocate(ids.length * 8)
        idBuf.asLongBuffer().put(ids); idBuf.limit(ids.length * 8)
        while (idBuf.hasRemaining) ch.write(idBuf)
        val cBuf = java.nio.ByteBuffer.wrap(codes)
        while (cBuf.hasRemaining) ch.write(cBuf)
      }
      // fsync before the rename: close() alone leaves the bytes in the
      // page cache, and a power failure shortly after the ATOMIC_MOVE
      // could publish a torn file under the final name (loadPacked
      // self-heals by delete+rebuild, but the rebuild is ~13 min at the
      // 100M geometry — not worth saving one flush)
      ch.force(true)
    } finally ch.close()
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // fsync the parent directory so the rename itself is durable
    try {
      val dir = java.nio.channels.FileChannel.open(p.getParent,
        java.nio.file.StandardOpenOption.READ)
      try dir.force(true) finally dir.close()
    } catch { case _: Exception => } // not supported on all filesystems
  }

  /** Load a packed tier written by [[savePacked]]. Returns None (and
    * removes the file when it is unreadable) unless the magic, stamp
    * and m all match — the caller then falls back to [[build]].
    * Centroids/codebook/sizes come from their own store files; only the
    * packed lists live here.
    */
  def loadPacked(path: String, stamp: String, centroids: DataFrame,
      cb: Pq.Codebook, limits: ServingLimits,
      knownSizes: Map[Long, Long]): Option[LocalPqIndex] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return None
    try {
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.READ)
      try {
        def readFully(buf: java.nio.ByteBuffer): Unit = {
          while (buf.hasRemaining)
            if (ch.read(buf) < 0) throw new java.io.EOFException()
          buf.flip()
        }
        val magic = java.nio.ByteBuffer.allocate(FileMagic.length + 4)
        readFully(magic)
        val gotMagic = new Array[Byte](FileMagic.length)
        magic.get(gotMagic)
        if (!java.util.Arrays.equals(gotMagic, FileMagic)) return None
        val stampLen = magic.getInt
        if (stampLen < 0 || stampLen > 65536)
          throw new java.io.IOException(s"corrupt stamp length $stampLen")
        val stampBuf = java.nio.ByteBuffer.allocate(stampLen + 4 + 4 + 8)
        readFully(stampBuf)
        val stampBytes = new Array[Byte](stampLen)
        stampBuf.get(stampBytes)
        if (new String(stampBytes,
            java.nio.charset.StandardCharsets.UTF_8) != stamp) {
          System.err.println(s"[localpq] packed tier stamp mismatch at " +
            s"$path — rebuilding")
          return None
        }
        val m = stampBuf.getInt
        if (m != cb.m) return None
        val nLists = stampBuf.getInt
        val cachedBytes = stampBuf.getLong
        // corrupt-header bounds: a bit-flipped count must fail as a
        // normal IOException (delete-and-rebuild), never as a multi-GB
        // allocation dying with OutOfMemoryError (an Error would skip
        // the cleanup handler below). cachedBytes is itself header data
        // and cannot bound anything — per-list counts are validated
        // against the CALLER's knownSizes below.
        if (nLists < 0 || nLists > 16777216)
          throw new java.io.IOException(s"corrupt list count $nLists")
        if (cachedBytes < 0 || cachedBytes > (1L << 40))
          throw new java.io.IOException(s"corrupt byte count $cachedBytes")
        val lists = scala.collection.mutable.LongMap
          .empty[(Array[Long], Array[Byte])]
        var li = 0
        while (li < nLists) {
          val hdr = java.nio.ByteBuffer.allocate(12)
          readFully(hdr)
          val cid = hdr.getLong
          val n = hdr.getInt
          // STRICT: every non-empty list in the file must match the
          // caller's catalog-recorded size exactly — this is both the
          // staleness check and the allocation bound (n comes from real
          // data, not from the untrusted header)
          if (n < 0 || !knownSizes.get(cid).contains(n.toLong))
            throw new java.io.IOException(
              s"corrupt or stale list header cid=$cid n=$n")
          // explicit overflow guard: a genuine (catalog-validated) list
          // beyond ~268M rows or n·m > Int.MaxValue would overflow int
          // arithmetic into a negative allocation — reject with a real
          // IOException (mirrors the corrupt-header bounds) instead of
          // letting a generic Exception delete a VALID file and force
          // the full rebuild on every start
          if (n.toLong * 8 > Int.MaxValue || n.toLong * m > Int.MaxValue)
            throw new java.io.IOException(
              s"list cid=$cid n=$n exceeds the packed format's 2 GiB " +
                "per-buffer bound — serve this layout from the store")
          val idBuf = java.nio.ByteBuffer.allocate(n * 8)
          readFully(idBuf)
          val ids = new Array[Long](n)
          idBuf.asLongBuffer().get(ids)
          val codes = new Array[Byte](n * m)
          val cBuf = java.nio.ByteBuffer.wrap(codes)
          while (cBuf.hasRemaining)
            if (ch.read(cBuf) < 0) throw new java.io.EOFException()
          lists(cid) = (ids, codes)
          li += 1
        }
        val (cids, matrix) = Ivf.collectCentroids(centroids)
        Some(new LocalPqIndex(cids, matrix, cb, lists, knownSizes,
          limits, cachedBytes))
      } finally ch.close()
    } catch {
      case e: Exception =>
        System.err.println(s"[localpq] packed tier unreadable at $path " +
          s"(${e.getMessage}) — deleting and rebuilding")
        try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => }
        None
    }
  }
}
