package graft.index

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** Cache-hierarchy ROUTER for the stable PQ tier — the wiring between
  * the reference's memory-cache split (configs/woved-default.yaml:85-89
  * `memory_cache_mb`) and its stable IVF-PQ store (config.h:84-94). It
  * is the ONLY code that picks a tier for a PQ request:
  *
  *   L0  [[LocalPqIndex]]     driver-resident packed codes — zero
  *                            scheduler dispatch, sub-ms at reference
  *                            list sizes; byte-budgeted, so it may not
  *                            cover every list.
  *   L1  [[PqServingIndex]]   distributed block-manager codes tier —
  *                            nprobe in-memory tasks per request
  *                            (measured steady p99 59.7 ms at the 100M
  *                            geometry); covers the whole corpus when
  *                            warm, and reports itself non-[[
  *                            PqServingIndex.resident]] after an
  *                            unpersist so eviction DEGRADES to L2
  *                            instead of throwing.
  *   L2  `stored`             the stored level: a batch closure over
  *                            (query, probe set) pairs plus that
  *                            level's own probe (`storedProbe`, used
  *                            only when neither cache level exists) —
  *                            the true COLD layer (partition-pruned
  *                            parquet ADC, measured p99 ~1-5 s at 100M
  *                            on local[32]). Never a throw: this
  *                            closure must ANSWER ([[graft.Graft
  *                            .warmPqTier]] wires the real codes-tree
  *                            plan).
  *
  * [[search]] takes a query batch (a single request is a one-query
  * batch) and ranks each query's centroids ONCE. A query serves from
  * the SHALLOWEST level that covers its probed lists
  * ([[LocalPqIndex.coversProbes]] / [[PqServingIndex.coversProbes]] —
  * the same probe ranking + max_candidates walk the scans themselves
  * run, so routing never turns into a coverage refusal mid-serve). When
  * L0 holds only SOME of the probed lists, the query serves MIXED:
  * resident lists scan driver-side, only the misses go one level
  * deeper (L1 when it is resident and covers the query, the store
  * otherwise), and the pools merge under the shared (score desc, id
  * asc) contract — at a scale where the driver budget holds a fraction
  * of the lists, L0 keeps earning its bytes, and on the coldest path
  * driver-memory lists help most. All L1 work of a batch (whole queries
  * and mixed-serve misses) is ONE scheduler job, all stored work ONE
  * stored call. All levels share the ADC contract ([[Pq.adcTopN]] over
  * [[Pq.lutForMetric]] LUTs), so WHICH level serves is invisible in the
  * values — PqTieredServingSpec pins route-choice and mixed-serve
  * parity — and only visible in latency and in the per-level counters
  * below (bench observability: `ivf_100m_route_*`).
  *
  * The levels must be built over the SAME corpus snapshot, codebook,
  * and serving limits — the router routes, it does not reconcile
  * generations (that is the admission passes' job, like every cache
  * pair in the engine). `n` is a candidate budget, never a client k:
  * the client clamp and the batch guard live at the door
  * ([[graft.Graft.searchPqBatch]]).
  *
  * Thread-safe: routing reads immutable tier state; counters are
  * atomics, one count per query.
  */
final class PqTieredServing(
    local: Option[LocalPqIndex],
    dist: Option[PqServingIndex],
    stored: PqTieredServing.StoredSearch,
    storedProbe: (Array[Float], Int, String) => Seq[Long]) {

  private val localN = new AtomicLong(0L)
  private val mixedN = new AtomicLong(0L)
  private val distN = new AtomicLong(0L)
  private val storedN = new AtomicLong(0L)
  private val mixedStoredN = new AtomicLong(0L)
  private val anomalousN = new AtomicLong(0L)

  /** Queries served wholly by the driver tier. */
  def localServes: Long = localN.get()
  /** Queries served part-L0/part-L1 (split probe set, merged pools). */
  def mixedServes: Long = mixedN.get()
  /** Queries that fell through to the distributed tier alone. */
  def distServes: Long = distN.get()
  /** Queries that fell through past both cache levels to the store. */
  def storedServes: Long = storedN.get()
  /** Queries served part-L0/part-STORED (L1 evicted, driver tier
    * holding some probed lists — resident lists at driver speed, only
    * the misses pay the parquet plan).
    */
  def mixedStoredServes: Long = mixedStoredN.get()
  /** Stored routes taken while the distributed tier WAS resident — a
    * probe-contract anomaly (the tiers share one layout, so a warm
    * resident tier covering less than the probe walk is a coverage
    * regression, not an eviction). Counted apart + warned once so a
    * probe bug surfaces as a signal, not as mysterious latency.
    */
  def anomalousResidentRoutes: Long = anomalousN.get()

  private def noteAnomalousResidentRoute(): Unit = {
    if (anomalousN.getAndIncrement() == 0L)
      System.err.println("[graft] PQ router: resident distributed " +
        "tier does not cover the probe walk — serving from the " +
        "store; see anomalousResidentRoutes")
  }

  /** Phase-1 ADC top-`n` for each query of a batch through the
    * hierarchy — `n` is the two-phase caller's rerank·k candidate
    * budget, unclamped on every level (config.h:93). One probe per
    * query, one L1 job and one stored call per batch; results come back
    * in query order.
    */
  def search(qs: IndexedSeq[Array[Float]], n: Int, nprobe: Int,
      metric: String = "ip"): IndexedSeq[Array[(Long, Double)]] = {
    val pools = Array.fill(qs.length)(Array.empty[(Long, Double)])
    if (n <= 0) return pools.toIndexedSeq
    val l1Resident = dist.exists(_.resident)
    // (query index, probe subset) still to serve below L0
    val l1Work = ArrayBuffer.empty[(Int, Seq[Long])]
    val storedWork = ArrayBuffer.empty[(Int, Seq[Long])]
    qs.indices.foreach { qi =>
      val q = qs(qi)
      // the tiers share one layout (construction contract), so the
      // shallowest present level's probe set is THE probe set
      val probed = local.map(_.probeFor(q, nprobe, metric))
        .orElse(dist.map(_.probeFor(q, nprobe, metric)))
        .getOrElse(storedProbe(q, nprobe, metric))
      local.filter(_.coversProbes(probed)) match {
        case Some(l) =>
          localN.incrementAndGet()
          pools(qi) = l.searchProbed(probed, q, n, metric)
        case None =>
          val (res, miss) = local.map(_.partitionResident(probed))
            .getOrElse((Seq.empty[Long], probed))
          if (res.nonEmpty)
            pools(qi) = local.get.searchProbed(res, q, n, metric)
          val toL1 = l1Resident && dist.get.coversProbes(probed)
          // a RESIDENT tier that misses the walk is a coverage
          // regression, not an eviction (the tiers share one layout)
          if (!toL1 && l1Resident) noteAnomalousResidentRoute()
          (if (toL1) { if (res.nonEmpty) mixedN else distN }
            else { if (res.nonEmpty) mixedStoredN else storedN })
            .incrementAndGet()
          if (miss.nonEmpty)
            (if (toL1) l1Work else storedWork) += ((qi, miss))
      }
    }
    def mergeInto(work: ArrayBuffer[(Int, Seq[Long])],
        got: IndexedSeq[Array[(Long, Double)]]): Unit =
      work.indices.foreach { w =>
        val qi = work(w)._1
        pools(qi) =
          if (pools(qi).isEmpty) got(w)
          else Pq.mergeTopN(Seq(pools(qi), got(w)), n)
      }
    if (l1Work.nonEmpty)
      mergeInto(l1Work, dist.get.searchBatch(
        l1Work.map(w => qs(w._1)).toIndexedSeq, n, nprobe, metric,
        knownProbes = Some(l1Work.map(_._2).toIndexedSeq)))
    if (storedWork.nonEmpty)
      mergeInto(storedWork, stored(
        storedWork.map { case (qi, p) => (qs(qi), p) }.toIndexedSeq, n,
        metric))
    pools.toIndexedSeq
  }
}

object PqTieredServing {

  /** The stored level: top-`n` ADC (under `metric`) of each query over
    * ITS probe set, in input order. The router passes probe SUBSETS on
    * a mixed serve, so the closure must scan exactly the lists given.
    */
  type StoredSearch = (IndexedSeq[(Array[Float], Seq[Long])], Int,
    String) => IndexedSeq[Array[(Long, Double)]]
}
