package wovedbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.Graft

/** A workload: set-up (untimed by the window, reported as `setup_s`), a
  * closed-loop window of `seconds`, then correctness checks and, in the
  * traced run, the per-layer probes.
  */
abstract class Workload(val c: Ctx) {
  import Main.Geometry

  val store: String = new File(c.work, "store").getAbsolutePath
  var g: Graft = _
  val model = new LwwModel
  private val hashCache = ArrayBuffer.empty[Long]
  /** Vectors (not tombstones) the program acknowledged, set-up included. */
  var ackVectors = 0L
  private var hadoop0 = 0L
  /** Bytes appended to the java.io WAL by the calls that write it. */
  private var walWritten = 0L
  /** Latency (ms) of each unit of the window: a cycle or a round. */
  val units = ArrayBuffer.empty[Double]
  var windowS = 0.0
  /** Set-up phases (name → seconds), printed beside `setup_s`. */
  val setupPhases = mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(f: => T): T = {
    val t = System.nanoTime()
    try f finally setupPhases(name) = (System.nanoTime() - t) / 1e9
  }

  def setup(): Unit
  def window(seconds: Int): Unit
  def checks(): Unit
  /** (unit p50 ms, items per second, mean recall@10). */
  def headline(): (Double, Double, Double)
  /** Finer metrics of this workload, printed beside the end-to-end ones. */
  def named(): Seq[(String, (Double, String))]
  def layers(): Map[String, Double]
  /** Layer probe cost per unit of this workload, by layer. */
  def unitCost(l: Map[String, Double]): Seq[(String, Double)]

  def dominantLayer(l: Map[String, Double]): String = {
    val costs = unitCost(l).sortBy(-_._2)
    costs.map { case (k, v) => f"$k=$v%.1fms" }.mkString(s"${costs.head._1} (per unit: ", ", ", ")")
  }

  def hash(n: Int): Long = {
    while (hashCache.length <= n) hashCache += Gen.idHash(Gen.idOf(hashCache.length))
    hashCache(n)
  }

  def open(): Unit = phase("setup.open_s") {
    hadoop0 = Disk.hadoopBytesWritten
    g = Graft.open(c.spark, store, c.cfg)
  }

  /** Send one upsert batch through the facade and, once acknowledged,
    * apply it to the model.
    */
  def upsert(ms: Seq[Gen.Mutation]): Unit = {
    val df = Gen.batchFrame(c.spark, ms)
    countingWal(c.call("upsert")(g.upsert(df)))
    ms.foreach(model.apply)
    ackVectors += ms.count(!_.deleted)
  }

  private def walSizes(): Map[String, Long] =
    Disk.files(new File(store, "wal")).filterNot(_.getName.contains("_flushed_epoch"))
      .map(f => f.getPath -> f.length).toMap

  /** Runs one facade call and adds each WAL file's growth across it to
    * the WAL bytes written, so a segment the WAL later rotates out and
    * reclaims stays counted.
    */
  def countingWal[T](f: => T): T = {
    val before = walSizes()
    try f finally walWritten += walSizes().iterator
      .map { case (p, n) => math.max(0L, n - before.getOrElse(p, 0L)) }.sum
  }

  def vectorBytes(n: Long): Double = n.toDouble * Geometry.dim * 4

  /** (write amplification, space amplification) over the whole run so
    * far: bytes written under the store dir — Hadoop-FS files plus the
    * java.io WAL — per acknowledged float32 vector byte, and store bytes
    * per live vector byte.
    */
  def amplification(): (Double, Double) = {
    val written = Disk.hadoopBytesWritten - hadoop0 + walWritten
    (written / vectorBytes(ackVectors),
      Disk.bytes(new File(store)) / vectorBytes(model.liveCount))
  }

  def recallAt(res: Array[(Long, Double)], exact: Array[(Long, Double)]): Double = {
    val want = exact.map(_._1).toSet
    res.count(r => want.contains(r._1)).toDouble / math.max(1, exact.length)
  }

  def mean(xs: Seq[Double]): Double = xs.sum / math.max(1, xs.length)

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A time-bounded window runs `seconds`, and at least three units, so
    * its median is never the first (coldest) unit's.
    */
  def inWindow(t0: Long, seconds: Int): Boolean =
    System.nanoTime() - t0 < seconds * 1e9 || units.length < 3

  def close(): Unit = if (g != null) { g.close(); g = null }

  /** Tail percentile with its sample count, for the printed record. */
  def tailOf(name: String, xs: Seq[Double]): Seq[(String, (Double, String))] =
    Stats.tail(xs).toSeq.flatMap { case (pct, v) =>
      Seq(s"${name}_tail_ms" -> (v, s"ms (p$pct)"), s"${name}_samples" -> (xs.length.toDouble, "count"))
    }
}

object Workload {
  val names = Seq("ingest", "serve")

  def apply(name: String, c: Ctx): Workload = name match {
    case "ingest" => new Ingest(c)
    case "serve" => new Serve(c)
  }

  val e2eNames = Seq("setup_s", "op_p50_ms", "throughput_per_s", "recall_at_10",
    "write_amp", "space_amp", "heap_mb")
  val e2eUnits = Map("setup_s" -> "s", "op_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "recall_at_10" -> "ratio", "write_amp" -> "ratio", "space_amp" -> "ratio", "heap_mb" -> "MB")

  /** Facade operations the Spark listener attributes work to. */
  val sparkOps = Seq("upsert", "search", "search_pq", "search_pq_batch", "maintain", "open")

  def layerUnit(k: String): String =
    if (k.contains("_ms")) "ms"
    else if (k.endsWith("_mb")) "MB"
    else if (k.contains("bytes")) "bytes"
    else "count"
}

/** Write path with read-your-writes. A fresh store whose layout is
  * trained in set-up takes `max_upsert_batch`-row batches in the
  * proportions of the repo's mutation fixture (`MutationLog.deterministicLog`:
  * every id inserted, every 5th upserted again, every 10th deleted, so
  * 10 new ids : 2 last-writer-wins overwrites : 1 delete), and each
  * cycle reads its own writes back: the first `search` after the write
  * pays the serving-index rebuild, the rest are self-queries and a query
  * at a deleted row's old vector. Set-up runs untimed warm-up cycles of
  * the same shape; the window is a fixed number of cycles, so every run
  * writes and compacts the same amount of data, and one `maintain()`
  * pass closes it.
  */
final class Ingest(c0: Ctx) extends Workload(c0) {
  import Main.Geometry._

  private val gen = new Gen(c.args.seed, dim, centres, sigma)
  private var nextId = 0
  private val readAfterWrite = ArrayBuffer.empty[Double]
  private val steadySearch = ArrayBuffer.empty[Double]
  private val recalls = ArrayBuffer.empty[Double]
  private var mutations = 0L
  private var firstBatch: Seq[Gen.Mutation] = Nil
  private var lastBatch: Seq[Gen.Mutation] = Nil
  private val deletedIds = ArrayBuffer.empty[Int]

  private def fresh(): Gen.Mutation = { val m = Gen.Mutation(nextId, gen.point()); nextId += 1; m }

  /** New ids, overwrites and deletes of distinct live ids, 10 : 2 : 1. */
  private def nextBatch(): Seq[Gen.Mutation] = {
    val nOver = batch * 2 / 13
    val nDel = batch / 13
    val taken = mutable.HashSet.empty[Int]
    def pickLive(): Int = {
      var n = gen.nextInt(nextId)
      while (!model.isLive(n) || taken.contains(n)) n = gen.nextInt(nextId)
      taken += n; n
    }
    val over = Seq.fill(nOver)(Gen.Mutation(pickLive(), gen.point()))
    val del = Seq.fill(nDel)(Gen.Mutation(pickLive(), null))
    Seq.fill(batch - nOver - nDel)(fresh()) ++ over ++ del
  }

  def setup(): Unit = {
    open()
    firstBatch = Seq.fill(batch)(fresh())
    phase("setup.first_upsert_s")(upsert(firstBatch)) // trains and persists the centroid layout
    // the first cycles after a cold start run while the JIT still compiles
    // the write and rebuild paths, and cost a quarter more than later ones
    phase("setup.warmup_cycles_s")((0 until Ingest.warmupCycles).foreach(runCycle(_, timed = false)))
    c.calls.clear()
  }

  def window(seconds: Int): Unit = {
    val t0 = System.nanoTime()
    (0 until Ingest.cycles).foreach(i => runCycle(Ingest.warmupCycles + i, timed = true))
    // the write phase ends with one maintenance pass; once two cycles
    // have flushed, more delta segments than max_segments_per_leaf exist
    // and it compacts
    countingWal(c.call("maintain")(g.maintain()))
    windowS = (System.nanoTime() - t0) / 1e9
  }

  /** One write-then-read-back cycle; its latency excludes the checks.
    * An untimed cycle is checked but records no samples.
    */
  private def runCycle(cycle: Int, timed: Boolean): Unit = {
    val b = nextBatch()
    val newRow = b.head
    val over = b.find(m => !m.deleted && m.n < newRow.n)
    val del = b.find(_.deleted)
    val oldVec = del.flatMap(d => model.get(d.n))
    val probe = gen.point()
    val tc = System.nanoTime()
    val (r1, rest) = c.tracer.span("cycle") {
      upsert(b)
      val t1 = System.nanoTime()
      val r1 = c.call("search")(g.search(newRow.vec.map(_.toFloat), k))
      if (timed) readAfterWrite += ms(t1)
      val rest = (over.map(_.vec).toSeq ++ oldVec.toSeq :+ probe).map { q =>
        val t2 = System.nanoTime()
        val r = c.call("search")(g.search(q.map(_.toFloat), k))
        if (timed) steadySearch += ms(t2)
        q -> r
      }
      (r1, rest)
    }
    if (timed) {
      units += ms(tc)
      mutations += b.length
    }
    lastBatch = b
    deletedIds ++= b.filter(_.deleted).map(_.n)
    c.check(r1.headOption.exists(_._1 == hash(newRow.n)),
      s"cycle $cycle: self-query of just-written ${Gen.idOf(newRow.n)} not at rank 1")
    over.foreach { o =>
      c.check(rest.head._2.headOption.exists(_._1 == hash(o.n)),
        s"cycle $cycle: self-query of overwritten ${Gen.idOf(o.n)} not at rank 1")
    }
    del.foreach { d =>
      (r1 +: rest.map(_._2)).foreach { r =>
        c.check(!r.exists(_._1 == hash(d.n)), s"cycle $cycle: deleted ${Gen.idOf(d.n)} returned")
      }
    }
    if (timed) ((newRow.vec -> r1) +: rest).foreach { case (q, r) =>
      recalls += recallAt(r, model.exactTopK(q, k, hash))
    }
  }

  def checks(): Unit = {
    import org.apache.spark.sql.functions.col
    val live = g.liveView
    val n = live.count()
    c.check(n == model.liveCount, s"liveView holds $n rows, the LWW model ${model.liveCount}")
    val rnd = new java.util.Random(c.args.seed ^ 0x5DEECE66DL)
    val liveIds = model.liveIds
    val sample = Seq.fill(64)(liveIds(rnd.nextInt(liveIds.length))).distinct
    val deadSample = new scala.util.Random(c.args.seed)
      .shuffle(deletedIds.filterNot(model.isLive).toSeq).take(32)
    val got = live.filter(col("id").isin((sample ++ deadSample).map(Gen.idOf): _*))
      .select(col("id"), col("id_hash"), col("vec").cast("array<double>"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Double](2).toArray)).toMap
    sample.foreach { i =>
      val ok = got.get(Gen.idOf(i)).exists { case (h, v) =>
        h == hash(i) && java.util.Arrays.equals(v, model.get(i).get) }
      c.check(ok, s"liveView row for ${Gen.idOf(i)} differs from the LWW model")
    }
    deadSample.foreach(i => c.check(!got.contains(Gen.idOf(i)), s"deleted ${Gen.idOf(i)} is live"))
    val recall = mean(recalls.toSeq)
    c.check(recall >= 0.9, f"raw-door recall@10 $recall%.3f below the 0.90 floor")
  }

  def headline(): (Double, Double, Double) =
    (Stats.median(units.toSeq), mutations / windowS, mean(recalls.toSeq))

  def named(): Seq[(String, (Double, String))] = {
    val up = c.calls("upsert").toSeq
    Seq(
      "ingest_ops_per_s" -> (mutations / (up.sum / 1e3), "ops/s"),
      "cycles" -> (units.length.toDouble, "count"),
      "upsert_p50_ms" -> (Stats.median(up), "ms"),
      "maintain_s" -> (c.calls.get("maintain").map(m => Stats.median(m.toSeq) / 1e3).getOrElse(Double.NaN), "s"),
      "read_after_write_ms" -> (Stats.median(readAfterWrite.toSeq), "ms"),
      "search_p50_ms" -> (Stats.median(steadySearch.toSeq), "ms")) ++
      tailOf("search", steadySearch.toSeq)
  }

  def layers(): Map[String, Double] = {
    val queries = Seq.fill(3)(gen.point())
    Layers.probe(c, this, lastBatch, firstBatch, queries, warmMs = None)
  }

  def unitCost(l: Map[String, Double]): Seq[(String, Double)] = {
    val searchesPerCycle = 4.0
    // one compaction per window, spread over its cycles
    Seq(
      "ingest.validate" -> l("ingest.validate_ms"),
      "index.assign" -> l("index.assign_ms"),
      "streaming.wal" -> (l("streaming.wal_encode_ms") + l("streaming.wal_append_ms")),
      "segments.flush" -> l("segments.flush_ms"),
      "segments.catalog" -> l("segments.catalog_ms"),
      "index.serving_build" -> l("index.serving_build_ms"),
      "index.ivf_search" -> searchesPerCycle * l("index.ivf_search_ms"),
      "segments.compact" -> l("segments.compact_ms") / units.length)
  }
}

object Ingest {
  /** Untimed cycles in set-up, then timed cycles in the window: fixed
    * counts, whatever the cycles take and whatever `--seconds` says.
    */
  val warmupCycles = 1
  val cycles = 6
}

object Serve {
  /** Stream queries the raw door's recall is measured on after the window. */
  val rawRecallQueries = 32
}

/** Read path. A store built in set-up, compacted and with its PQ tier
  * warmed, serves a seeded stream of query groups: each round sends its
  * group's first query through the raw IVF door (`search`) and the PQ
  * door (`searchPq`), and the whole group through the batch door
  * (`searchPqBatch` at `max_query_batch`) — one call per door. After
  * the window the raw door answers the first `rawRecallQueries` of the
  * stream, for its recall, and the window's queries asked again must get
  * the same answers on both doors. Nothing writes, so no rebuild runs. Then the store is
  * closed and reopened, and the PQ door answers the same queries from
  * the adopted codes tree.
  */
final class Serve(c0: Ctx) extends Workload(c0) {
  import Main.Geometry._

  private val gen = new Gen(c.args.seed, dim, centres, sigma)
  private val nQueries = serveGroups * queryBatch // query qi + serveGroups·j is in group qi
  private var queries: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private var exact: IndexedSeq[Array[(Long, Double)]] = IndexedSeq.empty
  private var corpus: Seq[Gen.Mutation] = Nil
  private var warmMs = 0.0
  private var answered = 0L
  private val rawRecall = ArrayBuffer.empty[Double]
  private val pqRecall = ArrayBuffer.empty[Double]
  private val rawResults = mutable.HashMap.empty[Int, Array[(Long, Double)]]
  private val pqResults = mutable.LinkedHashMap.empty[Int, Array[(Long, Double)]]
  private val restartMs = ArrayBuffer.empty[Double]
  private var openS = Double.NaN
  private var routes = (0L, 0L, 0L)
  private var restartRoutes = (0L, 0L, 0L)
  private var mixedRoutes = 0L

  def setup(): Unit = {
    open()
    corpus = (0 until serveCorpus).map(n => Gen.Mutation(n, gen.point()))
    phase("setup.build_s")(corpus.grouped(batch).foreach(upsert))
    phase("setup.compact_s")(countingWal(g.compact()))
    phase("setup.pq_warm_s")(g.warmPqTier())
    warmMs = setupPhases("setup.pq_warm_s") * 1e3
    queries = IndexedSeq.fill(nQueries)(gen.point())
    exact = queries.map(q => model.exactTopK(q, k, hash))
    // warm-up rounds on queries outside the stream: the first request of
    // each door builds the raw serving index, and the JIT settles over
    // the next
    phase("setup.warmup_rounds_s")((0 until 2).foreach { _ =>
      val ws = Seq.fill(queryBatch)(gen.point().map(_.toFloat))
      g.search(ws.head, k); g.searchPq(ws.head, k); g.searchPqBatch(ws, k)
    })
    c.calls.clear()
  }

  private def f(q: Array[Double]) = q.map(_.toFloat)

  def window(seconds: Int): Unit = {
    val r0 = g.pqDoorRoutes
    val m0 = g.pqDoorMixedServes + g.pqDoorMixedStoredServes
    val t0 = System.nanoTime()
    var round = 0
    while (inWindow(t0, seconds)) {
      val qi = round % serveGroups
      val bIdx = (0 until queryBatch).map(j => qi + serveGroups * j)
      val tr = System.nanoTime()
      val (raw, pq, pqb) = c.tracer.span("round") {
        val raw = c.call("search")(g.search(f(queries(qi)), k))
        val pq = c.call("search_pq")(g.searchPq(f(queries(qi)), k))
        val pqb = c.call("search_pq_batch")(g.searchPqBatch(bIdx.map(i => f(queries(i))), k))
        (raw, pq, pqb)
      }
      units += ms(tr)
      answered += 2 + bIdx.length
      pqRecall += recallAt(pq, exact(qi))
      bIdx.zip(pqb).foreach { case (i, r) => pqRecall += recallAt(r, exact(i)) }
      c.check(sameResult(pqb.head, pq), s"round $round: batch door differs from searchPq for query $qi")
      rawResults.getOrElseUpdate(qi, raw)
      pqResults.getOrElseUpdate(qi, pq)
      round += 1
    }
    windowS = (System.nanoTime() - t0) / 1e9
    val r1 = g.pqDoorRoutes
    routes = (r1._1 - r0._1, r1._2 - r0._2, r1._3 - r0._3)
    mixedRoutes = g.pqDoorMixedServes + g.pqDoorMixedStoredServes - m0
  }

  private def sameResult(a: Array[(Long, Double)], b: Array[(Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x._1 == y._1 && x._2 == y._2 }

  def checks(): Unit = {
    // the raw door's recall over more queries than the window's one per
    // round; nothing writes, so a query the window asked gets the same answer
    (0 until Serve.rawRecallQueries).foreach { qi =>
      val r = g.search(f(queries(qi)), k)
      rawRecall += recallAt(r, exact(qi))
      rawResults.get(qi).foreach(prev => c.check(sameResult(prev, r), s"search for query $qi changed"))
    }
    pqResults.take(4).foreach { case (qi, prev) =>
      c.check(sameResult(g.searchPq(f(queries(qi)), k), prev), s"searchPq for query $qi changed")
    }
    val raw = mean(rawRecall.toSeq)
    val pq = mean(pqRecall.toSeq)
    c.check(raw >= 0.9, f"raw-door recall@10 $raw%.3f below the 0.90 floor")
    c.check(pq >= 0.85, f"PQ-door recall@10 $pq%.3f below the 0.85 floor")
    // restart: the same store, reopened, must answer the PQ door with the
    // values the warmed tier gave, from the adopted codes tree
    g.close()
    val t = System.nanoTime()
    g = c.call("open")(graft.Graft.open(c.spark, store, c.cfg))
    openS = ms(t) / 1e3
    pqResults.take(4).foreach { case (qi, want) =>
      val t1 = System.nanoTime()
      val got = c.call("search_pq")(g.searchPq(f(queries(qi)), k))
      restartMs += ms(t1)
      c.check(sameResult(got, want), s"restart: searchPq for query $qi differs from the warmed tier")
    }
    restartRoutes = g.pqDoorRoutes
    mixedRoutes += g.pqDoorMixedServes + g.pqDoorMixedStoredServes
    c.check(restartRoutes._3 > 0, s"restart: no request served from the adopted codes tree ($restartRoutes)")
  }

  def headline(): (Double, Double, Double) =
    // the weaker door: a drop on either one shows at full size
    (Stats.median(units.toSeq), answered / windowS,
      math.min(mean(rawRecall.toSeq), mean(pqRecall.toSeq)))

  def named(): Seq[(String, (Double, String))] = {
    val s = c.calls("search").toSeq
    val pq = c.calls("search_pq").toSeq.take(units.length)
    val pqb = c.calls("search_pq_batch").toSeq
    Seq("rounds" -> (units.length.toDouble, "count"),
      "search_p50_ms" -> (Stats.median(s), "ms")) ++ tailOf("search", s) ++
      Seq("search_pq_p50_ms" -> (Stats.median(pq), "ms")) ++ tailOf("search_pq", pq) ++
      Seq("search_pq_batch_qps" -> (queryBatch / (Stats.median(pqb) / 1e3), "q/s"),
        "raw_recall_at_10" -> (mean(rawRecall.toSeq), "ratio"),
        "pq_recall_at_10" -> (mean(pqRecall.toSeq), "ratio"),
        "open_s" -> (openS, "s"),
        "restart_search_pq_p50_ms" -> (Stats.median(restartMs.toSeq), "ms"))
  }

  def layers(): Map[String, Double] = {
    val l = Layers.probe(c, this, corpus.takeRight(batch), corpus.take(batch),
      queries.take(3), warmMs = Some(warmMs))
    l ++ Map("index.pq_route_local" -> (routes._1 + restartRoutes._1).toDouble,
      "index.pq_route_dist" -> (routes._2 + restartRoutes._2).toDouble,
      "index.pq_route_stored" -> (routes._3 + restartRoutes._3).toDouble,
      "index.pq_route_mixed" -> mixedRoutes.toDouble)
  }

  def unitCost(l: Map[String, Double]): Seq[(String, Double)] = Seq(
    "index.ivf_search" -> l("index.ivf_search_ms"),
    // phase 2 of the single door and of the batch door
    "segments.point_lookup" -> 2 * l("segments.point_lookup_ms"),
    "segments.catalog" -> 2 * l("segments.catalog_ms"))
}
