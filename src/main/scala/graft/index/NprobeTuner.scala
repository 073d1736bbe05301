package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Knn

/** Q13: nprobe auto-tune — offline calibration replacing the reference's
  * runtime feedback loop (config.h:138-147: adapt nprobe within bounds to
  * hit recall target 0.95 over decision windows).
  *
  * Batch engines don't need the control loop: sweep nprobe over a query
  * sample, measure recall@k against the exact oracle, pick the smallest
  * nprobe meeting target. The sweep shares one exact top-k and one
  * centroid ranking; each candidate nprobe is a prefix of the same probe
  * list, so the whole calibration is queries×nlist scored rows + one scan
  * per candidate.
  */
object NprobeTuner {

  /** recall@k per candidate nprobe. Output: (nprobe, recall). */
  def sweep(spark: SparkSession, data: DataFrame, queries: DataFrame,
      centroids: DataFrame, metric: String, k: Int,
      candidates: Seq[Int]): DataFrame = {
    import spark.implicits._
    val assigned = Ivf.assign(data, centroids).cache()
    val exact = Knn.exactBatch(queries, data, metric, k)
      .select("query_id", "vec_id").cache()
    val nQueries = queries.count().toDouble
    // candidate widths are independent measurements — run them as
    // concurrent jobs (guide §2.6); results keep the candidate order
    val rows = graft.operators.Parallelism.parRequests(candidates) { np =>
      val ivf = Ivf.search(assigned, queries, centroids, metric, k, np)
        .select("query_id", "vec_id")
      val hits = exact.join(ivf, Seq("query_id", "vec_id")).count()
      (np, hits / (nQueries * k))
    }
    rows.toDF("nprobe", "recall")
  }

  /** Smallest candidate nprobe whose recall meets `target`; falls back to
    * the largest candidate (reference clamps to its upper bound).
    */
  def pick(swept: DataFrame, target: Double): Int = {
    val rows = swept.orderBy(col("nprobe")).collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    rows.find(_._2 >= target).map(_._1).getOrElse(rows.last._1)
  }

  /** Reference decision-window retention: 1 h (config.h:146). */
  val defaultDecisionWindowMs: Long = 3600L * 1000

  /** Persist a controller's window-boundary decisions
    * (config.h:145 `persist_decisions = true`) as an APPEND to a
    * parquet decision log — restarts and other replicas resume from it
    * via [[resumeNprobe]]. `tsMillis` stamps this flush (wall clock of
    * the caller — the engine never reads clocks implicitly).
    */
  def persistDecisions(spark: SparkSession, path: String,
      decisions: Seq[NprobeDecision], tsMillis: Long): Unit = {
    if (decisions.isEmpty) return
    import spark.implicits._
    decisions.toDF()
      .withColumn("ts_millis", lit(tsMillis))
      .select("ts_millis", "window", "nprobe", "avgRecall", "met")
      .coalesce(1)
      .write.mode("append").parquet(path)
  }

  /** Resume seed after a restart: the nprobe of the LATEST persisted
    * decision no older than `windowMs` (config.h:146
    * `decision_window_hours` — staler decisions describe a corpus that
    * has since drifted, so the controller cold-starts instead). Feed
    * the result to `AdaptiveNprobe(start = ...)`.
    */
  def resumeNprobe(spark: SparkSession, path: String, nowMillis: Long,
      windowMs: Long = defaultDecisionWindowMs): Option[Int] = {
    // ONLY a missing log means cold-start; a corrupt/unreadable log is
    // real damage and must surface, not silently discard the persisted
    // decision the restart contract depends on. Existence is probed
    // explicitly through the Hadoop FS (matching an AnalysisException
    // message substring would tie cold-start detection to one Spark
    // version's error-class wording).
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hp)) return None // no log yet
    val df = spark.read.parquet(path)
    df.filter(col("ts_millis") >= lit(nowMillis - windowMs))
      .orderBy(col("ts_millis").desc, col("window").desc)
      .select("nprobe").limit(1).collect()
      .headOption.map(_.getInt(0))
  }
}

/** RUNTIME nprobe adaptation — the reference's TuningConfig feedback loop
  * (config.h:138-147: recall_target 0.95, per-tier bands delta [4,8] /
  * stable [8,16], 1 h decision windows), complementing the offline
  * calibration sweep above. Fed by sampled per-request recall; at each
  * window boundary it steps nprobe within [lo, hi]:
  *
  *  - under target → jump back to the last setting that met target if
  *    one is known (it met target a window ago — no overshoot), else
  *    double toward hi (recover recall fast on a cold start); the
  *    failing nprobe is remembered as the known floor;
  *  - at or above target + margin → step down by one (reclaim latency
  *    slowly), but never INTO the known floor — together with the
  *    jump-back this kills the classic sawtooth where a controller
  *    repeatedly re-falls into the same insufficient setting or
  *    round-trips to the band ceiling after each re-fall;
  *  - the floor memory expires after `probeEvery` windows so a drifting
  *    corpus that got EASIER is eventually re-probed (the reference's
  *    fresh decision windows achieve the same).
  *
  * Decisions are recorded per window ([[decisions]]) and persist/resume
  * across restarts via [[NprobeTuner.persistDecisions]] /
  * [[NprobeTuner.resumeNprobe]] (config.h:145-146).
  *
  * Deterministic given the observation stream; O(1) control state.
  */
final class AdaptiveNprobe(val lo: Int, val hi: Int,
    target: Double = 0.95, window: Int = 50, margin: Double = 0.02,
    probeEvery: Int = 24, start: Option[Int] = None) {
  require(lo >= 1 && hi >= lo, s"band [$lo, $hi]")
  private var np = math.min(hi, math.max(lo, start.getOrElse(lo)))
  private var sum = 0.0
  private var n = 0
  private var floorNp = 0 // highest nprobe known insufficient (0 = none)
  private var lastGood = 0 // most recent nprobe that met target (0 = none)
  private var windowsSinceFail = 0
  private var windowIdx = 0L
  private val log =
    scala.collection.mutable.ArrayBuffer.empty[NprobeDecision]

  def current: Int = np

  /** Window-boundary decisions made so far (config.h:145
    * `persist_decisions` — the record a restart resumes from; see
    * [[NprobeTuner.persistDecisions]]/[[NprobeTuner.resumeNprobe]]).
    * Each entry carries the window's observed average recall and the
    * nprobe chosen AT that boundary (i.e. the setting the next window
    * runs at).
    */
  def decisions: Seq[NprobeDecision] = log.toSeq

  /** Return the decisions recorded since the last drain and CLEAR them —
    * the incremental-persistence form: a periodic flusher calls
    * `persistDecisions(spark, path, ctl.drainDecisions(), now)` and the
    * append-mode log carries each decision exactly once (re-persisting
    * `decisions` every flush would duplicate the whole history), while
    * the controller's memory stays bounded across an arbitrarily long
    * serving life.
    */
  def drainDecisions(): Seq[NprobeDecision] = {
    val out = log.toSeq
    log.clear()
    out
  }

  /** Feed one sampled recall observation (|approx ∩ reference| / k). */
  def observe(recall: Double): Unit = {
    sum += recall; n += 1
    if (n >= window) {
      val avg = sum / n
      sum = 0.0; n = 0
      val met = avg >= target
      if (!met) {
        floorNp = math.max(floorNp, np)
        windowsSinceFail = 0
        np =
          if (lastGood > np) lastGood
          else math.min(hi, math.max(np + 1, np * 2))
      } else {
        lastGood = np
        windowsSinceFail += 1
        if (windowsSinceFail >= probeEvery) {
          floorNp = 0 // age out: re-probe a possibly easier corpus
          windowsSinceFail = 0
        }
        if (avg >= target + margin && np - 1 > math.max(floorNp, lo - 1))
          np -= 1
      }
      log += NprobeDecision(windowIdx, np, avg, met)
      windowIdx += 1
    }
  }
}

/** One controller decision at a window boundary: the average sampled
  * recall the closing window observed, whether it met target, and the
  * nprobe chosen for the NEXT window.
  */
final case class NprobeDecision(window: Long, nprobe: Int,
    avgRecall: Double, met: Boolean)

/** [[ServingIndex]] wrapped in the runtime controller: every
  * `sampleEvery`-th request is re-answered at the band ceiling `hi` and
  * the observed overlap feeds [[AdaptiveNprobe]]. The ceiling is the
  * quality reference ON PURPOSE: the band's own upper bound is what the
  * controller may spend, so recall-vs-ceiling is the exactly-attainable
  * target (absolute recall belongs to the offline sweep, Q13), and the
  * sample stays cap-safe at any corpus size. Sampling cost: one extra
  * hi-probe request per `sampleEvery` requests.
  */
sealed abstract class AdaptiveServingBase(lo: Int, hi: Int,
    target: Double, window: Int, margin: Double, probeEvery: Int,
    sampleEvery: Int, start: Option[Int]) {
  protected val ctl = new AdaptiveNprobe(lo, hi, target, window, margin,
    probeEvery, start)
  protected val ceiling: Int = hi
  private var reqs = 0L

  def currentNprobe: Int = ctl.current

  /** The wrapped controller's decision log, for persistence
    * ([[NprobeTuner.persistDecisions]]).
    */
  def decisions: Seq[NprobeDecision] = ctl.decisions

  /** Drain-and-clear for incremental persistence
    * ([[AdaptiveNprobe.drainDecisions]]).
    */
  def drainDecisions(): Seq[NprobeDecision] = ctl.drainDecisions()

  /** One controlled request: issue at the tuned nprobe, and every
    * `sampleEvery`-th request re-issue THROUGH THE SAME `run` at the
    * band ceiling to feed the controller — all request variants (plain,
    * filtered, either overlay form, local tier) share this one
    * feedback block.
    */
  protected def serveAndSample(
      run: Int => Array[(Long, Double)]): Array[(Long, Double)] = {
    val res = run(ctl.current)
    reqs += 1
    if (reqs % sampleEvery == 0) {
      val ref = run(ceiling)
      if (ref.nonEmpty) {
        val got = res.iterator.map(_._1).toSet
        ctl.observe(ref.count(r => got(r._1)).toDouble / ref.length)
      }
    }
    res
  }
}

final class AdaptiveServingIndex(val index: ServingIndex, lo: Int, hi: Int,
    target: Double = 0.95, window: Int = 50, margin: Double = 0.02,
    probeEvery: Int = 24, sampleEvery: Int = 10,
    start: Option[Int] = None)
  extends AdaptiveServingBase(lo, hi, target, window, margin, probeEvery,
    sampleEvery, start) {

  def search(q: Array[Float], k: Int,
      filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] =
    serveAndSample(np => index.search(q, k, np, filter))

  /** Tiered request under the controller: the live serving loop composes
    * runtime nprobe tuning with the read-your-writes overlay (and any
    * filter), so the recall sample must ride the SAME tiered path — a
    * plain-path reference would score the stored world against the live
    * one and mis-steer the controller whenever the buffer carries the
    * true neighbors.
    */
  def searchWithOverlay(q: Array[Float], k: Int, overlay: ServingOverlay,
      filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] =
    serveAndSample(np => index.searchWithOverlay(q, k, np, overlay, filter))

  /** Same, over the distributed overlay. */
  def searchWithOverlay(q: Array[Float], k: Int,
      overlay: DistributedServingOverlay,
      filter: ServingFilter): Array[(Long, Double)] =
    serveAndSample(np => index.searchWithOverlay(q, k, np, overlay, filter))
}

/** The runtime controller over the DRIVER-RESIDENT tier
  * ([[LocalServingIndex]]): tuned requests serve locally (with the
  * tier's own fall-through to the distributed index for uncached
  * lists), and the recall sample rides the same local path at the band
  * ceiling — so the controller steers the latency the client actually
  * sees. Composes the reference's tuning loop (config.h:138-147) with
  * its global-index memory cache (yaml:85-89) exactly as the server
  * does: the cache serves, the controller tunes, the store backs both.
  */
final class AdaptiveLocalServingIndex(local: LocalServingIndex,
    lo: Int, hi: Int,
    target: Double = 0.95, window: Int = 50, margin: Double = 0.02,
    probeEvery: Int = 24, sampleEvery: Int = 10,
    start: Option[Int] = None)
  extends AdaptiveServingBase(lo, hi, target, window, margin, probeEvery,
    sampleEvery, start) {

  def search(q: Array[Float], k: Int,
      filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] =
    serveAndSample(np => local.search(q, k, np, filter))

  /** Tiered (read-your-writes) request through the local tier. */
  def searchWithOverlay(q: Array[Float], k: Int, overlay: ServingOverlay,
      filter: ServingFilter = ServingFilter.none): Array[(Long, Double)] =
    serveAndSample(np => local.searchWithOverlay(q, k, np, overlay, filter))
}
