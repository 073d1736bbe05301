package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Per-group bounded top-k (SURVEY Q9, reference types.h:69,118-119).
  *
  * Two strategies with identical semantics (ties broken score DESC, id ASC):
  *
  *  - [[viaWindow]]: `row_number` over a window — simple, but shuffles every
  *    scored row to the reducer that owns its query_id. Fine at test scale.
  *  - [[viaAggregator]]: a typed [[Aggregator]] with a bounded primitive
  *    heap. Because it is a real Catalyst aggregate, Spark runs it as
  *    partial-aggregation: each map task reduces its local rows to ≤k
  *    candidates per query *before* the shuffle, so shuffle volume is
  *    O(queries × k × partitions), independent of data size. This is the
  *    100 TB-scale path (a window sort would shuffle every scored row).
  *
  * The heap buffer is two primitive arrays behind a product encoder
  * (UnsafeRow binary arrays — no kryo, no boxing); insert is O(log k)
  * sift, k ≤ 100 (reference config.h:130).
  */
object TopK {

  case class Scored(id: Long, score: Double)

  /** Min-heap on "quality": root = worst of the kept k. */
  case class Heap(k: Int, n: Int, ids: Array[Long], scores: Array[Double])

  /** `(score desc, id asc)` dominance: does (s1,i1) beat (s2,i2)?
    * Uses java.lang.Double.compare — the same total order Spark SQL gives
    * a window's ORDER BY (NaN greatest, -0.0 < 0.0) — so the aggregator
    * and window strategies agree even on NaN scores (e.g. cosine of a
    * zero vector).
    */
  @inline private def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  private def siftUp(h: Heap, start: Int): Unit = {
    var i = start
    while (i > 0) {
      val p = (i - 1) >> 1
      // parent must be worse-or-equal than child (min-heap on quality)
      if (beats(h.scores(p), h.ids(p), h.scores(i), h.ids(i))) {
        val ts = h.scores(i); val ti = h.ids(i)
        h.scores(i) = h.scores(p); h.ids(i) = h.ids(p)
        h.scores(p) = ts; h.ids(p) = ti
        i = p
      } else i = 0
    }
  }

  private def siftDown(h: Heap): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = l + 1
      var worst = i
      if (l < h.n && beats(h.scores(worst), h.ids(worst), h.scores(l), h.ids(l)))
        worst = l
      if (r < h.n && beats(h.scores(worst), h.ids(worst), h.scores(r), h.ids(r)))
        worst = r
      if (worst == i) done = true
      else {
        val ts = h.scores(i); val ti = h.ids(i)
        h.scores(i) = h.scores(worst); h.ids(i) = h.ids(worst)
        h.scores(worst) = ts; h.ids(worst) = ti
        i = worst
      }
    }
  }

  private def insert(h: Heap, id: Long, score: Double): Heap =
    if (h.n < h.k) {
      h.ids(h.n) = id; h.scores(h.n) = score
      val h2 = h.copy(n = h.n + 1)
      siftUp(h2, h2.n - 1)
      h2
    } else if (beats(score, id, h.scores(0), h.ids(0))) {
      h.ids(0) = id; h.scores(0) = score
      siftDown(h)
      h
    } else h

  // shared with the native TypedImperativeAggregate (TopKAggExpr)
  private[graft] def heapInsert(h: Heap, id: Long, score: Double): Heap =
    insert(h, id, score)
  private[graft] def heapMerge(a: Heap, b: Heap): Heap = {
    var h = a
    var i = 0
    while (i < b.n) { h = insert(h, b.ids(i), b.scores(i)); i += 1 }
    h
  }
  private[graft] def beatsPub(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    beats(s1, i1, s2, i2)

  class TopKAgg(k: Int) extends Aggregator[Scored, Heap, Seq[Scored]] {
    override def zero: Heap = Heap(k, 0, new Array[Long](k), new Array[Double](k))
    override def reduce(h: Heap, x: Scored): Heap = insert(h, x.id, x.score)
    override def merge(a: Heap, b: Heap): Heap = {
      var h = a
      var i = 0
      while (i < b.n) { h = insert(h, b.ids(i), b.scores(i)); i += 1 }
      h
    }
    override def finish(h: Heap): Seq[Scored] =
      (0 until h.n).map(i => Scored(h.ids(i), h.scores(i)))
        .sortWith((a, b) => beats(a.score, a.id, b.score, b.id))
    override def bufferEncoder: Encoder[Heap] = Encoders.product[Heap]
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** Window-based top-k per `groupCol`, deterministic ties by (score desc, id asc). */
  def viaWindow(scored: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int, ascending: Boolean = false): DataFrame = {
    val ord: Seq[Column] =
      if (ascending) Seq(col(scoreCol).asc, col(idCol).asc)
      else Seq(col(scoreCol).desc, col(idCol).asc)
    val w = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Aggregator-based top-k: map-side partial aggregation, minimal shuffle.
    * Input columns are (groupCol: long, idCol: long, scoreCol: double);
    * output has the same three columns.
    *
    * Runs as a native `TypedImperativeAggregate` ([[graft.functions.expr
    * .TopKAggExpr]]): update reads (id, score) off the unsafe row — no
    * per-row object, no encoder round-trip (the typed-Aggregator form's
    * `AppendColumns` allocated a `Scored` per scored pair).
    */
  def viaAggregator(scored: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val agg = GraftBridge.column(
      graft.functions.expr.TopKAggExpr(
        GraftBridge.expression(col(idCol)),
        GraftBridge.expression(col(scoreCol)),
        k).toAggregateExpression())
    scored
      // casts live in this (codegen) projection, so the aggregate's
      // children bind to plain long/double attributes and update() reads
      // primitives straight off the row
      .select(col(groupCol).cast("long").as(groupCol),
        col(idCol).cast("long").as(idCol),
        col(scoreCol).cast("double").as(scoreCol))
      .groupBy(col(groupCol))
      .agg(agg.as("topk"))
      .select(col(groupCol), explode(col("topk")).as("s"))
      .select(col(groupCol), col("s.id").as(idCol), col("s.score").as(scoreCol))
  }

  /** THE bounded best-first top-k kernel with the engine-wide
    * (score best, id ascending) tie contract — single definition shared
    * by the serving scan (`ServingIndex.scanTopK`), the
    * local cache tiers, and the bulk exact-KNN kernel, so the rank
    * order every oracle equivalence depends on cannot silently diverge
    * between paths. Insertion-sorted arrays: k is small (reference
    * max_top_k 100, config.h:180), insertion beats a heap and allocates
    * nothing per candidate.
    */
  final class Bounded(k: Int, asc: Boolean) extends Serializable {
    // k <= 0 is a degenerate but legal request size (the reference's
    // guardrail contract answers it with an empty result, never a task
    // crash) — every serving tier shares this kernel, so clamping here
    // covers search/searchBatch, local and PQ paths alike.
    private val cap = math.max(k, 0)
    private val scores = new Array[Double](cap)
    private val ids = new Array[Long](cap)
    private var size = 0
    private def better(s: Double, id: Long, j: Int): Boolean = {
      val sj = scores(j)
      if (asc) s < sj || (s == sj && id < ids(j))
      else s > sj || (s == sj && id < ids(j))
    }
    def insert(s: Double, id: Long): Unit = {
      if (cap == 0) return
      if (size < cap || better(s, id, cap - 1)) {
        var p = if (size < cap) size else cap - 1
        scores(p) = s; ids(p) = id
        while (p > 0 && better(scores(p), ids(p), p - 1)) {
          val ts = scores(p); val ti = ids(p)
          scores(p) = scores(p - 1); ids(p) = ids(p - 1)
          scores(p - 1) = ts; ids(p - 1) = ti
          p -= 1
        }
        if (size < cap) size += 1
      }
    }
    def result(): Array[(Long, Double)] = {
      val out = new Array[(Long, Double)](size)
      var j = 0
      while (j < size) { out(j) = (ids(j), scores(j)); j += 1 }
      out
    }
  }

  /** Top-n SELECTION over parallel primitive (id, score) arrays under
    * the same engine-wide (score best, id ascending) contract as
    * [[Bounded]] — for the DEEP-fetch regime [[Bounded]] is wrong for:
    * its insertion array is O(n) per qualifying insert, unbeatable at
    * k ≲ 100 and pathological when a two-phase rerank fetches
    * thousands of phase-1 candidates (n a large fraction of the
    * scanned pool ⇒ most inserts qualify and each shifts ~n/2 slots).
    * Quickselect partition to rank n, then sort only the winning
    * prefix: O(total + n·log n). Mutates `ids`/`scores` in place and
    * returns the result length (min(n, total)); the winners occupy
    * `[0, len)` in final rank order.
    */
  def selectTopN(ids: Array[Long], scores: Array[Double], total: Int,
      n: Int, asc: Boolean): Int = {
    val want = math.max(0, math.min(n, total))
    if (want == 0) return 0
    // rank order: a before b iff score better, ties to the lower id
    @inline def before(i: Int, j: Int): Boolean = {
      val si = scores(i); val sj = scores(j)
      (if (asc) si < sj else si > sj) || (si == sj && ids(i) < ids(j))
    }
    @inline def swap(i: Int, j: Int): Unit = {
      val ts = scores(i); scores(i) = scores(j); scores(j) = ts
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    }
    // Hoare-style quickselect: shrink [lo, hi] around rank `want - 1`
    var lo = 0
    var hi = total - 1
    while (lo < hi) {
      // median-of-three pivot, moved to lo
      val mid = lo + (hi - lo) / 2
      if (before(mid, lo)) swap(mid, lo)
      if (before(hi, lo)) swap(hi, lo)
      if (before(hi, mid)) swap(hi, mid)
      swap(lo, mid)
      val p = lo
      var i = lo + 1
      var j = hi
      while (i <= j) {
        while (i <= j && before(i, p)) i += 1
        while (i <= j && before(p, j)) j -= 1
        if (i < j) { swap(i, j); i += 1; j -= 1 }
        else if (i == j) { i += 1 }
      }
      swap(p, j)
      if (j == want - 1) { lo = hi } // partitioned exactly at the cut
      else if (j > want - 1) hi = j - 1
      else lo = j + 1
    }
    // final rank order for the winners only
    sortRange(ids, scores, 0, want, asc)
    want
  }

  /** Dual-array quicksort of `[from, until)` under the shared contract
    * (insertion sort below 32 elements).
    */
  private def sortRange(ids: Array[Long], scores: Array[Double],
      from: Int, until: Int, asc: Boolean): Unit = {
    @inline def before(i: Int, j: Int): Boolean = {
      val si = scores(i); val sj = scores(j)
      (if (asc) si < sj else si > sj) || (si == sj && ids(i) < ids(j))
    }
    @inline def swap(i: Int, j: Int): Unit = {
      val ts = scores(i); scores(i) = scores(j); scores(j) = ts
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    }
    if (until - from < 32) {
      var i = from + 1
      while (i < until) {
        var p = i
        while (p > from && before(p, p - 1)) { swap(p, p - 1); p -= 1 }
        i += 1
      }
      return
    }
    val mid = from + (until - from) / 2
    val last = until - 1
    if (before(mid, from)) swap(mid, from)
    if (before(last, from)) swap(last, from)
    if (before(last, mid)) swap(last, mid)
    swap(from, mid)
    val p = from
    var i = from + 1
    var j = last
    while (i <= j) {
      while (i <= j && before(i, p)) i += 1
      while (i <= j && before(p, j)) j -= 1
      if (i < j) { swap(i, j); i += 1; j -= 1 }
      else if (i == j) i += 1
    }
    swap(p, j)
    sortRange(ids, scores, from, j, asc)
    sortRange(ids, scores, j + 1, until, asc)
  }
}
