package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.functions.expr.IndexExpressions
import graft.operators.TopK

/** Product quantization + two-phase search (SURVEY B3/Q7/Q8; reference
  * config.h:84-94 — PQ m=96 × 8 bits over dim 768, rerank_factor 4).
  *
  * The driver's embeddings are dim 64, so the engine parameterizes m; the
  * oracle-checked configuration is m=8 subspaces × 8 dims with a
  * deterministic codebook (subvectors of every 50th row). Production
  * codebooks come from per-subspace MLlib KMeans — recall-tested, not
  * hash-matched.
  *
  * Scale shape (the reference's ADC design, re-expressed for Spark):
  *  - codes are ONE `array<int>` column (m indices, 8-32 bytes) — the
  *    phase-1 scan reads codes only (column pruning), never raw vectors;
  *  - encode = m map-side codegen'd argmins ([[IndexExpressions
  *    .nearestIndex]]) — no join, no shuffle, no row explosion;
  *  - per-query LUTs (m×k partial dots) are computed once per query row,
  *    then the broadcast fan-out join scores each (query, vector) pair with
  *    a single m-lookup sum ([[IndexExpressions.pqAdcSum]]) inside
  *    whole-stage codegen;
  *  - phase 2 re-scores only rerank×k candidates per query from raw
  *    vectors via a broadcast semi-join of candidate ids.
  */
object Pq {

  /** Codebook as driver-side matrices: codebooks(j) = k×dsub matrix for
    * subspace j, codeword index order = code_id order (the argmin tie-break).
    */
  final case class Codebook(m: Int, dsub: Int, codeIds: Array[Long],
      codebooks: Array[Array[Array[Double]]])

  /** Order-sensitive 64-bit fold over a codebook's exact double bits —
    * THE quantizer fingerprint every stamp gate shares (the facade's
    * codes-tree stamp, the bench's packed-tier stamp): a retrained
    * quantizer with unchanged list sizes must invalidate stamped
    * artifacts, because stale codes against a new codebook ADC-score
    * silently wrong. One definition so the gates cannot drift apart.
    */
  def codebookFingerprint(cb: Codebook): Long =
    cb.codebooks.foldLeft(17L)((h, book) =>
      book.foldLeft(h)((h2, cw) => cw.foldLeft(h2)((h3, v) =>
        h3 * 31 + java.lang.Double.doubleToLongBits(v))))

  /** Exact binary (de)serialization of a codebook — the restart-durable
    * codes tree persists its quantizer beside its stamp, so a reopened
    * store can ADOPT the tree and serve without retraining (the
    * reference reloads stable segments' codes at restart rather than
    * re-encoding them). Raw double bits, so the round trip is
    * bit-identical and [[codebookFingerprint]] is invariant under it.
    */
  def writeCodebook(out: java.io.DataOutputStream, cb: Codebook): Unit = {
    out.writeInt(0x47434231) // "GCB1"
    out.writeInt(cb.m)
    out.writeInt(cb.dsub)
    out.writeInt(cb.codeIds.length)
    cb.codeIds.foreach(out.writeLong)
    out.writeInt(cb.codebooks.length)
    cb.codebooks.foreach { book =>
      out.writeInt(book.length)
      book.foreach { cw =>
        out.writeInt(cw.length)
        cw.foreach(out.writeDouble)
      }
    }
  }

  def readCodebook(in: java.io.DataInputStream): Codebook = {
    // length fields are UNTRUSTED bytes: a corrupt sidecar whose count
    // decodes huge would drive Array.fill into a multi-GB allocation,
    // and OutOfMemoryError escapes the NonFatal guards around adoption
    // (review-caught) — bound every length before allocating
    def bounded(what: String, max: Int): Int = {
      val n = in.readInt()
      require(n >= 0 && n <= max, s"codebook sidecar corrupt: $what=$n")
      n
    }
    require(in.readInt() == 0x47434231, "not a graft codebook file")
    val m = bounded("m", 1 << 12)
    val dsub = bounded("dsub", 1 << 16)
    val codeIds = Array.fill(bounded("nIds", 1 << 20))(in.readLong())
    val codebooks = Array.fill(bounded("nBooks", 1 << 12)) {
      Array.fill(bounded("k", 1 << 20)) {
        Array.fill(bounded("dims", 1 << 16))(in.readDouble())
      }
    }
    Codebook(m, dsub, codeIds, codebooks)
  }

  /** Per-query ADC lookup table: lut(j)(c) = dot(q_j, codeword(j)(c)),
    * sequential double accumulation per codeword —
    * `IndexExpressions.pqLut`'s arithmetic exactly. ONE definition
    * shared by the driver tier ([[LocalPqIndex]]) and the distributed
    * tier ([[PqServingIndex]]), so their scores cannot drift by ulps.
    */
  def lutFor(cb: Codebook, q: Array[Float]): Array[Array[Double]] = {
    val dsub = cb.dsub
    Array.tabulate(cb.m) { j =>
      val book = cb.codebooks(j)
      val base = j * dsub
      Array.tabulate(book.length) { c =>
        val cw = book(c)
        var s = 0.0
        var d = 0
        while (d < dsub) { s += q(base + d).toDouble * cw(d); d += 1 }
        s
      }
    }
  }

  /** The query the COARSE PROBE must rank centroids with, per metric:
    * a cosine tier assigns L2-NORMALIZED rows to lists, so the probe
    * must see the normalized query too — the expanded-L2 centroid
    * ranking (‖q‖² − 2q·c + ‖c‖²) is magnitude-DEPENDENT across
    * centroids (only the cross term scales with ‖q‖), so a raw-q probe
    * order changes with query magnitude and misaligns with list
    * membership at nprobe < nlist (the best-aligned row's list can
    * rank below probe range for a long query). ip/l2 probe raw.
    */
  def probeQuery(q: Array[Float], metric: String): Array[Float] =
    if (metric != "cosine") q
    else {
      var n = 0.0
      var i = 0
      while (i < q.length) { n += q(i).toDouble * q(i).toDouble; i += 1 }
      val norm = math.sqrt(n)
      if (norm == 0.0) q
      else {
        val out = new Array[Float](q.length)
        i = 0
        while (i < q.length) { out(i) = (q(i) / norm).toFloat; i += 1 }
        out
      }
    }

  /** Metric-appropriate ADC LUT — every variant is HIGHER-IS-BETTER so
    * all scan kernels keep the one (score desc, id asc) ranking
    * contract:
    *  - `ip`: [[lutFor]] verbatim;
    *  - `l2`: NEGATED expanded L2 per subspace, lut(j)(c) =
    *    −‖q_j − cw‖² — the per-row sum is −‖q − x̃‖² of the PQ
    *    reconstruction, so ranking equals L2-ascending on the
    *    approximation (an IP LUT would select candidates by HIGHEST dot
    *    product, a systematically wrong pool for an l2 collection);
    *  - `cosine`: [[lutFor]] scaled by 1/‖q‖ — correct ONLY over codes
    *    encoded from L2-NORMALIZED vectors (the reference's own
    *    contract, "Cosine via L2-norm at ingest" types.h:39;
    *    [[graft.Graft.warmPqTier]] normalizes at admission). The query
    *    scaling never changes ranking (positive constant) but keeps the
    *    approximate scores on the cosine scale the exact rerank uses.
    */
  def lutForMetric(cb: Codebook, q: Array[Float],
      metric: String): Array[Array[Double]] = metric match {
    case "ip" => lutFor(cb, q)
    case "cosine" =>
      var n = 0.0
      var i = 0
      while (i < q.length) { n += q(i).toDouble * q(i).toDouble; i += 1 }
      val norm = math.sqrt(n)
      // DIVISION, not multiply-by-reciprocal: the DuckDB oracle writes
      // `part / qnorm`, and x/n vs x*(1/n) differ by ulps — enough to
      // flip a candidate-pool boundary tie
      if (norm == 0.0) lutFor(cb, q).map(_.map(_ => 0.0))
      else lutFor(cb, q).map(_.map(_ / norm))
    case "l2" =>
      val dsub = cb.dsub
      Array.tabulate(cb.m) { j =>
        val book = cb.codebooks(j)
        val base = j * dsub
        Array.tabulate(book.length) { c =>
          val cw = book(c)
          var s = 0.0
          var d = 0
          while (d < dsub) {
            val diff = q(base + d).toDouble - cw(d); s += diff * diff
            d += 1
          }
          -s
        }
      }
    case other => throw new IllegalArgumentException(
      s"unknown metric '$other' (ip | l2 | cosine)")
  }

  /** Above this fetch depth the ADC top-n switches from the insertion
    * array ([[TopK.Bounded]], optimal at serving k ≲ 100) to
    * score-then-quickselect ([[TopK.selectTopN]]): a deep-rerank fetch
    * asks for thousands of candidates out of a pool only ~40× larger,
    * where most scanned rows qualify and each insertion shifts O(n)
    * slots — measured 268 ms of a 284 ms tuned-point query at n=7680
    * before the switch, ~O(pool) after. Results are IDENTICAL (same
    * (score desc, id asc) contract; LocalPqSpec pins deep == shallow
    * ranking against the declarative oracle).
    */
  private[index] val DeepFetchThreshold = 256

  /** THE phase-1 ADC kernel of both PQ cache tiers: score rows
    * `[from, until)` of one packed list (`m` code bytes a row, uint8 as
    * JVM bytes) as Σ_j lut(j)(code_j) with sequential double
    * accumulation — the codegen kernel's order
    * (`IndexExpressions.pqAdcSum`) — and keep the top `n` under the
    * (score desc, id asc) contract. Every LUT variant is
    * higher-is-better ([[lutForMetric]]), so the kernel is metric-blind.
    */
  private[index] def adcTopN(ids: Array[Long], codes: Array[Byte],
      from: Int, until: Int, lut: Array[Array[Double]],
      n: Int): Array[(Long, Double)] = {
    val m = lut.length
    val deep = n > DeepFetchThreshold
    val cnt = until - from
    val outIds = if (deep) new Array[Long](cnt) else null
    val outScores = if (deep) new Array[Double](cnt) else null
    val topk = if (deep) null else new TopK.Bounded(n, asc = false)
    var r = from
    while (r < until) {
      val off = r * m
      var s = 0.0
      var j = 0
      while (j < m) { s += lut(j)(codes(off + j) & 0xFF); j += 1 }
      if (deep) { outIds(r - from) = ids(r); outScores(r - from) = s }
      else topk.insert(s, ids(r))
      r += 1
    }
    if (!deep) topk.result()
    else {
      val len = TopK.selectTopN(outIds, outScores, cnt, n, asc = false)
      Array.tabulate(len)(i => (outIds(i), outScores(i)))
    }
  }

  /** Merge per-unit top-n pools (scan units, tiers, levels) into one
    * top-n under the same contract — top-n of a union equals top-n of
    * the per-part top-ns, so a split scan ranks bit-identically to one
    * scan of the whole probe set.
    */
  private[index] def mergeTopN(parts: Iterable[Array[(Long, Double)]],
      n: Int): Array[(Long, Double)] = {
    val total = parts.iterator.map(_.length).sum
    val ids = new Array[Long](total)
    val scores = new Array[Double](total)
    var w = 0
    parts.foreach(_.foreach { case (id, s) =>
      ids(w) = id; scores(w) = s; w += 1
    })
    val len = TopK.selectTopN(ids, scores, total, n, asc = false)
    Array.tabulate(len)(i => (ids(i), scores(i)))
  }

  /** Oracle-reproducible codebook: for subspace j (0-based), codewords are
    * `slice(embedding, j*dsub+1, dsub)` of rows with vec_id % every == 0,
    * in vec_id order.
    */
  def deterministicCodebook(embeddings: DataFrame, m: Int, dsub: Int,
      every: Int = 50): Codebook = {
    val rows = embeddings.filter(col("vec_id") % every === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val ids = rows.map(_._1)
    val books = Array.tabulate(m) { j =>
      rows.map { case (_, v) => v.slice(j * dsub, j * dsub + dsub) }
    }
    Codebook(m, dsub, ids, books)
  }

  /** B3 encode: codes(j) = index of nearest codeword in subspace j
    * (expanded-form L2, ties → lowest index = lowest code_id). One
    * map-side projection producing a single array<int> column.
    */
  def encode(data: DataFrame, cb: Codebook,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    data.select(col(idCol), codesColumn(cb, vecCol).as("codes"))

  /** The encode projection as a composable column — lets ingest persist
    * codes INTO the segment layout (reference segments carry PQ codes,
    * config.h:84-94) so stored phase-1 scans read codes only.
    * Slices the raw (float or double) vector directly: nearestIndex reads
    * any numeric element type in place, no full-vector cast copy per row.
    */
  def codesColumn(cb: Codebook, vecCol: String = "embedding"): Column =
    // one PqEncode expression, not array(m × NearestIndex(slice)): at
    // m=96 the per-subspace form emits ~5000 generated lines in one
    // method and trips janino's 64 KB limit — whole-stage codegen then
    // silently falls back to interpreted execution (a 5-30× cliff).
    // Bit-identity with the per-subspace form is pinned in PqTrainSpec.
    IndexExpressions.pqEncode(col(vecCol), cb.codebooks, cb.dsub)

  /** [[codesColumn]] in the BYTE-PACKED store layout (BinaryType, one
    * uint8 per subspace — the reference's own 8-bit code arrays,
    * config.h:87): same argmin, same tie-breaks, a quarter of the
    * array<int> decode/transfer cost on every serving read.
    */
  def codesBinaryColumn(cb: Codebook, vecCol: String = "embedding"): Column =
    IndexExpressions.pqEncodeBytes(col(vecCol), cb.codebooks, cb.dsub)

  /** Per-query ADC look-up table column: lut(j)(c) = dot(q_j, cw(j)(c)).
    * Materialized once per query row (m×k doubles), broadcast with the
    * query set. The codebook is a codegen reference object, NOT a literal:
    * at reference scale (m=96 × k=256, config.h:84-94) a `typedlit`
    * codebook is ~1.6 MB of plan tree repeated through every optimizer
    * pass and stage closure.
    */
  def lutColumn(cb: Codebook) =
    IndexExpressions.pqLut(col("qv"), cb.codebooks, cb.dsub)

  /** Q7 ADC phase 1: approximate score = Σ_j lut(j)(codes(j)), sequential
    * in subspace order (oracle: `list_sum(list(part ORDER BY j))`).
    * Output: (query_id, idCol, approx_score).
    */
  def adcScores(codes: DataFrame, cb: Codebook, queries: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    val withLut = queries.withColumn("__lut", lutColumn(cb))
      .select(col("query_id"), col("__lut"))
    // byte-packed and array<int> code relations share one entry point —
    // the lookup-sum kernel dispatches on the stored type
    val sum = codes.schema("codes").dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        IndexExpressions.pqAdcSumBytes(col("codes"), col("__lut"))
      case _ => IndexExpressions.pqAdcSum(col("codes"), col("__lut"))
    }
    // widen: a one-split codes relation runs the whole ADC scan + partial
    // top-k on ONE core; no-op at real scale (Parallelism.widen)
    graft.operators.Parallelism.widen(codes)
      .crossJoin(broadcast(withLut))
      .select(col("query_id"), col(idCol), sum.as("approx_score"))
  }

  /** Q8 two-phase: phase-1 ADC top-(rerank×k) candidates → exact re-score
    * from raw vectors → final top-k. Output (query_id, idCol, score).
    */
  def twoPhaseSearch(data: DataFrame, codes: DataFrame, cb: Codebook,
      queries: DataFrame, k: Int, rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val approx = adcScores(codes, cb, queries, idCol)
    val candidates =
      TopK.viaAggregator(approx, "query_id", idCol, "approx_score", rerank * k)
        .select(col("query_id"), col(idCol))
    val exact = broadcast(candidates)
      .join(queries, Seq("query_id"))
      .join(data.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col("query_id"), col(idCol),
        dotD(col("qv"), col(vecCol)).as("score"))
    TopK.viaAggregator(exact, "query_id", idCol, "score", k)
  }

  /** Codeword indices → reference code ids (for outputs that must carry the
    * oracle's code_id domain).
    */
  def codesToIds(cb: Codebook) = {
    val idsLit = typedlit(cb.codeIds.toSeq)
    transform(col("codes"), i => element_at(idsLit, i + 1))
  }

  /** B3 production path: per-subspace KMeans codebooks (reference
    * config.h:86-91 — m subspaces × k codewords, k=256 at 8 bits; OPQ
    * rotation is a declared flag `use_opq` and intentionally not
    * implemented — plain PQ first, as the reference's own default path).
    * Training runs m small KMeans fits over sliced subvectors; at 100 TB
    * training happens on a driver-bounded sample (the codebook is global
    * and tiny), then encode is the usual map-side argmin.
    */
  def trainCodebook(embeddings: DataFrame, m: Int, dsub: Int, k: Int,
      seed: Long = 42L, vecCol: String = "embedding",
      maxIter: Int = 10): Codebook = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val v = col(vecCol).cast("array<double>")
    // the m fits are independent — submit them as concurrent Spark jobs so
    // the wall time is one fit, not m fits of scheduler overhead
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = (0 until m).map { j =>
      Future {
        val sub = embeddings.select(
          array_to_vector(slice(v, j * dsub + 1, dsub)).as("features"))
        val model = new KMeans().setK(k).setSeed(seed + j)
          .setMaxIter(maxIter).setFeaturesCol("features").fit(sub)
        model.clusterCenters.map(_.toArray)
      }
    }
    val books = Await.result(Future.sequence(futs), Duration.Inf).toArray
    Codebook(m, dsub, Array.tabulate(k)(_.toLong), books)
  }

  /** [[trainCodebook]]'s driver-side twin for SAMPLE-sized training
    * sets: one collect of the (bounded) sample, then m concurrent
    * deterministic Lloyd fits ([[Ivf.lloyd]], farthest-point init) over
    * the sliced subvectors. At 16k×m96 the MLlib form pays ~96 job
    * DAGs of scheduler overhead for sub-second kernels (measured
    * ~530 s); this runs the same arithmetic in-process in seconds.
    * Short subspaces return < k codewords when the sample has < k
    * distinct values — the codebook is simply smaller there.
    */
  def trainCodebookDriver(embeddings: DataFrame, m: Int, dsub: Int,
      k: Int, vecCol: String = "embedding",
      maxIter: Int = 10): Codebook = {
    val rows = embeddings.select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "empty codebook training sample")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = (0 until m).map { j =>
      Future {
        val subs = rows.map(_.slice(j * dsub, j * dsub + dsub))
        Ivf.lloyd(subs, k, maxIter)
      }
    }
    val books = Await.result(Future.sequence(futs), Duration.Inf).toArray
    Codebook(m, dsub, Array.tabulate(k)(_.toLong), books)
  }
}
