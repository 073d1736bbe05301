package graft.index

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.functions.expr.IndexExpressions
import graft.operators.{Knn, TopK}

/** IVF (inverted-file) index: coarse-quantize vectors to centroid lists,
  * probe only the nprobe nearest lists at query time (SURVEY B1/B2/W14/Q6;
  * reference config.h:74-82 — nlist 1024, nprobe 6, shared global centroids).
  *
  * Spark-first layout: the "inverted list" IS the physical partitioning —
  * vectors written partitioned by `centroid_id`, so an IVF probe becomes
  * partition pruning (`centroid_id IN (...)`) + a scan of only those
  * partitions. At 100 TB the probe reads nprobe/nlist of the data and no
  * shuffle happens until the per-query top-k reduction.
  *
  * Assignment is a map-side codegen'd argmin over the broadcast centroid
  * matrix ([[IndexExpressions.nearestIndex]]) — one pass, zero shuffle,
  * mirroring the reference's ingest-time pre-assignment (`types.h:62`).
  *
  * Two centroid sources:
  *  - [[deterministicCentroids]]: fixed rule (vec_id % `every` == 0) —
  *    reproducible in the DuckDB oracle, used by the correctness gate;
  *  - [[trainKMeans]]: MLlib KMeans — the production path (recall-tested in
  *    ScalaTest rather than hash-matched).
  */
object Ivf {

  /** Oracle-reproducible centroid set: every `every`-th embedding row. */
  def deterministicCentroids(embeddings: DataFrame, every: Int = 50): DataFrame =
    embeddings.filter(col("vec_id") % every === 0)
      .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cv"))

  /** Centroids collected to the driver, sorted by cid (the sort order IS the
    * tie-break: nearestIndex keeps the lowest index on equal distance, which
    * matches the oracle's `ORDER BY d, cid`).
    */
  def collectCentroids(centroids: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val rows = centroids.select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Probe literals typed to a codes relation's `centroid_id` column:
    * hive partition-value inference types it INT, and a Long literal
    * cast-wraps the PARTITION column, demoting static directory
    * pruning — the cold path's whole layout promise. ONE helper so the
    * facade's stored plans and the bench twins cannot drift
    * (GraftFacadeSpec pins the resulting plan shape).
    */
  def cidLiterals(codes: DataFrame, probed: Seq[Long]): Seq[Any] =
    if (codes.schema("centroid_id").dataType ==
        org.apache.spark.sql.types.LongType) probed
    else probed.map(_.toInt)

  /** W14/B2: assign each vector to its nearest centroid — a single map-side
    * projection (no join, no shuffle, no row explosion).
    */
  def assign(data: DataFrame, centroids: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    assignCollected(data, cids, matrix, vecCol)
  }

  /** [[assign]] against a layout already collected by
    * [[collectCentroids]] (no centroid read, no job).
    */
  def assignCollected(data: DataFrame, cids: Array[Long],
      matrix: Array[Array[Double]], vecCol: String): DataFrame = {
    val idx = IndexExpressions.nearestIndex(col(vecCol), matrix)
    data.withColumn("centroid_id",
      element_at(typedlit(cids.toSeq), idx + 1))
  }

  /** W14/B2 at bulk-build scale: row-chunked, centroid-blocked assignment.
    *
    * [[assign]]'s codegen expression is the right shape when the centroid
    * matrix is cache-resident (nlist·dim·8 B within L2 — e.g. 64-dim
    * corpora), but at the reference's stable-tier geometry (dim 768 ×
    * nlist 4096, config.h:19,84 — a 25 MB matrix) a row-at-a-time kernel
    * must stream the whole matrix from RAM once PER ROW, and assignment
    * throughput collapses to memory bandwidth (measured 1.7k rows/s at
    * 50k×768×4096 on 32 cores). This operator processes rows in chunks
    * (default 256): for each block of 4 centroids, all chunk rows are
    * scored before the next block loads — the matrix streams from RAM
    * once per CHUNK (25 MB / 256 rows ≈ 100 KB/row) while the chunk's
    * vectors stay L2-resident, turning the build compute-bound.
    *
    * Results are BIT-IDENTICAL to [[assign]]: each (row, centroid)
    * distance is the same expanded form with the same sequential-order
    * dot products, and centroids are compared in ascending index order
    * under strict `<`, so ties keep the lowest cid exactly as
    * [[IndexExpressions.nearestIndex]] does (IvfPqSpec pins the
    * equivalence). Null vectors yield a null centroid_id, as with
    * [[assign]].
    *
    * This is a mapPartitions operator by design — the chunk buffer is the
    * point — so it sits OUTSIDE whole-stage codegen; use it for bulk
    * index builds (B1/B2 rebuilds, backfills: one pass, no shuffle, no
    * collect) and keep [[assign]] for composable per-row plans.
    */
  /** [[assignBulk]]'s GEMM twin for bulk builds at big nlist×dim
    * geometry (B1 rebuilds, backfills): the same exact argmin with the
    * same lowest-cid tie rule, but every (row, centroid) dot runs
    * through one netlib `dgemm` per 256-row block — reusing
    * [[assignTwoLevelBulk]]'s kernel with a one-cell structure, so the
    * flat column index IS the matrix index. Distances differ from the
    * codegen kernel only in FP summation order (equal to rounding, not
    * bit-identical — IvfPqSpec pins assignment-level equality), which
    * is why [[assignBulk]] keeps its bit-identity contract and this
    * variant exists separately. At the reference's 4096×768 geometry
    * this is the bulk-assignment shape that scales: the blocked GEMM
    * runs ~10 Gmadd/s/thread under VectorBLAS vs the chunked scalar
    * kernel's ~1 (stress768_assign_* in the bench record).
    */
  def assignBulkGemm(data: DataFrame, centroids: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    require(matrix.nonEmpty,
      "assignBulkGemm requires a non-empty centroid set")
    val tl = TwoLevelCentroids(matrix.length, Array(matrix(0)),
      Array(matrix))
    val assigned = assignTwoLevelBulk(data, tl, vecCol)
    // map the flat matrix index back to the caller's cid (identity for
    // the usual dense 0..n-1 layout — no extra projection then)
    if (cids.zipWithIndex.forall { case (c, i) => c == i.toLong }) assigned
    else assigned.withColumn("centroid_id",
      element_at(typedlit(cids.toSeq),
        col("centroid_id").cast("int") + 1))
  }

  def assignBulk(data: DataFrame, centroids: DataFrame,
      vecCol: String = "embedding", chunkRows: Int = 256): DataFrame = {
    val (cids, matrix) = collectCentroids(centroids)
    require(matrix.nonEmpty, "assignBulk requires a non-empty centroid set")
    val norms: Array[Double] = matrix.map { row =>
      var s = 0.0; var i = 0
      while (i < row.length) { s += row(i) * row(i); i += 1 }
      s
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      data.schema.fields :+ org.apache.spark.sql.types.StructField(
        "centroid_id", org.apache.spark.sql.types.LongType, nullable = true))
    val vecIdx = data.schema.fieldIndex(vecCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    data.mapPartitions { it: Iterator[org.apache.spark.sql.Row] =>
      // external-row array columns arrive as ArraySeq over a primitive
      // array — unwrap without boxing when possible (exact conversions)
      def toDoubles(v: Any): Array[Double] = v match {
        case null => null
        case a: scala.collection.mutable.ArraySeq.ofDouble =>
          a.array // read-only below
        case a: scala.collection.mutable.ArraySeq.ofFloat =>
          val f = a.array
          val d = new Array[Double](f.length)
          var i = 0
          while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
          d
        // a fused upstream mapPartitions (no serialization boundary)
        // hands the raw primitive array through unchanged
        case a: Array[Double] => a
        case a: Array[Float] =>
          val d = new Array[Double](a.length)
          var i = 0
          while (i < a.length) { d(i) = a(i).toDouble; i += 1 }
          d
        case s: scala.collection.Seq[_] =>
          s.iterator.map {
            case f: java.lang.Float => f.toDouble
            case d: java.lang.Double => d.doubleValue()
            case i: java.lang.Integer => i.toDouble
            case l: java.lang.Long => l.toDouble
            case x => throw new IllegalArgumentException(
              s"non-numeric vector element: $x")
          }.toArray
        case x => throw new IllegalArgumentException(
          s"unsupported vector column value: ${x.getClass}")
      }
      it.grouped(chunkRows).flatMap { chunk =>
        val m = chunk.length
        val vecs = new Array[Array[Double]](m)
        val vv = new Array[Double](m)
        var r = 0
        while (r < m) {
          val v = toDoubles(chunk(r).get(vecIdx))
          vecs(r) = v
          if (v != null) {
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i) * v(i); i += 1 }
            vv(r) = s
          }
          r += 1
        }
        val best = Array.fill(m)(-1)
        val bestD = Array.fill(m)(Double.PositiveInfinity)
        // centroid blocks ascending; per (row, centroid) the dot is the
        // same sequential sum over i and candidates compare in ascending
        // index order — identical values and tie-breaks to the codegen
        // kernel, only the (row, centroid) iteration order differs
        var c = 0
        val lim4 = matrix.length - 3
        while (c < lim4) {
          val r0 = matrix(c); val r1 = matrix(c + 1)
          val r2 = matrix(c + 2); val r3 = matrix(c + 3)
          r = 0
          while (r < m) {
            val v = vecs(r)
            if (v != null) {
              val n = v.length
              var vc0 = 0.0; var vc1 = 0.0; var vc2 = 0.0; var vc3 = 0.0
              var i = 0
              while (i < n) {
                val x = v(i)
                vc0 += x * r0(i); vc1 += x * r1(i)
                vc2 += x * r2(i); vc3 += x * r3(i)
                i += 1
              }
              val s = vv(r)
              val d0 = s - 2 * vc0 + norms(c)
              if (d0 < bestD(r)) { bestD(r) = d0; best(r) = c }
              val d1 = s - 2 * vc1 + norms(c + 1)
              if (d1 < bestD(r)) { bestD(r) = d1; best(r) = c + 1 }
              val d2 = s - 2 * vc2 + norms(c + 2)
              if (d2 < bestD(r)) { bestD(r) = d2; best(r) = c + 2 }
              val d3 = s - 2 * vc3 + norms(c + 3)
              if (d3 < bestD(r)) { bestD(r) = d3; best(r) = c + 3 }
            }
            r += 1
          }
          c += 4
        }
        while (c < matrix.length) {
          val row = matrix(c)
          r = 0
          while (r < m) {
            val v = vecs(r)
            if (v != null) {
              val n = v.length
              var vc = 0.0; var i = 0
              while (i < n) { vc += v(i) * row(i); i += 1 }
              val d = vv(r) - 2 * vc + norms(c)
              if (d < bestD(r)) { bestD(r) = d; best(r) = c }
            }
            r += 1
          }
          c += 1
        }
        chunk.iterator.zipWithIndex.map { case (row, j) =>
          val cid: Any = if (best(j) < 0) null else cids(best(j))
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ cid)
        }
      }
    }(enc)
  }

  /** Q6: probe set — the nprobe nearest centroids per query. Queries are
    * ≤100 rows (reference config.h:180); the window here sorts
    * queries×nlist rows, which is trivially small.
    */
  def probes(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").asc, col("cid").asc)
    queries.crossJoin(broadcast(centroids))
      .withColumn("__d", l2SqExpanded(col("qv"), col("cv")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid").as("centroid_id"))
  }

  /** Q6 end-to-end: IVF-restricted top-k. `assigned` must carry centroid_id.
    * The probe set (queries × nprobe) is broadcast and joined on
    * centroid_id — with centroid-partitioned storage this is partition
    * pruning, not a shuffle of the data side.
    */
  def search(assigned: DataFrame, queries: DataFrame, centroids: DataFrame,
      metric: String, k: Int, nprobe: Int, filter: Column = lit(true),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probeSet = probes(queries, centroids, nprobe)
    // predicate applies before the probe join: tenant/tag filters (Q2/Q3)
    // compose with IVF pruning the way the reference's QueryRequest does
    // (tags_any + nprobe in one request, types.h:67-75) — on partitioned
    // storage both reach the scan
    val scored = assigned.filter(filter)
      .join(broadcast(probeSet), Seq("centroid_id"))
      .select(col("query_id"), col(idCol),
        Knn.score(metric, col("qv"), col(vecCol)).as("score"))
    Knn.topK(scored, metric, k, idCol)
  }

  /** Driver-side probe pick — bit-identical arithmetic to [[probes]]:
    * sequential-order dots, d = q·q − 2·q·c + c·c, order by (d, cid).
    * nlist ≤ 4096 rows on the driver — microseconds. Shared by
    * [[searchPoint]] and [[ServingIndex]].
    */
  def probePick(queryVec: Array[Float], cids: Array[Long],
      matrix: Array[Array[Double]], nprobe: Int): Seq[Long] = {
    // the collection's dimension is fixed (config.h:19-21); a mismatched
    // query must be rejected at the request boundary — unchecked, a
    // LONGER query silently truncates (wrong scores, no error) and a
    // shorter one crashes an executor task mid-scan
    require(matrix.isEmpty || queryVec.length == matrix.head.length,
      s"query dim ${queryVec.length} != collection dim ${matrix.head.length}")
    def dotDD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val q = queryVec.map(_.toDouble)
    val qq = dotDD(q, q)
    matrix.indices
      .map(i => (qq - 2.0 * dotDD(q, matrix(i)) + dotDD(matrix(i), matrix(i)),
        cids(i)))
      .sorted.take(nprobe).map(_._2)
  }

  /** Q6 single-request serving path — minimum latency for ONE QueryRequest
    * (BASELINE's 150 ms p99 is a per-request number; the batch path
    * amortizes its probe job + broadcast + heap-agg shuffle over ≤100
    * queries, which a lone request would pay in full).
    *
    * Probe selection runs on the driver against the collected centroid
    * matrix (nlist ≤ 4096 rows — microseconds, same expanded-form L2 and
    * (distance, cid) tie-break as [[probes]]); the query rides along as a
    * literal, so the whole request is ONE stage: `centroid_id` isin-filter
    * (partition pruning on stored layouts) → codegen score →
    * TakeOrderedAndProject (per-partition partial top-k merged on the
    * driver — no shuffle, no broadcast exchange, no window).
    * Output (vec_id, score), rank order, ties by id.
    */
  def searchPoint(assigned: DataFrame, queryVec: Array[Float],
      centroids: (Array[Long], Array[Array[Double]]), metric: String, k: Int,
      nprobe: Int, filter: Column = lit(true), idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (cids, matrix) = centroids
    val probed = probePick(queryVec, cids, matrix, nprobe)
    val qLit = typedlit(queryVec.toSeq)
    val asc = graft.operators.Knn.isAscending(metric)
    assigned
      .filter(col("centroid_id").isin(probed: _*) && filter)
      .select(col(idCol),
        graft.operators.Knn.score(metric, qLit, col(vecCol)).as("score"))
      .orderBy(if (asc) col("score").asc else col("score").desc,
        col(idCol).asc)
      .limit(k)
  }

  /** Q6 against the physical segment layout: probes → centroid partition
    * pruning on the stored segments (PartitionFilters, no scan of
    * unprobed lists) → LWW/tombstone masking → score → top-k. The entry
    * point a reference user calls once data is flushed.
    *
    * Version masking is store-wide but cheap: only (id_hash, epoch,
    * deleted) are read from unprobed segments (column pruning), so a
    * stale version inside a probed list is masked even when its newer
    * version lives in an unprobed list — the latest-by-id authority of
    * the reference (latest-by-id.h:110-157) as a semi-join.
    */
  def searchStored(spark: org.apache.spark.sql.SparkSession, baseDir: String,
      queries: DataFrame, centroids: DataFrame, metric: String, k: Int,
      nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "vec"): DataFrame = {
    import graft.segments.Segments
    val probeSet = probes(queries, centroids, nprobe)
    val probedCids = probeSet.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    val all = Segments.readSegments(spark, baseDir)
    // store-wide latest live version per id (3-column scan of all tiers,
    // hash-agg + hash-join — never a sort, see Lww)
    val latestLive = graft.operators.Lww.latestBy(
        all.select(col("id_hash"), col("epoch"), col("deleted")),
        "id_hash", "epoch")
      .filter(!col("deleted"))
      .select(col("id_hash"), col("epoch"))
    val scored = all
      .filter(col("centroid_id").isin(probedCids.toIndexedSeq: _*))
      .join(latestLive, Seq("id_hash", "epoch")) // keep only latest+live
      .join(broadcast(probeSet), Seq("centroid_id"))
      .select(col("query_id"), col(idCol),
        Knn.score(metric, col("qv"), col(vecCol)).as("score"))
    Knn.topK(scored, metric, k, idCol)
  }

  /** B1: production centroid training via MLlib KMeans (reference rebuilds
    * global centroids every 24 h, config.h:96-99; sample before training at
    * scale — KMeans itself is iterative over the full input).
    */
  def trainKMeans(embeddings: DataFrame, nlist: Int, seed: Long = 42L,
      vecCol: String = "embedding", maxIter: Int = 20): KMeansModel = {
    val feats = embeddings
      .withColumn("features", array_to_vector(col(vecCol).cast("array<double>")))
    new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features")
      .fit(feats)
  }

  /** Centroid assignment with a trained model (production W14). */
  def assignKMeans(data: DataFrame, model: KMeansModel,
      vecCol: String = "embedding"): DataFrame =
    model.setPredictionCol("centroid_id").transform(
      data.withColumn("features", array_to_vector(col(vecCol).cast("array<double>"))))
      .drop("features")

  /** Model centroids as a DataFrame usable by [[probes]]/[[search]]. */
  def kmeansCentroids(spark: org.apache.spark.sql.SparkSession,
      model: KMeansModel): DataFrame = {
    import spark.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
      .toSeq.toDF("cid", "cv")
  }

  /** [[trainKMeans]] with a LAYOUT-BALANCE GATE — the production
    * trainer the facade uses. The degeneracy caught at 100M in the
    * two-level trainer (PLANS.md round 8: MLlib's kmeans|| on a
    * mixture of many near-orthogonal tight groups collapses to ONE
    * mean-drifted center holding ~99% of the corpus) is equally
    * reachable through this single-level path on clustered data, and
    * nothing downstream would see it — probing still "works", recall
    * silently dies. So after training, audit the layout on an
    * unbiased driver-bounded sample (the TwoLevelRecallSpec balance
    * thresholds: ≥80% lists non-empty, no list > 20× mean, median ≥
    * mean/10) and on collapse fall back to the deterministic
    * farthest-point [[lloyd]] on the same sample — k-center seeding
    * provably seeds distinct clusters first, which is exactly what the
    * kmeans|| init lost. Returns the flat (cid, cv) layout.
    */
  def trainCentroidsBalanced(vecs: DataFrame, nRows: Long, nlist: Int,
      seed: Long = 42L, vecCol: String = "embedding", maxIter: Int = 20,
      auditSample: Int = 65536): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val model = trainKMeans(vecs, nlist, seed, vecCol, maxIter)
    // unbiased sample (df.sample scans, so cluster-ordered storage
    // cannot bias it the way limit() would), bounded for the driver
    val fraction = math.min(1.0,
      (4.0 * auditSample) / math.max(1L, nRows))
    val sample = vecs.select(col(vecCol).cast("array<double>"))
      .sample(withReplacement = false, fraction, seed)
      .limit(auditSample)
      .collect().map(_.getSeq[Double](0).toArray)
    val centers = model.clusterCenters.map(_.toArray)
    if (sample.length < 2 * nlist || centers.length < 2)
      return kmeansCentroids(spark, model) // too small to judge
    if (!layoutCollapsed(centers, sample)) kmeansCentroids(spark, model)
    else {
      System.err.println(s"[graft] k-means layout collapsed on a " +
        s"${sample.length}-row audit sample — falling back to " +
        "deterministic farthest-point Lloyd")
      val c = lloyd(sample, nlist, maxIter)
      // pad a data-starved result so cid arithmetic keeps nlist lists
      // (duplicate codewords → empty lists, harmless)
      Array.tabulate(nlist)(i =>
        (i.toLong, (if (i < c.length) c(i)
        else c(i % math.max(1, c.length))).toSeq))
        .toSeq.toDF("cid", "cv")
    }
  }

  /** The layout-collapse detector behind [[trainCentroidsBalanced]]:
    * assign the audit sample to `centers` by exact L2 argmin and apply
    * the TwoLevelRecallSpec balance thresholds (≥80% of lists
    * non-empty, no list over 20× the mean, median ≥ mean/10). Pure and
    * deterministic — unit-testable against hand-built degenerate
    * layouts.
    */
  private[graft] def layoutCollapsed(centers: Array[Array[Double]],
      sample: Array[Array[Double]]): Boolean = {
    val counts = new Array[Long](centers.length)
    val cNorms = centers.map(c => { var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
    sample.foreach { v =>
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < centers.length) {
        val row = centers(c)
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += v(i) * row(i); i += 1 }
        val dd = cNorms(c) - 2.0 * dot
        if (dd < bestD) { bestD = dd; best = c }
        c += 1
      }
      counts(best) += 1
    }
    countsCollapseReason(counts).isDefined
  }

  /** THE shared collapse judgment over a per-list counts array (the
    * round-8 100M find's thresholds): <80% lists non-empty, a
    * >20×-mean mega-list, or median < mean/10. One source of truth for
    * the trainer audit ([[layoutCollapsed]]) and the maintenance
    * policy ([[graft.Graft.maintain]]).
    */
  private[graft] def countsCollapseReason(
      counts: Array[Long]): Option[String] = {
    val nlist = counts.length
    if (nlist < 2) return None
    val total = counts.sum
    val mean = total.toDouble / nlist
    val median = counts.sorted.apply(nlist / 2)
    val nonEmpty = counts.count(_ > 0)
    if (nonEmpty < (nlist * 8) / 10)
      Some(s"only $nonEmpty/$nlist lists non-empty — layout collapsed")
    else if (counts.max > 20 * mean)
      Some(f"hot list ${counts.max} rows vs mean $mean%.1f — mega-list")
    else if (median < mean / 10)
      Some(f"median list $median rows vs mean $mean%.1f — mass concentrating")
    else None
  }

  // ---- two-level (hierarchical) coarse quantizer ---------------------
  //
  // At the reference's declared collection scale (100M × dim 768,
  // config.h:19-21) a FLAT argmin over nlist=4096 centroids costs
  // 4096·768 ≈ 3.1M madds per row — ~3·10^14 for the corpus, hours on
  // one box and the dominant cost of any rebuild. The standard public
  // remedy (hierarchical / IMI-style coarse quantization — Babenko &
  // Lempitsky, "The Inverted Multi-Index", CVPR 2012; FAISS's
  // hierarchical coarse quantizers) assigns in two hops: argmin over k1
  // coarse cells, then argmin over that cell's k2 sub-centroids —
  // (k1+k2)·dim per row, a 32× cut at 64×64=4096. ONLY assignment is
  // hierarchical: the flat (cid, cv) view ranks all k1·k2 lists per
  // query, so probing/serving see an ordinary flat-nlist IVF and every
  // existing probe path works unchanged. Assignment is approximate
  // (the true flat argmin may sit in a different coarse cell); that is
  // the standard trade and it moves recall, not correctness — the
  // probe ranks lists by the same flat centroids the rows were
  // assigned under.

  /** Two-level centroid set: `fine(c1)(c2)` is the codeword of flat
    * list `c1·k2 + c2`. Fine cells short on training data are padded
    * with the coarse centroid (duplicate codewords → empty lists,
    * harmless).
    */
  final case class TwoLevelCentroids(k2: Int,
      coarse: Array[Array[Double]],
      fine: Array[Array[Array[Double]]]) {
    def k1: Int = coarse.length
    def nlist: Int = k1 * k2

    /** The flat (cid, cv) relation every probe/serving path consumes. */
    def flatCentroids(
        spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      (for { c1 <- fine.indices; c2 <- fine(c1).indices }
        yield ((c1.toLong * k2 + c2), fine(c1)(c2).toSeq))
        .toDF("cid", "cv")
    }
  }

  /** Train the two-level quantizer: MLlib KMeans for the k1 coarse
    * cells, then a deterministic driver-side Lloyd's per cell for its
    * k2 sub-centroids (cells are sample-sized — a Spark job per cell
    * would be scheduler overhead, not compute). Sample-driven like
    * every centroid train ([[trainKMeans]] at 100 TB runs on a
    * driver-bounded sample; the quantizer is global and tiny).
    */
  def trainTwoLevel(sample: DataFrame, k1: Int, k2: Int,
      seed: Long = 42L, vecCol: String = "embedding",
      maxIter: Int = 10): TwoLevelCentroids = {
    // BOTH levels train with the deterministic farthest-point [[lloyd]],
    // NOT MLlib KMeans. Measured on the 100M clustered fixture (5000
    // near-orthogonal tight groups — real embedding corpora at scale
    // look like this locally): MLlib's kmeans|| coarse level collapsed
    // to ONE cell holding 98.6% of the corpus (the isotropic-shell
    // degeneracy — from far away a mixture of many random tight groups
    // has no macro-structure, so one mean-drifted center captures
    // everything), while the farthest-point Lloyd on the very same data
    // split that mass into 64 balanced children. k-center seeding keeps
    // one center per region of the shell; Lloyd then refines locally
    // instead of collapsing (PLANS.md round 8).
    val rows = sample
      .select(col(vecCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    val coarse = {
      val c = lloyd(rows, k1, maxIter)
      // data-starved sample: pad to k1 so cid arithmetic stays k1·k2
      Array.tabulate(k1)(i =>
        if (i < c.length) c(i) else c(i % math.max(1, c.length)).clone())
    }
    val cNorms = coarse.map(r => { var s = 0.0; var i = 0
      while (i < r.length) { s += r(i) * r(i); i += 1 }; s })
    val assigned = rows.map { v =>
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < coarse.length) {
        val row = coarse(c)
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += v(i) * row(i); i += 1 }
        val d = cNorms(c) - 2.0 * dot
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      (best, v)
    }
    val byCell = assigned.groupBy(_._1)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = (0 until k1).map { c1 =>
      Future {
        val rows = byCell.getOrElse(c1, Array.empty).map(_._2)
        val centers = lloyd(rows, k2, maxIter)
        // pad data-starved cells with the coarse centroid
        val out = Array.tabulate(k2)(i =>
          if (i < centers.length) centers(i) else coarse(c1).clone())
        out
      }
    }
    val fine = Await.result(Future.sequence(futs), Duration.Inf).toArray
    TwoLevelCentroids(k2, coarse, fine)
  }

  /** Deterministic Lloyd's k-means (driver-side; greedy farthest-point
    * init, empty clusters keep their previous center). Farthest-point
    * (k-center) seeding matters when the data is a mixture of many
    * tight clusters: evenly-spaced-row init seeds several centers
    * inside the same cluster and none in others, and Lloyd then
    * collapses the unseeded mass onto a few mean-drifted centers —
    * measured as a 2M-row layout with median list size 1. Farthest
    * point provably seeds distinct clusters first. Returns ≤ k centers.
    */
  private[index] def lloyd(rows: Array[Array[Double]], k: Int,
      maxIter: Int): Array[Array[Double]] = {
    if (rows.isEmpty) return Array.empty
    val kk = math.min(k, rows.length)
    val dim = rows(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    val centers = new Array[Array[Double]](kk)
    centers(0) = rows(0).clone()
    val minD = rows.map(d2(_, centers(0)))
    var c0 = 1
    while (c0 < kk) {
      var far = 0; var farD = -1.0
      var r = 0
      while (r < rows.length) {
        if (minD(r) > farD) { farD = minD(r); far = r }
        r += 1
      }
      centers(c0) = rows(far).clone()
      r = 0
      while (r < rows.length) {
        val d = d2(rows(r), centers(c0))
        if (d < minD(r)) minD(r) = d
        r += 1
      }
      c0 += 1
    }
    // iterations run the assign + partial-sum phase chunk-parallel
    // (the coarse call is 131k × dim-768 rows — minutes serial, seconds
    // across the driver's cores). DETERMINISTIC: fixed chunk boundaries,
    // per-chunk partial sums merged in chunk order — same floating-point
    // result on every run of the same input.
    val nChunks = math.min(32, math.max(1, rows.length / 2048))
    val bounds = Array.tabulate(nChunks + 1)(i =>
      (i.toLong * rows.length / nChunks).toInt)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    var iter = 0
    while (iter < maxIter) {
      val parts = Await.result(Future.sequence((0 until nChunks).map {
        ch => Future {
          val sums = Array.fill(kk)(new Array[Double](dim))
          val counts = new Array[Int](kk)
          var r = bounds(ch)
          while (r < bounds(ch + 1)) {
            val v = rows(r)
            var best = 0; var bestD = Double.PositiveInfinity
            var c = 0
            while (c < kk) {
              val cw = centers(c)
              var d = 0.0; var i = 0
              while (i < dim) {
                val diff = v(i) - cw(i); d += diff * diff; i += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            val s = sums(best)
            var i = 0
            while (i < dim) { s(i) += v(i); i += 1 }
            counts(best) += 1
            r += 1
          }
          (sums, counts)
        }
      }), Duration.Inf)
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      parts.foreach { case (ps, pc) =>
        var c = 0
        while (c < kk) {
          val s = sums(c); val p = ps(c)
          var i = 0
          while (i < dim) { s(i) += p(i); i += 1 }
          counts(c) += pc(c)
          c += 1
        }
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          val s = sums(c)
          var i = 0
          while (i < dim) { centers(c)(i) = s(i) / counts(c); i += 1 }
        }
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** Corpus-scale hierarchical assignment (mapPartitions kernel, the
    * [[assignBulk]] discipline) that is an EXACT flat argmin over all
    * k1·k2 lists, executed as a blocked GEMM: rows are buffered B at a
    * time and all child dot products computed in ONE `dgemm` against
    * the flat centroid matrix (netlib BLAS — `VectorBLAS` when the JVM
    * has `--add-modules=jdk.incubator.vector`, the Java fallback
    * otherwise), then argmin_c (‖c‖² − 2·v·c) per row with the flat
    * tie contract (lowest cid wins). Equals the brute-force argmin
    * over [[TwoLevelCentroids.flatCentroids]] (IvfPqSpec recomputes
    * it). Exactness matters beyond recall hygiene: PROBING ranks lists
    * flat, so a greedy two-hop assignment (the r7 kernel) parked ~8%
    * of rows in lists outside their own vector's top-12 probe ranks
    * (PLANS.md round 8).
    *
    * Why GEMM and not the r8 triangle-pruned scalar walk: on a
    * concentrated high-dim corpus (5000 tight groups under 64 coarse
    * cells) every coarse radius is comparable to every coarse
    * distance, the bound `d(v,cell) − radius(cell) ≤ best` never
    * fires, and the walk degrades to all k1·k2 dots as latency-bound
    * serial scalar loops — measured ~4k rows/s across 32 cores at the
    * 100M geometry (a ~7 h build; the r8 driver bench died inside it).
    * The same arithmetic as a register-blocked GEMM runs ~10 Gmadd/s
    * per thread (25× the serial chain), and keeping it EXACT costs
    * nothing: pruning saved no work on exactly the corpus shape that
    * matters. Null vectors → null, as [[assign]].
    */
  def assignTwoLevelBulk(data: DataFrame, tl: TwoLevelCentroids,
      vecCol: String = "embedding"): DataFrame = {
    val coarse = tl.coarse
    val fine = tl.fine
    val k2 = tl.k2
    val outSchema = org.apache.spark.sql.types.StructType(
      data.schema.fields :+ org.apache.spark.sql.types.StructField(
        "centroid_id", org.apache.spark.sql.types.LongType,
        nullable = true))
    val vecIdx = data.schema.fieldIndex(vecCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    data.mapPartitions { it: Iterator[org.apache.spark.sql.Row] =>
      def toDoubles(v: Any): Array[Double] = v match {
        case null => null
        case a: scala.collection.mutable.ArraySeq.ofDouble => a.array
        case a: scala.collection.mutable.ArraySeq.ofFloat =>
          val f = a.array
          val d = new Array[Double](f.length)
          var i = 0
          while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
          d
        // a fused upstream mapPartitions (no serialization boundary)
        // hands the raw primitive array through unchanged
        case a: Array[Double] => a
        case a: Array[Float] =>
          val d = new Array[Double](a.length)
          var i = 0
          while (i < a.length) { d(i) = a(i).toDouble; i += 1 }
          d
        case s: scala.collection.Seq[_] =>
          s.iterator.map {
            case f: java.lang.Float => f.toDouble
            case d: java.lang.Double => d.doubleValue()
            case x => throw new IllegalArgumentException(
              s"non-numeric vector element: $x")
          }.toArray
        case x => throw new IllegalArgumentException(
          s"unsupported vector column value: ${x.getClass}")
      }
      val k1 = coarse.length
      val d = if (k1 > 0 && coarse(0) != null) coarse(0).length else 0
      // flat centroid matrix, column-major d×nCols in ascending-cid
      // order (cells can be ragged — cidOf maps column → flat cid);
      // built once per partition, shared across every block
      var nCols = 0
      var cell0 = 0
      while (cell0 < k1) { nCols += fine(cell0).length; cell0 += 1 }
      val cm = new Array[Double](d * nCols)
      val cidOf = new Array[Long](nCols)
      val colNorm = new Array[Double](nCols)
      var colI = 0
      cell0 = 0
      while (cell0 < k1) {
        val children = fine(cell0)
        var c = 0
        while (c < children.length) {
          val row = children(c)
          var s = 0.0
          var i = 0
          while (i < d) {
            cm(colI * d + i) = row(i); s += row(i) * row(i); i += 1
          }
          cidOf(colI) = cell0.toLong * k2 + c
          colNorm(colI) = s
          colI += 1
          c += 1
        }
        cell0 += 1
      }
      val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
      val blockRows = 256
      val vm = new Array[Double](d * blockRows) // d×B column-major
      val scores = new Array[Double](nCols * blockRows)
      it.grouped(blockRows).flatMap { chunk =>
        // pack non-null vectors as columns; remember each row's column
        val colOfRow = new Array[Int](chunk.length)
        var bN = 0
        var r = 0
        while (r < chunk.length) {
          val v = toDoubles(chunk(r).get(vecIdx))
          if (v == null) colOfRow(r) = -1
          else {
            if (v.length != d) throw new IllegalArgumentException(
              s"vector dim ${v.length} != centroid dim $d")
            System.arraycopy(v, 0, vm, bN * d, d)
            colOfRow(r) = bN
            bN += 1
          }
          r += 1
        }
        if (bN > 0)
          // scores(c + b·nCols) = centroid_c · vec_b for every pair —
          // one register-blocked GEMM instead of bN·nCols serial loops
          blas.dgemm("T", "N", nCols, bN, d, 1.0, cm, d, vm, d, 0.0,
            scores, nCols)
        val out = List.newBuilder[org.apache.spark.sql.Row]
        r = 0
        while (r < chunk.length) {
          val b = colOfRow(r)
          val cid: Any =
            if (b < 0) null
            else {
              // argmin_c (‖c‖² − 2·dot) ≡ argmin_c d²(v,c); ascending
              // scan with strict < keeps the lowest cid on exact ties
              val off = b * nCols
              var best = 0
              var bestScore = colNorm(0) - 2.0 * scores(off)
              var c = 1
              while (c < nCols) {
                val s = colNorm(c) - 2.0 * scores(off + c)
                if (s < bestScore) { bestScore = s; best = c }
                c += 1
              }
              cidOf(best)
            }
          out += org.apache.spark.sql.Row.fromSeq(chunk(r).toSeq :+ cid)
          r += 1
        }
        out.result()
      }
    }(enc)
  }
}
