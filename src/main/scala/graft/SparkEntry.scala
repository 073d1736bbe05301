package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.index.{Ivf, Pq}
import graft.ingest.{MutationLog, VectorEntries}
import graft.operators.{DedupOps, EventOps, Knn, TextOps}

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY §2.8), with a DuckDB oracle for every SQL-expressible one.
  *
  * Oracle-parity ground rules (every query below obeys them):
  *  - float scores are sequential double sums — DuckDB's
  *    `list_dot_product`/`list_sum` over DOUBLE[] folds left-to-right, so
  *    values are bit-identical (verified empirically) and need no rounding;
  *  - every ordering has a total tie-break (score, then id);
  *  - integer outputs are BIGINT on both sides (Spark `size`/`row_number`
  *    are INT — cast; DuckDB `count`/`sum(int)` are HUGEINT — cast);
  *  - order-dependent double sums over data (events.value, prices) are
  *    rounded on BOTH sides;
  *  - hashes shared across engines are md5-derived (xxhash64 seeds differ).
  */
object SparkEntry {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private def q(s: SparkSession, dir: String): DataFrame =
    Knn.defaultQueries(emb(s, dir))

  private val pointIds = Seq(0L, 1L, 5L, 10L, 55L, 123L, 499L, 9999L)

  /** Scratch root shared by the Spark side AND the oracle SQL template
    * (the SQL reads the same files back in DuckDB, so both sides MUST
    * derive the path from the one knob): `-Dgraft.scratch.dir`, else
    * `$GRAFT_SCRATCH_DIR`, else `.vtmp` under the working directory.
    * Gitignored scratch, never shipped state.
    */
  private def scratchRoot: String =
    sys.props.get("graft.scratch.dir")
      .orElse(sys.env.get("GRAFT_SCRATCH_DIR"))
      .getOrElse(s"${sys.props.getOrElse("user.dir", ".")}/.vtmp")

  /** Where `knn_pq_opq_trained` persists its trained rotation for the
    * DuckDB oracle to read back. Keyed by the sf dir's NAME so a bench
    * battery at another scale factor running between a verify dump and
    * its oracle replay can never clobber the matrix the oracle needs;
    * the oracle SQL carries the `{GRAFT_SF}` placeholder and
    * [[Verify]] substitutes the concrete name at dump time.
    */
  private def opqRotationPath(dir: String): String =
    s"$scratchRoot/opq_rotation_trained_${new java.io.File(dir).getName}"

  /** Shared read-only stored segment tree per sfDir: the deterministic
    * mutation log assigned to deterministic centroids, flushed as two delta
    * segments split at epoch 2000 (inserts | upserts+deletes) — NEVER
    * compacted, so stale versions and tombstones are physically present and
    * the stored-layout queries must mask them. Built once per JVM
    * (Verify/Bench each run queries sequentially in one session).
    */
  private object SegTree {
    import graft.segments.Segments
    private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
    def get(s: SparkSession, dir: String): String =
      cache.getOrElseUpdate(dir, {
        val e = emb(s, dir)
        val cents = Ivf.deterministicCentroids(e, 50)
        // segments carry PQ codes (encode-at-ingest, config.h:84-94) so
        // stored phase-1 scans read codes only — see knn_pq_stored
        val cb = Pq.deterministicCodebook(e, 8, 8, 50)
        val rows = Ivf.assign(
            MutationLog.deterministicLog(e)
              .withColumn("id_hash", hashId(col("id")))
              .withColumn("deleted", col("op") === "DELETE"),
            cents, vecCol = "vec")
          .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
          .withColumn("codes",
            when(col("deleted"), lit(null))
              .otherwise(Pq.codesColumn(cb, vecCol = "vec")))
          .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id",
            "codes", "vec")
        val base = java.nio.file.Files
          .createTempDirectory("graft-segtree-").toString
        Segments.writeSegment(rows.filter(col("epoch") < 2000), base,
          "delta-000", isStable = false)
        Segments.writeSegment(rows.filter(col("epoch") >= 2000), base,
          "delta-001", isStable = false)
        base
      })
  }

  /** Shared serving fixture for the tiered_knn_served* family, one per
    * sfDir: the stored ServingIndex over a flushed segment tree (the
    * assigned mutation log's epoch < 2000 rows) with the still-buffered
    * rows (epoch >= 2000) folded in ONCE by
    * [[graft.index.ServingIndex.patched]] — the write-through generation
    * the facade serves after an upsert. Every entry serves this one
    * live generation. The patch gate holds by construction: the stored
    * generation's maxEpoch is below 2000 and `deterministicLog` epochs
    * are unique per id. The fixture is never unpersisted: it lives for
    * the session, like [[SegTree]].
    */
  private object ServedFixture {
    import graft.segments.Segments
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, graft.index.ServingIndex]
    def get(s: SparkSession, dir: String): graft.index.ServingIndex =
      cache.getOrElseUpdate(dir, {
        val e = emb(s, dir)
        val cents = Ivf.deterministicCentroids(e, 50)
        val rows = Ivf.assign(
            MutationLog.deterministicLog(e)
              .withColumn("id_hash", hashId(col("id")))
              .withColumn("deleted", col("op") === "DELETE"),
            cents, vecCol = "vec")
          .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
          .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id",
            "vec")
          .cache()
        val base = java.nio.file.Files
          .createTempDirectory("graft-served-fixture-").toString
        Segments.writeSegment(rows.filter(col("epoch") < 2000), base,
          "delta-000", isStable = false)
        val stored = graft.index.ServingIndex.buildStored(s, base, cents, "ip")
        val buffer = rows.filter(col("epoch") >= 2000)
          .select("vec_id", "epoch", "deleted", "centroid_id", "vec")
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
            r.getBoolean(2), r.getLong(3),
            if (r.isNullAt(4)) null else r.getSeq[Double](4).toArray))
        rows.unpersist()
        val live = stored.patched(buffer)
        stored.unpersist()
        live
      })
  }

  /** Shared facade-lifecycle store per sfDir (F1 oracle-gated): the
    * deterministic mutation log driven through the PUBLIC [[Graft]]
    * handle — open → three upsert batches (INSERT / UPSERT / DELETE ops,
    * explicit epochs) → compact → reopen — so the battery gates the
    * facade's full write path (guard, WAL group-commit, flush, LWW,
    * compaction, recovery bookkeeping) against the same DuckDB oracle
    * the raw MutationLog query uses. The handle's store is a temp tree;
    * `liveView` over it must equal the oracle's `live` CTE exactly.
    */
  private object FacadeFixture {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, DataFrame]
    def live(s: SparkSession, dir: String): DataFrame =
      cache.getOrElseUpdate(dir, {
        val base = java.nio.file.Files
          .createTempDirectory("graft-facade-fixture-").toString
        val cfg0 = GraftConfig.default
        val cfg = cfg0.copy(collection = cfg0.collection.copy(dim = 64))
        val g = Graft.open(s, base, cfg)
        val log = MutationLog.deterministicLog(emb(s, dir))
          .select(col("id"), col("vec"), col("epoch"), col("op"))
        // the server lifecycle: batches arrive in epoch order, then a
        // background compaction folds the deltas; a REOPENED handle
        // must serve the identical live view (recovery bookkeeping)
        Seq("INSERT", "UPSERT", "DELETE").foreach { op =>
          g.upsert(log.filter(col("op") === op))
        }
        g.compact()
        g.close()
        val g2 = Graft.open(s, base, cfg)
        g2.liveView.select(
          expr("CAST(substring(id, 5) AS LONG)").as("vec_id"),
          col("epoch"),
          dotD(col("vec"), col("vec")).as("norm_sq"))
      })
  }

  /** Q7/Q8 through the PUBLIC facade: the reference's stable-tier
    * IVF-PQ serving shape driven end to end — upsert → compact →
    * `warmPqTier` (deterministic codebook, so DuckDB can replay the
    * quantizer) → `searchPq` two-phase (distributed-tier ADC phase 1 +
    * exact store rerank). `stable.nprobe` is set past any layout's
    * nlist, so the trained centroid layout is value-invisible
    * (probe-all) and the oracle needs no kmeans replay.
    */
  private object FacadePqFixture {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, DataFrame]
    def results(s: SparkSession, dir: String, metric: String = "ip",
        batch: Boolean = false, stored: Boolean = false,
        mixed: Boolean = false, adopted: Boolean = false): DataFrame =
      cache.getOrElseUpdate(s"$dir|$metric|$batch|$stored|$mixed|$adopted", {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val base = java.nio.file.Files
          .createTempDirectory("graft-facade-pq-").toString
        val cfg0 = GraftConfig.default
        val cfg = cfg0.copy(
          collection = cfg0.collection.copy(dim = 64, metric = metric),
          stable = cfg0.stable.copy(pqM = 8, nprobe = 100000))
        val g = Graft.open(s, base, cfg)
        val log = MutationLog.deterministicLog(emb(s, dir))
          .select(col("id"), col("vec"), col("epoch"), col("op"))
        Seq("INSERT", "UPSERT", "DELETE").foreach { op =>
          g.upsert(log.filter(col("op") === op))
        }
        g.compact()
        // stored = the L2 route twin: NO driver tier, the distributed
        // tier evicted right after the warm — every phase-1 serve must
        // come from the durable codes tree (asserted on the router's
        // counters below), sharing the warm doors' oracle VERBATIM.
        // mixed = the L0/STORED split twin: a driver tier budgeted for
        // roughly HALF the coded corpus + an evicted distributed tier —
        // resident lists scan driver-side, only the misses pay the
        // parquet plan, and the merged pools must still match the same
        // oracle (the one serving route previously gated only by
        // ScalaTest).
        val mixedBudget =
          if (!mixed) -1L
          else g.liveView.filter(col("vec").isNotNull).count() * 16L / 2L
        g.warmPqTier(Some(Pq.deterministicCodebook(emb(s, dir), 8, 8, 50)),
          localBudgetBytes =
            if (stored) 0L else if (mixed) mixedBudget else -1L)
        if (stored || mixed) g.releasePqDistTier()
        // adopted = the RESTART route twin: close() keeps the stamped
        // codes tree, and a reopened handle must ADOPT it from its
        // sidecars and serve every request from the stored plan with NO
        // warm call — the post-restart world, where the serving values
        // must still match the same DuckDB oracle VERBATIM (previously
        // the one serving route gated only by ScalaTest + bench).
        val srv =
          if (!adopted) g
          else { g.close(); Graft.open(s, base, cfg) }
        // a failed assertion below must not leak the serving handle
        // (or, for the adopted twin, the reopened one): close in
        // finally, succeed or not
        val rows = try {
        if (adopted) require(srv.pqCodesLiveDir.isDefined,
          "facade_pq adopted twin: reopen did not adopt the tree")
        val idMap = srv.liveView.select(col("id_hash"),
            expr("CAST(substring(id, 5) AS LONG)").as("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val reqs = q(s, dir).collect().sortBy(_.getLong(0))
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        val rows0 =
          if (batch)
            // Q12 through the PQ door: one phase-1 job + one store plan
            // per ≤max_batch chunk — values must equal the per-query
            // door exactly (they share the oracle SQL verbatim)
            reqs.toIndexedSeq
              .grouped(srv.config.servingLimits.maxBatch).toIndexedSeq
              .flatMap { chunk =>
                srv.searchPqBatch(chunk.map(_._2), 10).zip(chunk)
                  .flatMap { case (hits, (qid, _)) =>
                    hits.map { case (idh, sc) => Row(qid, idMap(idh), sc) }
                  }
              }
          else graft.operators.Parallelism
            .parRequests(reqs.toIndexedSeq) { case (qid, qv) =>
              srv.searchPq(qv, 10).map { case (idh, sc) =>
                Row(qid, idMap(idh), sc) }.toIndexedSeq
            }.flatten
        if (stored) {
          // the entry itself pins the route: every request fell through
          // past both cache levels to the stored plan (a silently
          // resident tier would make this twin vacuous)
          val (l, d, st) = g.pqDoorRoutes
          require(l == 0 && d == 0 && st == reqs.length,
            s"facade_pq stored twin did not serve from the codes tree: " +
              s"local=$l dist=$d stored=$st of ${reqs.length}")
        }
        if (mixed) {
          // the entry itself pins the SPLIT route: the distributed tier
          // is gone, the starved driver tier held only some lists — so
          // mixed L0/stored serves must have happened, nothing may have
          // served from L1, and every request is accounted (a budget
          // admitting everything would silently demote this twin to
          // facade_pq; one admitting nothing, to facade_pq_stored)
          val (l, d, st) = g.pqDoorRoutes
          val ms = g.pqDoorMixedStoredServes
          require(d == 0 && ms > 0 && l + st == reqs.length,
            s"facade_pq mixed twin route counters off: local=$l " +
              s"dist=$d stored=$st mixedStored=$ms of ${reqs.length}")
        }
        if (adopted) {
          // the entry itself pins the route: the adopted handle never
          // saw a warm, so a cache level serving anything would mean
          // adoption silently resurrected a tier it cannot have (the
          // stamp restores codebook + tree, NOT the admission budget)
          val (l, d, st) = srv.pqDoorRoutes
          require(l == 0 && d == 0 && st == reqs.length,
            s"facade_pq adopted twin did not serve from the adopted " +
              s"tree: local=$l dist=$d stored=$st of ${reqs.length}")
        }
        rows0
        } finally srv.close()
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("query_id", LongType, nullable = false),
            StructField("vec_id", LongType, nullable = false),
            StructField("score", DoubleType, nullable = false))))
      })
  }

  /** The same server lifecycle through the STREAMING ingest door
    * (T1-T5 via [[Graft.startStream]]): the whole mutation history
    * lands as parquet in a source directory, one AvailableNow pass
    * drains it through per-batch LWW + segment flush + buffer-overlay
    * publish/prune + serving invalidation, and the resulting liveView
    * must equal the SAME DuckDB live oracle the synchronous-upsert
    * fixture uses — the two ingest doors are interchangeable.
    */
  private object FacadeStreamFixture {
    private val cache = scala.collection.concurrent.TrieMap
      .empty[String, DataFrame]
    def live(s: SparkSession, dir: String): DataFrame =
      cache.getOrElseUpdate(dir, {
        val base = java.nio.file.Files
          .createTempDirectory("graft-facade-stream-").toString
        val cfg0 = GraftConfig.default
        val cfg = cfg0.copy(collection = cfg0.collection.copy(dim = 64))
        val g = Graft.open(s, base, cfg)
        val src = s"$base/ingest"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(src))
        MutationLog.deterministicLog(emb(s, dir))
          .withColumn("id_hash",
            graft.functions.VectorFunctions.hashId(col("id")))
          .withColumn("deleted", col("op") === "DELETE")
          .withColumn("centroid_id", lit(-1L))
          .select("op", "vec_id", "id", "id_hash", "epoch", "deleted",
            "centroid_id", "vec")
          .coalesce(2).write.mode("append").parquet(src)
        val q = g.startStream(src, s"$base/ckpt")
        q.awaitTermination()
        val out = g.liveView.select(
          col("vec_id"), col("epoch"),
          dotD(col("vec"), col("vec")).as("norm_sq"))
        g.close()
        out
      })
  }

  /** Shared verified MinHash near-dup pairs (a, b, jaccard ≥ 0.5) per
    * sfDir: five battery entries (dedup_minhash, dedup_clusters,
    * dup_source_matrix, curation_funnel, decontaminate_fuzzy) consume
    * the same pair list — computed once per JVM, the way an engine
    * shares a built index across queries, instead of rebuilding the
    * LSH pipeline (and leaking its shingle cache) per entry.
    */
  /** Shared centroid-partitioned ANN store per sfDir for the declarative
    * planner-rule entries ([[graft.plans.AnnTopKRewrite]]): the embeddings
    * table assigned to the deterministic centroids (the exact `asg` CTE of
    * the IVF oracle) and written as one file per `centroid_id` list
    * (`Segments.writeListTree`) — the physical layout the rewrite
    * prunes against.
    */
  private object AnnStore {
    final case class St(path: String, centsPath: String, nlist: Int)
    private val cache = scala.collection.concurrent.TrieMap.empty[String, St]
    def get(s: SparkSession, dir: String): St = cache.getOrElseUpdate(dir, {
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val nlist = cents.count().toInt
      val base = java.nio.file.Files
        .createTempDirectory("graft-annstore-").toString
      graft.segments.Segments.writeListTree(Ivf.assign(e, cents)
        .select("vec_id", "embedding", "label", "centroid_id"),
        s"$base/store", exchange = true)
      cents.write.parquet(s"$base/cents")
      St(s"$base/store", s"$base/cents", nlist)
    })
    /** Query vector: embedding of vec_id 0 (a registered query id in the
      * shared `q` CTE), widened to double.
      */
    def qv0(s: SparkSession, dir: String): Array[Double] =
      emb(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toArray
    /** Declarative top-k over the store at the given probe width: the
      * brute-force SQL shape; [[graft.plans.AnnTopKRewrite]] injects the
      * probe filter at optimization time.
      */
    def declarativeTopK(s: SparkSession, dir: String, nprobe: Int,
        filter: Column = lit(true)): DataFrame = {
      val st = get(s, dir)
      graft.plans.GraftAnn.install(s)
      graft.plans.GraftAnn.configure(s, st.path, st.centsPath,
        if (nprobe <= 0) st.nlist else nprobe)
      val qv = qv0(s, dir)
      val score = org.apache.spark.sql.GraftBridge.column(
        graft.functions.expr.DotProduct(
          org.apache.spark.sql.GraftBridge.expression(col("embedding")),
          org.apache.spark.sql.GraftBridge.expression(lit(qv))))
      s.read.parquet(st.path)
        .filter(filter)
        .select(col("vec_id"), score.as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
    }
  }

  private object MinhashPairs {
    private val cache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    def get(s: SparkSession, dir: String): DataFrame =
      cache.getOrElseUpdate(dir,
        DedupOps.minhashPairsOracle(Tables.load(s, dir, "documents")))
  }

  /** Build the per-sfDir index artifacts (stored segment tree) if not
    * already built — index-build steps (B2), exposed so the bench can run
    * them untimed: the reference's latency budget (types.h:141) is search
    * against an existing index, not index construction.
    */
  def warmStoredTree(spark: SparkSession, dir: String): Unit = {
    SegTree.get(spark, dir)
    AnnStore.get(spark, dir) // declarative-ANN store build is B2, not latency
    ()
  }

  private[graft] def storedTreePath(spark: SparkSession, dir: String): String =
    SegTree.get(spark, dir)

  /** Flagship: filtered top-k similarity search, end to end (Q1+Q2+Q3+Q9 —
    * the reference's entire query surface in one plan).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val data = VectorEntries.fromEmbeddings(emb(spark, dir))
    Knn.exactBatch(q(spark, dir), data, "ip", 10,
      filter = col("tenant") === "t1" && VectorEntries.tagsAny(Seq(3, 11)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Q1/Q9/Q12: exact batch KNN, all three metrics -----------------
    "knn_exact_ip" -> ((s, dir) =>
      Knn.exactBatch(q(s, dir), emb(s, dir), "ip", 10)),
    "knn_exact_l2" -> ((s, dir) =>
      Knn.exactBatch(q(s, dir), emb(s, dir), "l2", 10)),
    "knn_exact_cosine" -> ((s, dir) =>
      Knn.exactBatch(q(s, dir), emb(s, dir), "cosine", 10)),
    // ---- Q2/Q3: tenant + tags-ANY filtered KNN -------------------------
    "knn_filtered" -> ((s, dir) =>
      Knn.exactBatch(q(s, dir), VectorEntries.fromEmbeddings(emb(s, dir)),
        "ip", 10,
        filter = col("tenant") === "t1" && VectorEntries.tagsAny(Seq(3, 11)))),
    // B4 completion — the same filtered KNN THROUGH the row-level tag
    // index: entries flushed to a segment with per-tag postings
    // (writeTagIndex) + per-tag counts (writeTagStats); the read takes
    // the sparse path (posting semi-join before scoring) because the
    // requested tags bound ~30% selectivity and the threshold is pinned
    // above it (the reference's dense threshold 0.2 is yaml-tunable;
    // TagStatsFlushSpec covers both branches at the default). Oracle =
    // knn_filtered's SQL — the index must be invisible in the values.
    "knn_filtered_bitmap" -> ((s, dir) => {
      import graft.segments.Segments
      val vt = VectorEntries.fromEmbeddings(emb(s, dir))
        .withColumn("epoch", col("vec_id"))
        .withColumn("centroid_id", col("vec_id") % 8)
      val base = java.nio.file.Files
        .createTempDirectory("graft-tagidx-").toString
      Segments.writeSegment(vt, base, "delta-000", isStable = false)
      Segments.writeTagStats(vt, base, "delta-000")
      Segments.writeTagIndex(vt, base, "delta-000")
      val rows = Segments.scanForTagsRowLevel(s, base, Seq(3, 11),
        denseThreshold = 0.35)
      Knn.exactBatch(q(s, dir), rows, "ip", 10,
        filter = col("tenant") === "t1")
    }),
    // ---- sample_p restriction (types.h:74) -----------------------------
    "knn_sampled" -> ((s, dir) =>
      Knn.exactBatch(q(s, dir), emb(s, dir), "ip", 10,
        filter = Knn.sampleFilter(25))),
    // ---- Q6: IVF coarse search (deterministic centroids) ---------------
    "knn_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      Ivf.search(Ivf.assign(e, cents), q(s, dir), cents, "ip", 10, 3)
        .select("query_id", "vec_id", "score")
    }),
    // ---- the declarative-ANN planner rule (SparkSessionExtensions /
    // AnnTopKRewrite): the user writes the brute-force top-k SQL shape
    // (ORDER BY dot DESC LIMIT k) over the centroid-partitioned store;
    // the optimizer rule injects the IVF probe filter, which the
    // datasource executes as partition pruning. At probe-all width the
    // rewrite fires but stays exact — this entry pins the VALUES;
    // AnnSqlRewriteSpec pins the PLAN (the partition filter) and the
    // probed path's parity with Ivf.probes.
    "ann_sql_topk" -> ((s, dir) =>
      AnnStore.declarativeTopK(s, dir, nprobe = 0 /* probe-all */)),
    // the same declarative shape at nprobe=3 — genuinely approximate,
    // oracle-gated against the IVF CTE (probe + assignment + top-k all
    // SQL-expressible, same contract as knn_ivf)
    "ann_sql_probed" -> ((s, dir) =>
      AnnStore.declarativeTopK(s, dir, nprobe = 3)),
    // declarative FILTERED ANN (the reference's Q2/Q3 composition,
    // reached from SQL): the user's predicate sits between the top-k
    // and the store; the rewrite injects the probe filter below it, so
    // the scan executes BOTH — partition pruning from the probe set,
    // data skipping from the pushed predicate
    "ann_sql_filtered" -> ((s, dir) =>
      AnnStore.declarativeTopK(s, dir, nprobe = 3,
        filter = col("label") % 2 === 0)),
    // Q6's candidate sampling INSIDE the probed lists (sample_p,
    // config.h:78 / types.h:74) — composes with the nprobe restriction
    "knn_ivf_sampled" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      Ivf.search(Ivf.assign(e, cents), q(s, dir), cents, "ip", 10, 3,
          filter = Knn.sampleFilter(25))
        .select("query_id", "vec_id", "score")
    }),
    // B2 at corpus scale: the two-level (hierarchical) coarse quantizer
    // (Ivf.trainTwoLevel/assignTwoLevelBulk — (k1+k2)·dim per row
    // instead of k1·k2·dim; the 100M-build assignment path). Gated at
    // PROBE-ALL width: probing every flat list makes the search exact
    // regardless of which list each row was assigned to, so the
    // hierarchical layout is value-pinned against the exact oracle —
    // a mis-assignment that dropped or duplicated a row WOULD surface.
    "knn_twolevel" -> ((s, dir) => {
      val e = emb(s, dir)
      val tl = Ivf.trainTwoLevel(e, k1 = 4, k2 = 4)
      Ivf.search(Ivf.assignTwoLevelBulk(e, tl), q(s, dir),
          tl.flatCentroids(s), "ip", 10, nprobe = tl.nlist)
        .select("query_id", "vec_id", "score")
    }),
    // the composite QueryRequest shape (types.h:67-75): tags_any + tenant
    // equality + nprobe restriction in ONE request
    "knn_ivf_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val entries = Ivf.assign(VectorEntries.fromEmbeddings(e), cents)
      Ivf.search(entries, q(s, dir), cents, "ip", 10, 3,
          filter = col("tenant") === "t1" && VectorEntries.tagsAny(Seq(3, 11)))
        .select("query_id", "vec_id", "score")
    }),
    // serving path: the 10 lowest-id battery queries served as independent
    // single requests (driver-side probes + TakeOrderedAndProject — the
    // request loop is the serving pattern, not a data loop; capped at 10
    // so the battery entry stays request-shaped rather than a plan-union
    // stress test); oracle = the batch-path oracle restricted to the same
    // query ids
    "knn_point" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      // materialize the assignment once per invocation (scale-gated):
      // the 10-way union otherwise carries 10 copies of the assign
      // subtree through every Catalyst pass — the entry was PLANNING-
      // bound, not compute-bound (r15 "not yet optimized" item). In a
      // real serving setup the assignment IS a stored table; at scale
      // the gate keeps the lazy plan.
      val assigned = graft.operators.Parallelism.materializeSmall(
        Ivf.assign(e, cents))
      val cmat = Ivf.collectCentroids(cents)
      q(s, dir).collect().sortBy(_.getLong(0)).take(10).map { r =>
        Ivf.searchPoint(assigned, r.getSeq[Float](1).toArray, cmat,
            "ip", 10, nprobe = 3)
          .select(lit(r.getLong(0)).as("query_id"), col("vec_id"),
            col("score"))
      }.reduce(_.unionByName(_))
    }),
    // Q14: HNSW (reference HNSWCacheConfig, config.h:102-108) oracle-gated
    // at EXHAUSTIVE beam width — with ef = corpus size the beam search
    // visits every reachable node, and the deterministic graph is
    // connected (HnswSpec proves exhaustive-beam == brute force), so the
    // result IS the exact top-k and the oracle is knn_exact_ip's SQL
    // verbatim. The graph is driver-side by design: it is the hot CACHE
    // in front of the distributed index (the reference's own cap is 1M
    // elements), not the corpus path.
    "knn_hnsw" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val rows = emb(s, dir).select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val g = new graft.index.Hnsw("ip")
      rows.foreach { case (id, v) => g.insert(id, v) }
      val reqs = q(s, dir).collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      // graph searches are read-only and independent — serve them
      // concurrently (results assembled in request order, §2.6)
      val out = graft.operators.Parallelism.parRequests(reqs.toIndexedSeq) {
        case (qid, qv) =>
          g.search(qv, 10, ef = rows.length)
            .map { case (id, sc) => Row(qid, id, sc) }.toIndexedSeq
      }.flatten
      s.createDataFrame(
        s.sparkContext.parallelize(out, 1),
        StructType(Seq(StructField("query_id", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false))))
    }),
    // Q14 cache LIFECYCLE against the same exact oracle: the first half
    // of the battery queries is served COLD (empty graph → fall-through
    // to the probe-ALL serving path = exact), then every corpus vector
    // is offered, the graph refreshed, and the second half served HOT
    // (exhaustive-ef graph = exact). Admission, refresh, and the
    // serve/fall-through switch are all value-visible in one gate —
    // the reference's cache-miss flow (config.h:102-108) end to end.
    "knn_hnsw_cache" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val idx = graft.index.ServingIndex.build(
        Ivf.assign(e, cents), cents, "ip")
      val nlist = cents.count().toInt
      val rows = e.select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      val cache = new graft.index.HnswHotCache(idx,
        maxElements = rows.length, ef = rows.length)
      val reqs = q(s, dir).collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val (cold, hot) = reqs.splitAt(reqs.length / 2)
      // cold serves fall through to independent index probe jobs, hot
      // serves are read-only graph walks — both halves run concurrently
      // within themselves (request order preserved; offer/refresh stays
      // a barrier between the halves, §2.6)
      val coldOut = graft.operators.Parallelism
        .parRequests(cold.toIndexedSeq) { case (qid, qv) =>
          cache.search(qv, 10, nprobe = nlist)
            .map { case (id, sc) => Row(qid, id, sc) }.toIndexedSeq
        }.flatten
      rows.foreach { case (id, v) => cache.offer(id, v) }
      cache.refresh()
      require(cache.cacheSize == rows.length,
        s"cache admitted ${cache.cacheSize} of ${rows.length}")
      val hotOut = graft.operators.Parallelism
        .parRequests(hot.toIndexedSeq) { case (qid, qv) =>
          cache.search(qv, 10, nprobe = nlist)
            .map { case (id, sc) => Row(qid, id, sc) }.toIndexedSeq
        }.flatten
      idx.unpersist()
      s.createDataFrame(
        s.sparkContext.parallelize(coldOut ++ hotOut, 1),
        StructType(Seq(StructField("query_id", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false))))
    }),
    // serving INDEX path with the full QueryRequest predicate surface
    // (tenant + tags_any composed with nprobe, types.h:67-75): rows are
    // filtered in-task before scoring. Same result set as the batch
    // knn_ivf_filtered restricted to these 10 requests.
    "knn_point_served_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val entries = Ivf.assign(VectorEntries.fromEmbeddings(e), cents)
      val idx = graft.index.ServingIndex.build(entries, cents, "ip",
        tenantCol = Some("tenant"), tagsCol = Some("tags"))
      val reqs = q(s, dir).collect().sortBy(_.getLong(0)).take(10)
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val out = idx.searchAllDF(s, reqs, 10, nprobe = 3,
        filter = graft.index.ServingFilter(tenant = Some("t1"),
          tagsAny = Some(Seq(3L, 11L))))
      idx.unpersist()
      out
    }),
    // the SAME filtered serving request through the per-list tag
    // postings (reference roaring prefilter, config.h:117-125): the
    // dense threshold is pinned above the fixture's tag selectivities
    // (~10% for label tags, ~20% for mod tags) so every list posts the
    // wanted tags and the scan walks posting unions instead of testing
    // rows. Oracle = knn_point_served_filtered's SQL verbatim — the
    // prefilter must be invisible in the values.
    "knn_point_served_posting" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val entries = Ivf.assign(VectorEntries.fromEmbeddings(e), cents)
      val idx = graft.index.ServingIndex.build(entries, cents, "ip",
        tenantCol = Some("tenant"), tagsCol = Some("tags"),
        tagDenseThreshold = 0.5)
      val reqs = q(s, dir).collect().sortBy(_.getLong(0)).take(10)
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val out = idx.searchAllDF(s, reqs, 10, nprobe = 3,
        filter = graft.index.ServingFilter(tenant = Some("t1"),
          tagsAny = Some(Seq(3L, 11L))))
      idx.unpersist()
      out
    }),
    // Q12 on the serving path: the SAME 10 requests as ONE batch job —
    // queries inverted onto the lists they probe, each list read once
    // for every query probing it, one scheduler dispatch for the whole
    // batch. Values identical to the per-request path → same oracle.
    "knn_point_batched" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val idx = graft.index.ServingIndex.build(
        Ivf.assign(e, cents), cents, "ip")
      val reqs = q(s, dir).collect().sortBy(_.getLong(0)).take(10)
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val hits = idx.searchBatch(reqs, 10, nprobe = 3)
      val rows = reqs.flatMap { case (qid, _) =>
        hits(qid).map { case (id, sc) => Row(qid, id, sc) }
      }
      idx.unpersist()
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("query_id", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false))))
    }),
    // serving INDEX path: the same 10 requests through ServingIndex —
    // packed per-list blocks, scheduler-level partition pruning
    // (runJob on the nprobe probed partitions only), driver merge.
    // Same probe pick, same score arithmetic → same oracle as knn_point.
    "knn_point_served" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val idx = graft.index.ServingIndex.build(
        Ivf.assign(e, cents), cents, "ip")
      val reqs = q(s, dir).collect().sortBy(_.getLong(0)).take(10)
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val out = idx.searchAllDF(s, reqs, 10, nprobe = 3)
      idx.unpersist()
      out
    }),
    // DRIVER-RESIDENT serving tier (reference global-index memory cache,
    // yaml:85-89): same requests through LocalServingIndex — zero probe
    // jobs on the hot path, results bit-identical to the job path, so
    // the oracle is knn_point_served's SQL verbatim
    "knn_point_local" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val idx = graft.index.ServingIndex.build(
        Ivf.assign(e, cents), cents, "ip")
      val local = idx.toLocal()
      val reqs = q(s, dir).collect().sortBy(_.getLong(0)).take(10)
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val rows = reqs.toIndexedSeq.flatMap { case (qid, qv) =>
        local.search(qv, 10, nprobe = 3)
          .map { case (id, sc) => Row(qid, id, sc) }
      }
      idx.unpersist()
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("query_id", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false))))
    }),
    // DRIVER-RESIDENT IVF-PQ tier (the reference stable-tier shape in
    // the memory cache): ADC phase 1 over cached codes + exact rerank
    // against the raw local tier, probe-all so the pipeline equals the
    // declarative two-phase exactly — oracle is knn_pq2phase's SQL
    // verbatim (the compressed tier must be value-invisible)
    "knn_pq_local" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val cb = Pq.deterministicCodebook(e, 8, 8, 50)
      val assigned = Ivf.assign(e, cents)
      val codes = assigned.select(col("vec_id"), col("centroid_id"),
        Pq.codesColumn(cb).as("codes"))
      val pq = graft.index.LocalPqIndex.build(codes, cents, cb)
      val idx = graft.index.ServingIndex.build(assigned, cents, "ip")
      val raw = idx.toLocal()
      val nlist = cents.count().toInt
      val reqs = q(s, dir).collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      // driver-local index scans, read-only and independent per request
      // — serve concurrently, order preserved (§2.6)
      val rows = graft.operators.Parallelism.parRequests(reqs.toIndexedSeq) {
        case (qid, qv) =>
          pq.search(qv, 10, nprobe = nlist, rerank = 4, raw)
            .map { case (id, sc) => Row(qid, id, sc) }.toIndexedSeq
      }.flatten
      idx.unpersist()
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("query_id", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false))))
    }),
    // DISTRIBUTED PQ cache tier (PqServingIndex: one inverted list per
    // RDD partition in the block manager, request = runJob over the
    // probed partitions only) driven through the DEEP-FETCH regime
    // (10·rerank = 400 > the 256 quickselect switch, a strict subset of
    // the 500-row pool) + exact rerank — one query oracle-gates the new
    // tier AND TopK.selectTopN end to end. Oracle is knn_pq2phase's SQL
    // at rerank 40: the tier must be value-invisible like every cache.
    "knn_pq_deep" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val cb = Pq.deterministicCodebook(e, 8, 8, 50)
      val assigned = Ivf.assign(e, cents)
      val codes = assigned.select(col("vec_id"), col("centroid_id"),
        Pq.codesColumn(cb).as("codes"))
      val wide = graft.index.ServingLimits(maxK = 4096,
        maxCandidates = 100000)
      val dist = graft.index.PqServingIndex.build(codes, cents, cb, wide)
      val idx = graft.index.ServingIndex.build(assigned, cents, "ip")
      val raw = idx.toLocal()
      val nlist = cents.count().toInt
      val reqs = q(s, dir).collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      // ONE probe job serves every request against the distributed tier
      val pools = dist.searchBatch(reqs.map(_._2).toSeq, 10 * 40,
        nprobe = nlist)
      val rows = reqs.toIndexedSeq.zip(pools).flatMap {
        case ((qid, qv), pool) =>
          val cand = pool.map(_._1)
          val exact = raw.scoreIds(qv, cand)
          cand.map(id => (id, exact(id)))
            .sortBy { case (id, sc) => (-sc, id) }.take(10)
            .map { case (id, sc) => Row(qid, id, sc) }.toIndexedSeq
      }
      dist.unpersist()
      idx.unpersist()
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("query_id", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false))))
    }),
    // ---- Q7/Q8: PQ ADC + two-phase rerank ------------------------------
    "knn_pq2phase" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = Pq.deterministicCodebook(e, 8, 8, 50)
      Pq.twoPhaseSearch(e, Pq.encode(e, cb), cb, q(s, dir), 10, 4)
    }),
    // ---- B3+OPQ: rotated PQ two-phase, oracle-gated end to end with the
    // FIXED signed-permutation rotation (non-data-derived, so DuckDB
    // replays rotate → deterministic codebook → ADC → rerank exactly);
    // the data-derived iterative trainer keeps its OpqSpec recall gates
    // and the bench measures its recall vs plain PQ
    "knn_pq_opq" -> ((s, dir) => {
      import graft.index.Opq
      val e = emb(s, dir)
      val rot = Opq.fixedRotation(64)
      val rotated = e.select(col("vec_id"),
        Opq.rotate(rot, col("embedding")).as("embedding"))
      val cb = Pq.deterministicCodebook(rotated, 8, 8, 50)
      Opq.twoPhaseSearch(e, Opq.encode(e, rot, cb), rot, cb, q(s, dir),
        10, 4)
    }),
    // ---- B3+OPQ with the TRAINED rotation, oracle-gated end to end:
    // the parametric PCA + eigenvalue-allocation rotation is trained
    // here, PERSISTED (one 64-row parquet at a fixed path), and DuckDB
    // replays the whole downstream pipeline FROM that matrix — rotate
    // (matrix multiply as one list_dot_product per output dim) →
    // deterministic codebook in rotated space → ADC → exact rerank on
    // RAW vectors. Training itself keeps its OpqSpec recall gates;
    // what this pins is that the rotated two-phase pipeline computes
    // exactly what it claims for the rotation the engine ACTUALLY
    // trained (the fixed-rotation twin above can't see a broken
    // trained-rotation apply/encode path). The iterative ck-means
    // trainer shares this apply/encode/ADC path — only the R source
    // differs — so the gate covers both trainers' serving arithmetic.
    "knn_pq_opq_trained" -> ((s, dir) => {
      import graft.index.Opq
      import org.apache.spark.sql.types._
      val e = emb(s, dir)
      val rot = Opq.trainRotation(e, 8, 8)
      // persist for the DuckDB replay: (i, rw) = output dim i's basis
      // row, exact doubles through parquet
      s.createDataFrame(s.sparkContext.parallelize(
          rot.matrix.zipWithIndex.toIndexedSeq.map { case (rw, i) =>
            org.apache.spark.sql.Row(i, rw.toSeq) }, 1),
          StructType(Seq(
            StructField("i", IntegerType, nullable = false),
            StructField("rw", ArrayType(DoubleType, containsNull = false),
              nullable = false))))
        .write.mode("overwrite").parquet(opqRotationPath(dir))
      val rotated = e.select(col("vec_id"),
        Opq.rotate(rot, col("embedding")).as("embedding"))
      val cb = Pq.deterministicCodebook(rotated, 8, 8, 50)
      Opq.twoPhaseSearch(e, Opq.encode(e, rot, cb), rot, cb, q(s, dir),
        10, 4)
    }),
    // ---- B5: recall of IVF vs exact ------------------------------------
    "recall_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val qs = q(s, dir)
      val exact = Knn.exactBatch(qs, e, "ip", 10)
      val cents = Ivf.deterministicCentroids(e, 50)
      val ivf = Ivf.search(Ivf.assign(e, cents), qs, cents, "ip", 10, 3)
      val hits = exact.select("query_id", "vec_id")
        .join(ivf.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("c"))
      qs.select("query_id").join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("c"), lit(0L)).cast("double") / lit(10.0)).as("recall"))
    }),
    // ---- Q13: nprobe auto-tune (offline calibration sweep) -------------
    "nprobe_tune" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.index.NprobeTuner.sweep(s, e, q(s, dir),
        Ivf.deterministicCentroids(e, 50), "ip", 10, Seq(1, 2, 4))
    }),
    // ---- W5-W8, W11-W12: mutation log ----------------------------------
    "upsert_live" -> ((s, dir) =>
      MutationLog.live(MutationLog.deterministicLog(emb(s, dir)))
        .select(col("vec_id"), col("op"), col("epoch"),
          dotD(col("vec"), col("vec")).as("norm_sq"))),
    // F1 through the PUBLIC facade: the same mutation history driven via
    // Graft.open → upsert×3 → compact → reopen; liveView must equal the
    // oracle's live CTE (same epochs, same vectors, tombstones masked)
    "facade_live" -> ((s, dir) => FacadeFixture.live(s, dir)),
    "facade_stream_live" -> ((s, dir) => FacadeStreamFixture.live(s, dir)),
    "facade_pq" -> ((s, dir) => FacadePqFixture.results(s, dir)),
    "facade_pq_l2" -> ((s, dir) => FacadePqFixture.results(s, dir, "l2")),
    "facade_pq_cosine" ->
      ((s, dir) => FacadePqFixture.results(s, dir, "cosine")),
    "facade_pq_batch" ->
      ((s, dir) => FacadePqFixture.results(s, dir, batch = true)),
    // the stored L2 ROUTE under the DuckDB oracle (r13 verdict #1): no
    // driver tier + an evicted distributed tier, so every phase-1 serve
    // is the partition-pruned codes-tree plan (the fixture asserts the
    // router's stored counter saw every request) — value-identical to
    // the warm doors by construction, sharing facade_pq's oracle
    "facade_pq_stored" ->
      ((s, dir) => FacadePqFixture.results(s, dir, stored = true)),
    // the MIXED L0/stored route under the DuckDB oracle (r14 verdict
    // #4): driver tier budgeted for ~half the coded corpus, distributed
    // tier evicted — resident lists scan driver-side, misses pay the
    // parquet plan, merged pools share facade_pq's oracle verbatim (the
    // fixture asserts mixed serves actually happened)
    "facade_pq_mixed" ->
      ((s, dir) => FacadePqFixture.results(s, dir, mixed = true)),
    // the RESTART route under the DuckDB oracle (r15): close() keeps
    // the stamped codes tree, a reopened handle adopts it from its
    // sidecars and serves every request stored with NO warm call (the
    // fixture asserts adoption and the route counters) — sharing
    // facade_pq's oracle verbatim, because a restart must not change
    // one answer
    "facade_pq_adopted" ->
      ((s, dir) => FacadePqFixture.results(s, dir, adopted = true)),
    "point_lookup" -> ((s, dir) =>
      MutationLog.pointLookup(
        MutationLog.deterministicLog(emb(s, dir)), pointIds)),
    "compact_stats" -> ((s, dir) =>
      MutationLog.compactStats(MutationLog.deterministicLog(emb(s, dir)))),
    "op_stats" -> ((s, dir) =>
      MutationLog.opStats(MutationLog.deterministicLog(emb(s, dir)))),
    // ---- W4/A1/W11: physical segments — write deltas, compact, read back
    "compact_segment" -> ((s, dir) => {
      import graft.segments.Segments
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val log = MutationLog.deterministicLog(e)
      val rows = Ivf.assign(
          log.withColumn("id_hash", hashId(col("id")))
            .withColumn("deleted", col("op") === "DELETE"),
          cents, vecCol = "vec")
        .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
        .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
        .cache()
      val base = java.nio.file.Files
        .createTempDirectory("graft-segments-").toString
      // three delta segments split by epoch band (insert/upsert/delete
      // waves), written as concurrent jobs — independent flushes, like the
      // reference's per-shard flush threads (config.h:30 flush_threads)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val writes = Seq(
        ("delta-000", col("epoch") < 2000),
        ("delta-001", col("epoch") >= 2000 && col("epoch") < 3000),
        ("delta-002", col("epoch") >= 3000)
      ).map { case (seg, pred) => Future {
        Segments.writeSegment(rows.filter(pred), base, seg, isStable = false)
      }}
      writes.foreach(Await.result(_, Duration.Inf))
      Segments.compact(s, base, "stable-000")
      Segments.readSegments(s, base, stableOnly = Some(true))
        .select(col("vec_id"), col("epoch"),
          col("centroid_id").cast("long").as("centroid_id"))
    }),
    // ---- W12+: EXACT tombstone purge (segment.exact_tombstone_purge) —
    // two-generation store where the three tombstone fates all occur:
    // gen-1 stable holds live rows for vec_id % 7 != 0 only; gen-2
    // deltas carry upserts (vid%5) and deletes (vid%10). A delete whose
    // id is live in the stable tier MUST survive the minor compaction;
    // one whose id never reached the stable tier is dead weight and
    // drops. Output = the second stable segment's rows (live + retained
    // tombstones), which the oracle derives from the same arithmetic.
    "compact_exact_purge" -> ((s, dir) => {
      import graft.segments.Segments
      val e = emb(s, dir)
      val log = MutationLog.deterministicLog(e)
      def seg(df: DataFrame): DataFrame = df
        .withColumn("id_hash", hashId(col("id")))
        .withColumn("deleted", col("op") === "DELETE")
        .withColumn("centroid_id", lit(0L))
        .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id",
          "vec")
      val base = java.nio.file.Files
        .createTempDirectory("graft-exactpurge-").toString
      Segments.writeSegment(
        seg(log.filter(col("epoch") < 2000 && col("vec_id") % 7 =!= 0)),
        base, "d0", isStable = false)
      Segments.compact(s, base, "s0")
      Segments.writeSegment(seg(log.filter(col("epoch") >= 2000)),
        base, "d1", isStable = false)
      Segments.compact(s, base, "s1", exactPurge = true)
      Segments.readPaths(s, Segments.catalogDescriptors(s, base)
          .filter(_.segment_id == "s1").map(_.file_path))
        .select(col("vec_id"), col("epoch"), col("deleted"))
    }),
    // ---- Q10/Q11: multi-tier read — buffer ∪ segment, LWW, tombstones --
    "tiered_knn" -> ((s, dir) => {
      import graft.operators.{TieredScan, TopK}
      import graft.segments.Segments
      val e = emb(s, dir)
      val cents = Ivf.deterministicCentroids(e, 50)
      val rows = Ivf.assign(
          MutationLog.deterministicLog(e)
            .withColumn("id_hash", hashId(col("id")))
            .withColumn("deleted", col("op") === "DELETE"),
          cents, vecCol = "vec")
        .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
        .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
        .cache()
      val base = java.nio.file.Files
        .createTempDirectory("graft-tiered-").toString
      // insert wave flushed to a delta segment; upserts+deletes still buffered
      Segments.writeSegment(rows.filter(col("epoch") < 2000), base,
        "delta-000", isStable = false)
      val buffer = rows.filter(col("epoch") >= 2000)
        .withColumn("segment_id", lit("buffer"))
      val live = TieredScan.liveView(
        Seq(buffer, Segments.readSegments(s, base)))
      val scored = live.crossJoin(broadcast(q(s, dir)))
        .select(col("query_id"), col("vec_id"),
          dotD(col("qv"), col("vec")).as("score"))
      TopK.viaAggregator(scored, "query_id", "vec_id", "score", 10)
    }),
    // tiered read on the SERVING path: the stored index with the
    // in-flight buffer folded in by a patched generation (buffered ids
    // shadow their stored versions, tombstones mask, live winners join
    // their lists) — same live-view semantics as tiered_knn, probe-all
    // so the oracle is identical
    "tiered_knn_served" -> ((s, dir) => {
      val idx = ServedFixture.get(s, dir)
      val reqs = q(s, dir).collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      idx.searchAllDF(s, reqs, 10, nprobe = Int.MaxValue)
    }),
    // the batch serving path over the patched generation (Q12 × Q10/T5
    // — batched queries against the live tiered world, the resident
    // server's actual request shape): one probe job for the whole batch.
    // Probe-all, so the oracle is tiered_knn_served's SQL verbatim — the
    // batching must be value-invisible
    "tiered_knn_served_batch" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val idx = ServedFixture.get(s, dir)
      val reqs = q(s, dir).collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val hits = idx.searchBatch(reqs, 10, nprobe = Int.MaxValue)
      val out = reqs.flatMap { case (qid, _) =>
        hits(qid).map { case (id, sc) => Row(qid, id, sc) }
      }
      s.createDataFrame(
        s.sparkContext.parallelize(out, 1),
        StructType(Seq(StructField("query_id", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false))))
    }),
    // the patched generation under probe pruning (nprobe=3): the
    // interesting case probe-all cannot exercise — a stale stored
    // version in a probed list masked by a buffered winner whose own list
    // is NOT probed must vanish entirely (the patch drops it store-wide;
    // candidacy is probed-only). The fixture's lists hold far fewer rows
    // than max_candidates, so the patched list sizes never truncate a
    // probe walk. Oracle mirrors the split: stored tier = epoch < 2000
    // with its own LWW + per-row centroid assignment, buffer =
    // epoch >= 2000, probed top-3 lists per query
    "tiered_knn_served_pruned" -> ((s, dir) => {
      val idx = ServedFixture.get(s, dir)
      val reqs = q(s, dir).collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      idx.searchAllDF(s, reqs, 10, nprobe = 3)
    }),
    // the patched generation through the DRIVER-RESIDENT tier (reference
    // global-index memory cache, yaml:85-89): the fixture's lists fit the
    // default budget, so each probe-all request is served on the calling
    // thread (a probe of an uncached list falls through to the job path,
    // value-identical). The tier must be value-invisible, so the oracle
    // is tiered_knn_served's SQL verbatim. (The name is kept from the
    // distributed form this entry gated before the driver tier
    // replaced it.)
    "tiered_knn_served_dist" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val local = ServedFixture.get(s, dir).toLocal()
      val reqs = q(s, dir).collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val out = reqs.flatMap { case (qid, qv) =>
        local.search(qv, 10, nprobe = Int.MaxValue)
          .map { case (id, sc) => Row(qid, id, sc) }
      }
      s.createDataFrame(
        s.sparkContext.parallelize(out, 1),
        StructType(Seq(StructField("query_id", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("score", DoubleType, nullable = false))))
    }),
    // B1 periodic rebuild: re-cluster the stored latest-live rows under a
    // FINER centroid set (every=25 vs the ingest-time every=50) into a
    // new stable generation — the 24 h centroid-retrain job
    // (config.h:96-99). Output = the new layout's per-list profile.
    "rebuild_layout" -> ((s, dir) => {
      import graft.segments.Segments
      val e = emb(s, dir)
      val cents50 = Ivf.deterministicCentroids(e, 50)
      val rows = Ivf.assign(
          MutationLog.deterministicLog(e)
            .withColumn("id_hash", hashId(col("id")))
            .withColumn("deleted", col("op") === "DELETE"),
          cents50, vecCol = "vec")
        .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
        .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id",
          "vec")
      val base = java.nio.file.Files
        .createTempDirectory("graft-rebuild-").toString
      Segments.writeSegment(rows, base, "delta-000", isStable = false)
      val cents25 = Ivf.deterministicCentroids(e, 25)
      Segments.rebuildLayout(s, base,
        df => Ivf.assign(df, cents25, vecCol = "vec"), "stable-r2")
      Segments.readSegments(s, base, stableOnly = Some(true))
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("vec_id")).cast("long").as("sum_vec_id"))
    }),
    // Q7/Q8 on the physical layout: PQ codes PERSISTED in the segments
    // (encode at ingest, reference config.h:84-94) — phase 1 reads ONLY
    // (vec_id, codes) plus the narrow LWW columns from storage (column
    // pruning), phase 2 reranks from the stored raw vectors
    "knn_pq_stored" -> ((s, dir) => {
      import graft.segments.Segments
      val e = emb(s, dir)
      val cb = Pq.deterministicCodebook(e, 8, 8, 50)
      // codes live IN the shared stored tree (encode-at-ingest): phase 1
      // reads only (vec_id, codes) + the narrow LWW columns from parquet
      val all = Segments.readSegments(s, SegTree.get(s, dir))
      val live = graft.operators.Lww.latestBy(all, "id_hash", "epoch")
        .filter(!col("deleted"))
      Pq.twoPhaseSearch(live, live.select(col("vec_id"), col("codes")),
        cb, q(s, dir), 10, 4, vecCol = "vec")
    }),
    // ---- Q6 on the physical layout: stored-segment IVF search ----------
    "knn_ivf_stored" -> ((s, dir) => {
      val cents = Ivf.deterministicCentroids(emb(s, dir), 50)
      Ivf.searchStored(s, SegTree.get(s, dir), q(s, dir), cents, "ip", 10,
          nprobe = 3)
        .select("query_id", "vec_id", "score")
    }),
    // ---- W8+Q5/B4: point lookup via zone-map + bloom pruned scan -------
    "point_lookup_stored" -> ((s, dir) => {
      import s.implicits._
      import graft.segments.Segments
      val base = SegTree.get(s, dir)
      val probe = pointIds.toDF("vec_id")
        .select(col("vec_id"),
          hashId(concat(lit("vec-"), col("vec_id"))).as("id_hash"))
      val hashes = probe.select("id_hash").collect().map(_.getLong(0)).toSeq
      val latest = Segments.scanForIdHashes(s, base, hashes) match {
        case Some(rows) => graft.operators.Lww.latestBy(
          rows.select(col("id_hash"), col("epoch"), col("deleted")),
          "id_hash", "epoch")
        case None => s.emptyDataset[(Long, Long, Boolean)]
          .toDF("id_hash", "epoch", "deleted")
      }
      probe.join(latest, Seq("id_hash"), "left")
        .select(col("vec_id"),
          (col("deleted").isNotNull && !col("deleted")).as("is_live"),
          coalesce(col("epoch"), lit(-1L)).as("last_epoch"))
    }),
    // ---- A4: catalog stats over the stored delta tier ------------------
    "segment_stats" -> ((s, dir) => {
      import graft.segments.Segments
      Segments.catalogStats(s, SegTree.get(s, dir))
        .select(col("is_stable"), col("n_segments"), col("n_vectors"),
          round(col("max_tombstone_ratio"), 6).as("max_tombstone_ratio"))
    }),
    // ---- T7: events analytics ------------------------------------------
    "events_hourly" -> ((s, dir) => EventOps.hourlyAgg(events(s, dir))),
    "events_top_types" -> ((s, dir) =>
      EventOps.topTypesHourly(events(s, dir))),
    "events_sessions" -> ((s, dir) => EventOps.sessionize(events(s, dir))),
    "events_props" -> ((s, dir) => EventOps.propsKDistribution(events(s, dir))),
    // salted two-phase aggregation: identical answer to events_props
    // (integer sums are order-exact), different physical shape — the
    // hot-key mitigation proven against the same oracle
    "events_props_salted" -> ((s, dir) => {
      import graft.operators.SkewOps
      val ks = events(s, dir)
        .select(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
          .cast("long").as("k"))
        .filter(col("k").isNotNull)
        .select((col("k") % 10).as("k_mod"), col("k"))
      SkewOps.saltedSumCount(ks, Seq(col("k_mod")), col("k"))
        .select(col("k_mod"), col("n"), col("sum_value").as("sum_k"))
    }),
    // ---- text analysis --------------------------------------------------
    "text_stats" -> ((s, dir) => TextOps.textStats(docs(s, dir))),
    "lang_id" -> ((s, dir) => TextOps.langId(docs(s, dir))),
    "doc_fingerprint" -> ((s, dir) => TextOps.fingerprint(docs(s, dir))),
    "lm_score" -> ((s, dir) => TextOps.unigramScore(docs(s, dir))),
    "lm_bigram" -> ((s, dir) => TextOps.bigramScore(docs(s, dir))),
    "boilerplate_ngrams" -> ((s, dir) =>
      TextOps.boilerplateNgrams(docs(s, dir))),
    "pii_redact" -> ((s, dir) => TextOps.piiRedact(docs(s, dir))),
    "pack_sequences" -> ((s, dir) => TextOps.packSequences(docs(s, dir))),
    // benchmark set = every 100th doc; training docs sharing any 8-gram
    // with it are flagged (bench docs trivially contaminate themselves —
    // the realistic signal is their exact/near duplicates)
    "decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.contamination(d, d.filter(col("doc_id") % 100 === 0))
    }),
    "balanced_mix" -> ((s, dir) => TextOps.balancedMix(docs(s, dir))),
    // fuzzy decontamination: near-duplicates ACROSS the corpus/benchmark
    // boundary (the MinHash-based scrub complementing `decontaminate`'s
    // exact n-gram overlap — catches paraphrased leakage the exact path
    // misses). Bench set = doc_id % 10 == 0 (a richer fixture than the
    // exact gate's % 100 — the banded pairs must actually straddle).
    // Output: corpus doc ids to drop.
    "decontaminate_fuzzy" -> ((s, dir) => {
      val pairs = MinhashPairs.get(s, dir).select(col("a"), col("b"))
      val isBench = (c: Column) => c % 10 === 0
      pairs.filter(isBench(col("a")) =!= isBench(col("b")))
        .select(when(isBench(col("a")), col("b")).otherwise(col("a"))
          .as("doc_id"))
        .distinct()
    }),
    // the fixture's sources are equal-sized (every keep rate would be 1)
    // AND doc_id % |sources| IS the source index, so any doc_id-arithmetic
    // skew is degenerate — skew on an md5 slice DISJOINT from the mix
    // gate's first-7-chars hash instead: source srcK keeps a doc iff
    // hash(text)[8:14] % 100 < 100 − 4·K, so sizes fall monotonically
    // with K and every sqrt keep-rate is exercised, not just 1.0
    "temperature_mix" -> ((s, dir) =>
      TextOps.temperatureMix(docs(s, dir).filter(
        pmod(conv(substring(md5(col("text")), 8, 7), 16, 10).cast("long"),
          lit(100L)) <
          lit(100) - lit(4) * substring(col("source"), 4, 10).cast("int")))),
    // ---- dedup ----------------------------------------------------------
    "dedup_exact" -> ((s, dir) => DedupOps.exactGroups(docs(s, dir))),
    "dedup_jaccard" -> ((s, dir) =>
      DedupOps.jaccardPairsWithin(docs(s, dir), "source", 20)),
    "dedup_minhash" -> ((s, dir) => MinhashPairs.get(s, dir)),
    // duplicate-cluster canonical labels over the verified near-dup pairs
    "dedup_clusters" -> ((s, dir) =>
      DedupOps.dupClusters(
        MinhashPairs.get(s, dir).select(col("a"), col("b")))),
    // which source pairs near-duplicate each other (mix-weight input)
    "dup_source_matrix" -> ((s, dir) =>
      DedupOps.dupSourceMatrix(docs(s, dir),
        MinhashPairs.get(s, dir).select(col("a"), col("b")))),
    // per-source survival counts through quality → repetition → near-dup
    "curation_funnel" -> ((s, dir) =>
      TextOps.curationFunnel(docs(s, dir),
        MinhashPairs.get(s, dir).select(col("a"), col("b")))),
    "dedup_simhash" -> ((s, dir) => DedupOps.simhashPairsOracle(docs(s, dir))),
    "dedup_minhash_prod" -> ((s, dir) =>
      DedupOps.minhashNearDups(docs(s, dir), threshold = 0.5)),
    "dup_spans" -> ((s, dir) => DedupOps.dupSpans(docs(s, dir))),
    "cosine_pairs" -> ((s, dir) =>
      DedupOps.cosineTopPairs(emb(s, dir), 50)),
    // ---- S9: tag dictionary ---------------------------------------------
    "tag_dict" -> ((s, dir) => {
      import graft.operators.TagDictionary
      val vt = emb(s, dir).select(col("vec_id"),
        array(concat(lit("label-"), col("label")),
          concat(lit("mod-"), col("vec_id") % 5)).as("tags"))
      val dict = TagDictionary.build(vt, col("tags"))
      TagDictionary.encode(vt, "vec_id", col("tags"), dict)
        .select(col("vec_id"), explode(col("tag_ids")).as("tag_id"))
    }),
    // ---- embedding near-dup, LSH scale path -----------------------------
    "cosine_lsh" -> ((s, dir) =>
      DedupOps.cosineLshPairs(emb(s, dir), threshold = 0.3)),
    // SemDeDup: within-cluster cosine over the shared IVF centroid space
    // (threshold 0.3 exercises the path; see DedupOps.semanticDedup doc)
    "dedup_semantic" -> ((s, dir) => {
      val e = emb(s, dir)
      DedupOps.semanticDedup(
        Ivf.assign(e, Ivf.deterministicCentroids(e, 50)), 0.3)
    }),
    // ---- token counting + quality scoring -------------------------------
    "token_quality" -> ((s, dir) => TextOps.tokenQuality(docs(s, dir))),
    // ---- repetition quality filters (Gopher/RefinedWeb) -----------------
    "repetition_stats" -> ((s, dir) =>
      TextOps.repetitionStats(docs(s, dir))),
    // ---- multimodal: binary media columns → decoded metadata stats ------
    "media_stats" -> ((s, dir) => {
      import graft.operators.MultimodalOps
      MultimodalOps.mediaStats(MultimodalOps.syntheticMedia(docs(s, dir)))
    }),
    // ---- leakage-safe deterministic split -------------------------------
    "sample_split" -> ((s, dir) => {
      val d = docs(s, dir)
      d.groupBy(col("lang"),
          TextOps.hashSplit(d, col("doc_id")).as("split"))
        .agg(count(lit(1)).as("n"))
    }),
    "stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(docs(s, dir), k = 5)),
    // ---- relational (TPC-H-ish) -----------------------------------------
    "q1_pricing" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc"),
          count(lit(1)).as("n"))),
    "q3_top_orders" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      // widen the probe side of the broadcast join (see q1_pricing)
      val l = graft.operators.Parallelism
        .widen(Tables.load(s, dir, "lineitem"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),
    "part_ranks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      Tables.load(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          row_number().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= 3)
    }),
    // ---- int8 storage quantization --------------------------------------
    "emb_quantize" -> ((s, dir) =>
      graft.operators.Quantize.int8Stats(emb(s, dir))),
    // int8-scored two-phase KNN over the quantized corpus (phase-1
    // integer dot on codes × scales, exact; phase-2 raw-vector rerank)
    "knn_int8" -> ((s, dir) =>
      graft.operators.Quantize.int8TwoPhase(emb(s, dir), q(s, dir), 10, 4)),
    // ---- vector table stats ---------------------------------------------
    "emb_label_stats" -> ((s, dir) => {
      val e = emb(s, dir).withColumn("nsq",
        dotD(col("embedding"), col("embedding")))
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), min(col("nsq")).as("min_norm_sq"),
          max(col("nsq")).as("max_norm_sq"))
    })
  )

  // ======================================================================
  // DuckDB oracles. Tables are registered under their bare names over the
  // same parquet files. Shared CTE prefixes below.
  // ======================================================================

  private val EMB =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qv FROM emb
      |  WHERE vec_id % 25 = 0)""".stripMargin

  /** top-k per query_id with (score dir, vec_id asc) ties. */
  private def topkSql(scored: String, k: Int, desc: Boolean): String = {
    val dir = if (desc) "DESC" else "ASC"
    s"""$EMB,
       |scored AS ($scored)
       |SELECT query_id, vec_id, score FROM (
       |  SELECT scored.*, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score $dir, vec_id ASC) AS rn
       |  FROM scored) t
       |WHERE rn <= $k""".stripMargin
  }

  private val MUTLOG =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |log AS (
      |  SELECT 'INSERT' AS op, vec_id, 1000 + vec_id AS epoch, e AS vec
      |    FROM emb
      |  UNION ALL
      |  SELECT 'UPSERT', vec_id, 2000 + vec_id,
      |      list_transform(e, x -> x * 1.01)
      |    FROM emb WHERE vec_id % 5 = 0
      |  UNION ALL
      |  SELECT 'DELETE', vec_id, 3000 + vec_id, CAST(NULL AS DOUBLE[])
      |    FROM emb WHERE vec_id % 10 = 0),
      |latest AS (SELECT op, vec_id, epoch, vec FROM (
      |    SELECT log.*, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY epoch DESC) AS rn FROM log) t
      |  WHERE rn = 1),
      |live AS (SELECT * FROM latest WHERE op <> 'DELETE')""".stripMargin

  private val IVF =
    s"""$EMB,
       |cent AS (SELECT vec_id AS cid, e AS cv FROM emb WHERE vec_id % 50 = 0),
       |asg AS (SELECT vec_id, e, cid AS centroid_id FROM (
       |    SELECT emb.vec_id, emb.e, cent.cid, row_number() OVER (
       |      PARTITION BY emb.vec_id ORDER BY
       |        list_dot_product(emb.e, emb.e)
       |          - 2 * list_dot_product(emb.e, cent.cv)
       |          + list_dot_product(cent.cv, cent.cv) ASC, cent.cid ASC) AS rn
       |    FROM emb CROSS JOIN cent) t
       |  WHERE rn = 1),
       |prb AS (SELECT query_id, qv, cid AS centroid_id FROM (
       |    SELECT q.query_id, q.qv, cent.cid, row_number() OVER (
       |      PARTITION BY q.query_id ORDER BY
       |        list_dot_product(q.qv, q.qv)
       |          - 2 * list_dot_product(q.qv, cent.cv)
       |          + list_dot_product(cent.cv, cent.cv) ASC, cent.cid ASC) AS rn
       |    FROM q CROSS JOIN cent) t
       |  WHERE rn <= 3),
       |ivfscored AS (
       |  SELECT p.query_id, a.vec_id, list_dot_product(p.qv, a.e) AS score
       |  FROM prb p JOIN asg a USING (centroid_id)),
       |ivftop AS (SELECT query_id, vec_id, score FROM (
       |    SELECT ivfscored.*, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
       |    FROM ivfscored) t
       |  WHERE rn <= 10)""".stripMargin

  private val DOCTOKS =
    """WITH d AS (SELECT doc_id, text, lang, source,
      |  string_split(lower(text), ' ') AS toks FROM documents),
      |dt AS (SELECT doc_id, source,
      |  list_filter(toks, x -> x <> '') AS t FROM d)""".stripMargin

  // shingles: distinct 3-grams of non-empty tokens joined by chr(1)
  private val SHINGLES =
    s"""$DOCTOKS,
       |sh AS (SELECT doc_id,
       |  list_distinct(CASE WHEN len(t) >= 3
       |    THEN list_transform(generate_series(1, len(t) - 2),
       |      i -> array_to_string(t[i:i+2], chr(1)))
       |    ELSE [] END) AS sh FROM dt)""".stripMargin

  /** MinHash-LSH verified-pair pipeline through `ver(a, b, jaccard)` —
    * shared by `dedup_minhash` and the downstream cluster/source-matrix
    * oracles (same signature/band/verify arithmetic as
    * [[graft.operators.DedupOps.minhashPairsOracle]]).
    */
  private val MINHASH_VER =
    s"""$SHINGLES,
       |xs AS (SELECT doc_id, sh,
       |    list_transform(sh, s2 ->
       |      CAST(('0x' || substr(md5(s2), 1, 7)) AS BIGINT)) AS xs
       |  FROM sh),
       |sig AS (SELECT doc_id, sh,
       |    list_transform(generate_series(0, 31), i ->
       |      COALESCE(list_min(list_transform(xs, x ->
       |        ((2*i + 1) * x + (i * 40503) % 2147483647) % 2147483647)),
       |        2147483647)) AS sig
       |  FROM xs),
       |banded AS (SELECT doc_id, r.b AS band_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      sig[r.b*4+1 : r.b*4+4]),
       |      (acc, s2) -> (acc * 31 + s2) % 2147483647) AS band_hash
       |  FROM sig, range(8) r(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y
       |    ON x.band_id = y.band_id AND x.band_hash = y.band_hash
       |      AND x.doc_id < y.doc_id),
       |ver AS (SELECT cand.a, cand.b,
       |    CASE WHEN len(sa.sh) + len(sb.sh)
       |        - len(list_intersect(sa.sh, sb.sh)) = 0 THEN 0.0
       |      ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |        / CAST(len(sa.sh) + len(sb.sh)
       |            - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) END
       |      AS jaccard
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = cand.a
       |  JOIN sh sb ON sb.doc_id = cand.b)""".stripMargin

  /** Q13 oracle: the recall sweep, one UNION ALL block per candidate
    * nprobe, sharing the assignment/exact-topk CTEs.
    */
  private def nprobeTuneSql(cands: Seq[Int]): String = {
    val shared =
      s"""$EMB,
         |cent AS (SELECT vec_id AS cid, e AS cv FROM emb
         |  WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, e, cid AS centroid_id FROM (
         |    SELECT emb.vec_id, emb.e, cent.cid, row_number() OVER (
         |      PARTITION BY emb.vec_id ORDER BY
         |        list_dot_product(emb.e, emb.e)
         |          - 2 * list_dot_product(emb.e, cent.cv)
         |          + list_dot_product(cent.cv, cent.cv) ASC, cent.cid ASC)
         |      AS rn
         |    FROM emb CROSS JOIN cent) t
         |  WHERE rn = 1),
         |rankedprb AS (SELECT query_id, qv, cid AS centroid_id, rn FROM (
         |    SELECT q.query_id, q.qv, cent.cid, row_number() OVER (
         |      PARTITION BY q.query_id ORDER BY
         |        list_dot_product(q.qv, q.qv)
         |          - 2 * list_dot_product(q.qv, cent.cv)
         |          + list_dot_product(cent.cv, cent.cv) ASC, cent.cid ASC)
         |      AS rn
         |    FROM q CROSS JOIN cent) t),
         |exacttop AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, emb.vec_id, row_number() OVER (
         |      PARTITION BY q.query_id
         |      ORDER BY list_dot_product(q.qv, emb.e) DESC, emb.vec_id ASC)
         |      AS rn
         |    FROM q CROSS JOIN emb) t
         |  WHERE rn <= 10)""".stripMargin
    val blocks = cands.map { np =>
      s"""SELECT CAST($np AS INTEGER) AS nprobe,
         |  CAST((SELECT count(*) FROM (
         |      SELECT t.query_id, t.vec_id FROM (
         |        SELECT s.query_id, s.vec_id, row_number() OVER (
         |          PARTITION BY s.query_id
         |          ORDER BY s.score DESC, s.vec_id ASC) AS rn
         |        FROM (SELECT p.query_id, a.vec_id,
         |            list_dot_product(p.qv, a.e) AS score
         |          FROM rankedprb p JOIN asg a USING (centroid_id)
         |          WHERE p.rn <= $np) s) t
         |      WHERE t.rn <= 10) i
         |    JOIN exacttop e2
         |      ON i.query_id = e2.query_id AND i.vec_id = e2.vec_id)
         |    AS DOUBLE)
         |    / ((SELECT count(*) FROM q) * 10.0) AS recall""".stripMargin
    }
    shared + "\n" + blocks.mkString("\nUNION ALL\n")
  }

  /** The facade's stable-tier PQ door as DuckDB SQL: two-phase over the
    * LIVE corpus (MUTLOG live CTE) with the deterministic codebook
    * built from the RAW emb rows — the same adc/cand/exact pipeline as
    * knn_pq2phase, corpus swapped for the facade's LWW-resolved live
    * view. Shared verbatim by `facade_pq` and `facade_pq_batch` (the
    * batch door is an execution shape, not a semantic).
    */
  private lazy val facadePqSql: String =
    s"""$MUTLOG,
       |q AS (SELECT vec_id AS query_id, e AS qv FROM emb
       |  WHERE vec_id % 25 = 0),
       |cb AS (SELECT r.j, vec_id AS code_id,
       |    e[r.j*8+1 : r.j*8+8] AS cw
       |  FROM emb, range(8) r(j) WHERE vec_id % 50 = 0),
       |sv AS (SELECT live.vec_id, r.j, vec[r.j*8+1 : r.j*8+8] AS s
       |  FROM live, range(8) r(j)),
       |codes AS (SELECT vec_id, j, code_id FROM (
       |    SELECT sv.vec_id, sv.j, cb.code_id, row_number() OVER (
       |      PARTITION BY sv.vec_id, sv.j ORDER BY
       |        list_dot_product(sv.s, sv.s)
       |          - 2 * list_dot_product(sv.s, cb.cw)
       |          + list_dot_product(cb.cw, cb.cw) ASC, cb.code_id ASC) AS rn
       |    FROM sv JOIN cb USING (j)) t
       |  WHERE rn = 1),
       |lut AS (SELECT q.query_id, cb.j, cb.code_id,
       |    list_dot_product(q.qv[cb.j*8+1 : cb.j*8+8], cb.cw) AS part
       |  FROM q CROSS JOIN cb),
       |adc AS (SELECT l.query_id, c.vec_id,
       |    list_sum(list(l.part ORDER BY l.j)) AS approx_score
       |  FROM codes c JOIN lut l ON c.j = l.j AND c.code_id = l.code_id
       |  GROUP BY l.query_id, c.vec_id),
       |cand AS (SELECT query_id, vec_id FROM (
       |    SELECT adc.*, row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY approx_score DESC, vec_id ASC) AS rn FROM adc) t
       |  WHERE rn <= 40),
       |exact AS (SELECT cand.query_id, cand.vec_id,
       |    list_dot_product(q.qv, live.vec) AS score
       |  FROM cand JOIN q USING (query_id) JOIN live USING (vec_id))
       |SELECT query_id, vec_id, score FROM (
       |  SELECT exact.*, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
       |  FROM exact) t
       |WHERE rn <= 10""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // tiers that must be VALUE-INVISIBLE share their twin's oracle
    // verbatim (resolved here so the long SQL exists once)
    "knn_pq_local" -> oracleSqlBase("knn_pq2phase"),
    // the batched PQ door serves the SAME values as the per-query door
    // (one phase-1 job + one store plan per chunk is an execution
    // shape, not a semantic) — it shares the oracle verbatim
    "facade_pq_batch" -> facadePqSql,
    // the distributed tier at DEEP fetch shares the two-phase oracle at
    // rerank 40 (the only difference is the candidate-pool cut rn<=400
    // instead of rn<=40 — one substitution keeps the two SQLs from
    // drifting apart)
    "knn_pq_deep" ->
      oracleSqlBase("knn_pq2phase").replace("rn <= 40)", "rn <= 400)"),
    // the facade's stable-tier PQ door (SQL hoisted to [[facadePqSql]]
    // — the batch door shares it verbatim)
    "facade_pq" -> facadePqSql,
    // the stored L2 route is VALUE-IDENTICAL to the cache levels by
    // construction (same probe walk, same LUT doubles, same kernel,
    // same ranking contract) — it shares the oracle verbatim; the
    // fixture separately asserts every request actually routed stored
    "facade_pq_stored" -> facadePqSql,
    // the mixed L0/stored split is an execution shape, not a semantic
    // (top-n of the union == top-n of the full probe set) — same oracle
    // verbatim; the fixture asserts the split actually happened
    "facade_pq_mixed" -> facadePqSql,
    // a RESTART is a lifecycle event, not a semantic: the adopted tree
    // carries the same codes and codebook the warm wrote, so the
    // reopened door shares the oracle verbatim; the fixture asserts
    // adoption happened and every request routed stored
    "facade_pq_adopted" -> facadePqSql,
    // the PQ door under metric l2: phase 1 ranks by NEGATED expanded-L2
    // ADC (a dot-product pool would be systematically wrong for an l2
    // collection), phase 2 is the exact squared distance — ascending
    "facade_pq_l2" ->
      s"""$MUTLOG,
         |q AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |cb AS (SELECT r.j, vec_id AS code_id,
         |    e[r.j*8+1 : r.j*8+8] AS cw
         |  FROM emb, range(8) r(j) WHERE vec_id % 50 = 0),
         |sv AS (SELECT live.vec_id, r.j, vec[r.j*8+1 : r.j*8+8] AS s
         |  FROM live, range(8) r(j)),
         |codes AS (SELECT vec_id, j, code_id FROM (
         |    SELECT sv.vec_id, sv.j, cb.code_id, row_number() OVER (
         |      PARTITION BY sv.vec_id, sv.j ORDER BY
         |        list_dot_product(sv.s, sv.s)
         |          - 2 * list_dot_product(sv.s, cb.cw)
         |          + list_dot_product(cb.cw, cb.cw) ASC, cb.code_id ASC) AS rn
         |    FROM sv JOIN cb USING (j)) t
         |  WHERE rn = 1),
         |lut AS (SELECT q.query_id, cb.j, cb.code_id,
         |    -list_sum(list_transform(range(1, 9), i ->
         |      (q.qv[cb.j*8+i] - cb.cw[i]) * (q.qv[cb.j*8+i] - cb.cw[i])))
         |      AS part
         |  FROM q CROSS JOIN cb),
         |adc AS (SELECT l.query_id, c.vec_id,
         |    list_sum(list(l.part ORDER BY l.j)) AS approx_score
         |  FROM codes c JOIN lut l ON c.j = l.j AND c.code_id = l.code_id
         |  GROUP BY l.query_id, c.vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT adc.*, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY approx_score DESC, vec_id ASC) AS rn FROM adc) t
         |  WHERE rn <= 40),
         |exact AS (SELECT cand.query_id, cand.vec_id,
         |    list_sum(list_transform(range(1, 65), i ->
         |      (q.qv[i] - live.vec[i]) * (q.qv[i] - live.vec[i]))) AS score
         |  FROM cand JOIN q USING (query_id) JOIN live USING (vec_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT exact.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score ASC, vec_id ASC) AS rn
         |  FROM exact) t
         |WHERE rn <= 10""".stripMargin,
    // the PQ door under metric cosine: codes encode L2-NORMALIZED live
    // vectors (the admission pass normalizes — the reference's
    // cosine-via-L2-norm-at-ingest contract), the LUT is the IP LUT
    // over the query divided by its norm, and phase 2 is exact cosine
    // against the RAW store
    "facade_pq_cosine" ->
      s"""$MUTLOG,
         |q AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |qn AS (SELECT query_id, qv,
         |    sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
         |nv AS (SELECT vec_id, list_transform(vec,
         |    x -> x / sqrt(list_dot_product(vec, vec))) AS nvec FROM live),
         |cb AS (SELECT r.j, vec_id AS code_id,
         |    e[r.j*8+1 : r.j*8+8] AS cw
         |  FROM emb, range(8) r(j) WHERE vec_id % 50 = 0),
         |sv AS (SELECT nv.vec_id, r.j, nvec[r.j*8+1 : r.j*8+8] AS s
         |  FROM nv, range(8) r(j)),
         |codes AS (SELECT vec_id, j, code_id FROM (
         |    SELECT sv.vec_id, sv.j, cb.code_id, row_number() OVER (
         |      PARTITION BY sv.vec_id, sv.j ORDER BY
         |        list_dot_product(sv.s, sv.s)
         |          - 2 * list_dot_product(sv.s, cb.cw)
         |          + list_dot_product(cb.cw, cb.cw) ASC, cb.code_id ASC) AS rn
         |    FROM sv JOIN cb USING (j)) t
         |  WHERE rn = 1),
         |lut AS (SELECT qn.query_id, cb.j, cb.code_id,
         |    list_dot_product(qn.qv[cb.j*8+1 : cb.j*8+8], cb.cw) / qn.qnorm
         |      AS part
         |  FROM qn CROSS JOIN cb),
         |adc AS (SELECT l.query_id, c.vec_id,
         |    list_sum(list(l.part ORDER BY l.j)) AS approx_score
         |  FROM codes c JOIN lut l ON c.j = l.j AND c.code_id = l.code_id
         |  GROUP BY l.query_id, c.vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT adc.*, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY approx_score DESC, vec_id ASC) AS rn FROM adc) t
         |  WHERE rn <= 40),
         |exact AS (SELECT cand.query_id, cand.vec_id,
         |    list_dot_product(q.qv, live.vec)
         |      / (sqrt(list_dot_product(q.qv, q.qv))
         |         * sqrt(list_dot_product(live.vec, live.vec))) AS score
         |  FROM cand JOIN q USING (query_id) JOIN live USING (vec_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT exact.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM exact) t
         |WHERE rn <= 10""".stripMargin,
    // exact tombstone purge: LWW of the gen-2 delta; a tombstone
    // survives iff its id is live in the gen-1 stable tier
    // (vec_id % 7 <> 0 — ids the fixture kept out never reached stable)
    "compact_exact_purge" ->
      """WITH emb AS (SELECT vec_id FROM embeddings),
        |d2 AS (
        |  SELECT 'UPSERT' AS op, vec_id, 2000 + vec_id AS epoch
        |    FROM emb WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT 'DELETE', vec_id, 3000 + vec_id
        |    FROM emb WHERE vec_id % 10 = 0),
        |lww AS (SELECT vec_id, epoch, (op = 'DELETE') AS deleted FROM (
        |    SELECT d2.*, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY epoch DESC) AS rn FROM d2) t
        |  WHERE rn = 1)
        |SELECT vec_id, epoch, deleted FROM lww
        |WHERE NOT deleted OR vec_id % 7 <> 0""".stripMargin)

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "nprobe_tune" -> nprobeTuneSql(Seq(1, 2, 4)),
    "knn_exact_ip" -> topkSql(
      """SELECT q.query_id, emb.vec_id,
        |    list_dot_product(q.qv, emb.e) AS score
        |  FROM q CROSS JOIN emb""".stripMargin, 10, desc = true),
    // two-level layout at probe-all width == the exact scan (the
    // hierarchy moves rows between lists, never in or out of the probe
    // union when every list is probed)
    "knn_twolevel" -> topkSql(
      """SELECT q.query_id, emb.vec_id,
        |    list_dot_product(q.qv, emb.e) AS score
        |  FROM q CROSS JOIN emb""".stripMargin, 10, desc = true),
    // Q14 at exhaustive beam width == the exact scan (HnswSpec proves
    // the equivalence; the oracle pins it per-value on real data)
    "knn_hnsw" -> topkSql(
      """SELECT q.query_id, emb.vec_id,
        |    list_dot_product(q.qv, emb.e) AS score
        |  FROM q CROSS JOIN emb""".stripMargin, 10, desc = true),
    // Q14 cache lifecycle: cold fall-through (probe-all) and hot
    // exhaustive-ef serve are BOTH exact, so the whole admission/
    // refresh/serve cycle shares the exact oracle verbatim
    "knn_hnsw_cache" -> topkSql(
      """SELECT q.query_id, emb.vec_id,
        |    list_dot_product(q.qv, emb.e) AS score
        |  FROM q CROSS JOIN emb""".stripMargin, 10, desc = true),
    "knn_exact_l2" -> topkSql(
      """SELECT q.query_id, emb.vec_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (q.qv[i] - emb.e[i]) * (q.qv[i] - emb.e[i]))) AS score
        |  FROM q CROSS JOIN emb""".stripMargin, 10, desc = false),
    "knn_exact_cosine" -> topkSql(
      """SELECT q.query_id, emb.vec_id,
        |    list_dot_product(q.qv, emb.e)
        |      / (sqrt(list_dot_product(q.qv, q.qv))
        |         * sqrt(list_dot_product(emb.e, emb.e))) AS score
        |  FROM q CROSS JOIN emb""".stripMargin, 10, desc = true),
    "knn_filtered" -> topkSql(
      """SELECT q.query_id, v.vec_id,
        |    list_dot_product(q.qv, v.e) AS score
        |  FROM q CROSS JOIN (
        |    SELECT vec_id, e,
        |      't' || CAST(vec_id % 3 AS VARCHAR) AS tenant,
        |      [CAST(label AS BIGINT), 10 + vec_id % 5] AS tags
        |    FROM emb) v
        |  WHERE v.tenant = 't1'
        |    AND list_has_any(v.tags, [CAST(3 AS BIGINT), CAST(11 AS BIGINT)])"""
        .stripMargin, 10, desc = true),
    // identical semantics to knn_filtered — the row-level tag index must
    // be invisible in the values, so it shares the oracle verbatim
    "knn_filtered_bitmap" -> topkSql(
      """SELECT q.query_id, v.vec_id,
        |    list_dot_product(q.qv, v.e) AS score
        |  FROM q CROSS JOIN (
        |    SELECT vec_id, e,
        |      't' || CAST(vec_id % 3 AS VARCHAR) AS tenant,
        |      [CAST(label AS BIGINT), 10 + vec_id % 5] AS tags
        |    FROM emb) v
        |  WHERE v.tenant = 't1'
        |    AND list_has_any(v.tags, [CAST(3 AS BIGINT), CAST(11 AS BIGINT)])"""
        .stripMargin, 10, desc = true),
    "knn_sampled" -> topkSql(
      """SELECT q.query_id, emb.vec_id,
        |    list_dot_product(q.qv, emb.e) AS score
        |  FROM q CROSS JOIN emb
        |  WHERE (emb.vec_id * 2654435761) % 100 < 25""".stripMargin,
      10, desc = true),
    "knn_ivf" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM ivftop""".stripMargin,
    // declarative-ANN rewrite at probe-all width == the exact scan for
    // query 0 (every list probed ⇒ the In-filter keeps every row)
    "ann_sql_topk" ->
      s"""$EMB,
         |q0 AS (SELECT qv FROM q WHERE query_id = 0),
         |scored AS (SELECT emb.vec_id,
         |    list_dot_product(emb.e, q0.qv) AS score
         |  FROM emb CROSS JOIN q0)
         |SELECT vec_id, score FROM (
         |  SELECT scored.*, row_number() OVER (
         |    ORDER BY score DESC, vec_id ASC) AS rn FROM scored) t
         |WHERE rn <= 10""".stripMargin,
    // declarative-ANN rewrite at nprobe=3 == the IVF search for query 0
    // (the rule's probe/assignment contract IS the IVF CTE's)
    "ann_sql_probed" ->
      s"""$IVF
         |SELECT vec_id, score FROM ivftop
         |WHERE query_id = 0""".stripMargin,
    // filtered declarative ANN: predicate applies INSIDE the probed
    // lists, before the top-k (the Q2/Q3 composition contract)
    "ann_sql_filtered" ->
      s"""$EMB,
         |cent AS (SELECT vec_id AS cid, e AS cv FROM emb
         |  WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, e, cid AS centroid_id FROM (
         |    SELECT emb.vec_id, emb.e, cent.cid, row_number() OVER (
         |      PARTITION BY emb.vec_id ORDER BY
         |        list_dot_product(emb.e, emb.e)
         |          - 2 * list_dot_product(emb.e, cent.cv)
         |          + list_dot_product(cent.cv, cent.cv) ASC,
         |        cent.cid ASC) AS rn
         |    FROM emb CROSS JOIN cent) t
         |  WHERE rn = 1),
         |q0 AS (SELECT qv FROM q WHERE query_id = 0),
         |prb AS (SELECT cid AS centroid_id FROM (
         |    SELECT cent.cid, row_number() OVER (ORDER BY
         |        list_dot_product(q0.qv, q0.qv)
         |          - 2 * list_dot_product(q0.qv, cent.cv)
         |          + list_dot_product(cent.cv, cent.cv) ASC,
         |        cent.cid ASC) AS rn
         |    FROM q0 CROSS JOIN cent) t
         |  WHERE rn <= 3),
         |scored AS (
         |  SELECT a.vec_id, list_dot_product(q0.qv, a.e) AS score
         |  FROM prb p JOIN asg a USING (centroid_id)
         |  CROSS JOIN q0
         |  JOIN emb ON a.vec_id = emb.vec_id
         |  WHERE emb.label % 2 = 0)
         |SELECT vec_id, score FROM (
         |  SELECT scored.*, row_number() OVER (
         |    ORDER BY score DESC, vec_id ASC) AS rn FROM scored) t
         |WHERE rn <= 10""".stripMargin,
    "knn_point" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM ivftop
         |WHERE query_id IN (
         |  SELECT query_id FROM q ORDER BY query_id LIMIT 10)""".stripMargin,
    "knn_point_served" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM ivftop
         |WHERE query_id IN (
         |  SELECT query_id FROM q ORDER BY query_id LIMIT 10)""".stripMargin,
    // the driver-resident cache tier must be value-invisible — same
    // oracle as the job path verbatim
    "knn_point_local" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM ivftop
         |WHERE query_id IN (
         |  SELECT query_id FROM q ORDER BY query_id LIMIT 10)""".stripMargin,
    // identical semantics to knn_point — the one-job batch path must be
    // value-invisible, so it shares the oracle verbatim
    "knn_point_batched" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM ivftop
         |WHERE query_id IN (
         |  SELECT query_id FROM q ORDER BY query_id LIMIT 10)""".stripMargin,
    "knn_ivf_sampled" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM (SELECT p.query_id, a.vec_id,
         |      list_dot_product(p.qv, a.e) AS score
         |    FROM prb p JOIN asg a USING (centroid_id)
         |    WHERE (a.vec_id * 2654435761) % 100 < 25) f) t
         |WHERE rn <= 10""".stripMargin,
    "knn_ivf_filtered" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM (SELECT p.query_id, a.vec_id,
         |      list_dot_product(p.qv, a.e) AS score
         |    FROM prb p JOIN asg a USING (centroid_id)
         |    JOIN emb em ON em.vec_id = a.vec_id
         |    WHERE 't' || CAST(a.vec_id % 3 AS VARCHAR) = 't1'
         |      AND list_has_any(
         |        [CAST(em.label AS BIGINT), 10 + a.vec_id % 5],
         |        [CAST(3 AS BIGINT), CAST(11 AS BIGINT)])) f) t
         |WHERE rn <= 10""".stripMargin,
    "knn_point_served_filtered" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM (SELECT p.query_id, a.vec_id,
         |      list_dot_product(p.qv, a.e) AS score
         |    FROM prb p JOIN asg a USING (centroid_id)
         |    JOIN emb em ON em.vec_id = a.vec_id
         |    WHERE 't' || CAST(a.vec_id % 3 AS VARCHAR) = 't1'
         |      AND list_has_any(
         |        [CAST(em.label AS BIGINT), 10 + a.vec_id % 5],
         |        [CAST(3 AS BIGINT), CAST(11 AS BIGINT)])) f) t
         |WHERE rn <= 10
         |  AND query_id IN (
         |    SELECT query_id FROM q ORDER BY query_id LIMIT 10)""".stripMargin,
    // identical semantics to knn_point_served_filtered — the posting
    // prefilter must be invisible in the values, so it shares the oracle
    "knn_point_served_posting" ->
      s"""$IVF
         |SELECT query_id, vec_id, score FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM (SELECT p.query_id, a.vec_id,
         |      list_dot_product(p.qv, a.e) AS score
         |    FROM prb p JOIN asg a USING (centroid_id)
         |    JOIN emb em ON em.vec_id = a.vec_id
         |    WHERE 't' || CAST(a.vec_id % 3 AS VARCHAR) = 't1'
         |      AND list_has_any(
         |        [CAST(em.label AS BIGINT), 10 + a.vec_id % 5],
         |        [CAST(3 AS BIGINT), CAST(11 AS BIGINT)])) f) t
         |WHERE rn <= 10
         |  AND query_id IN (
         |    SELECT query_id FROM q ORDER BY query_id LIMIT 10)""".stripMargin,
    "knn_pq2phase" ->
      s"""$EMB,
         |cb AS (SELECT r.j, vec_id AS code_id,
         |    e[r.j*8+1 : r.j*8+8] AS cw
         |  FROM emb, range(8) r(j) WHERE vec_id % 50 = 0),
         |sv AS (SELECT emb.vec_id, r.j, e[r.j*8+1 : r.j*8+8] AS s
         |  FROM emb, range(8) r(j)),
         |codes AS (SELECT vec_id, j, code_id FROM (
         |    SELECT sv.vec_id, sv.j, cb.code_id, row_number() OVER (
         |      PARTITION BY sv.vec_id, sv.j ORDER BY
         |        list_dot_product(sv.s, sv.s)
         |          - 2 * list_dot_product(sv.s, cb.cw)
         |          + list_dot_product(cb.cw, cb.cw) ASC, cb.code_id ASC) AS rn
         |    FROM sv JOIN cb USING (j)) t
         |  WHERE rn = 1),
         |lut AS (SELECT q.query_id, cb.j, cb.code_id,
         |    list_dot_product(q.qv[cb.j*8+1 : cb.j*8+8], cb.cw) AS part
         |  FROM q CROSS JOIN cb),
         |adc AS (SELECT l.query_id, c.vec_id,
         |    list_sum(list(l.part ORDER BY l.j)) AS approx_score
         |  FROM codes c JOIN lut l ON c.j = l.j AND c.code_id = l.code_id
         |  GROUP BY l.query_id, c.vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT adc.*, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY approx_score DESC, vec_id ASC) AS rn FROM adc) t
         |  WHERE rn <= 40),
         |exact AS (SELECT cand.query_id, cand.vec_id,
         |    list_dot_product(q.qv, emb.e) AS score
         |  FROM cand JOIN q USING (query_id) JOIN emb USING (vec_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT exact.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM exact) t
         |WHERE rn <= 10""".stripMargin,
    "knn_pq_opq" ->
      s"""$EMB,
         |remb AS (SELECT vec_id, list_transform(range(64),
         |    i -> (CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END)
         |      * e[((17 * i + 3) % 64) + 1]) AS e
         |  FROM emb),
         |rq AS (SELECT query_id, list_transform(range(64),
         |    i -> (CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END)
         |      * qv[((17 * i + 3) % 64) + 1]) AS qv
         |  FROM q),
         |cb AS (SELECT r.j, vec_id AS code_id,
         |    e[r.j*8+1 : r.j*8+8] AS cw
         |  FROM remb, range(8) r(j) WHERE vec_id % 50 = 0),
         |sv AS (SELECT remb.vec_id, r.j, e[r.j*8+1 : r.j*8+8] AS s
         |  FROM remb, range(8) r(j)),
         |codes AS (SELECT vec_id, j, code_id FROM (
         |    SELECT sv.vec_id, sv.j, cb.code_id, row_number() OVER (
         |      PARTITION BY sv.vec_id, sv.j ORDER BY
         |        list_dot_product(sv.s, sv.s)
         |          - 2 * list_dot_product(sv.s, cb.cw)
         |          + list_dot_product(cb.cw, cb.cw) ASC, cb.code_id ASC) AS rn
         |    FROM sv JOIN cb USING (j)) t
         |  WHERE rn = 1),
         |lut AS (SELECT rq.query_id, cb.j, cb.code_id,
         |    list_dot_product(rq.qv[cb.j*8+1 : cb.j*8+8], cb.cw) AS part
         |  FROM rq CROSS JOIN cb),
         |adc AS (SELECT l.query_id, c.vec_id,
         |    list_sum(list(l.part ORDER BY l.j)) AS approx_score
         |  FROM codes c JOIN lut l ON c.j = l.j AND c.code_id = l.code_id
         |  GROUP BY l.query_id, c.vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT adc.*, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY approx_score DESC, vec_id ASC) AS rn FROM adc) t
         |  WHERE rn <= 40),
         |exact AS (SELECT cand.query_id, cand.vec_id,
         |    list_dot_product(q.qv, emb.e) AS score
         |  FROM cand JOIN q USING (query_id) JOIN emb USING (vec_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT exact.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM exact) t
         |WHERE rn <= 10""".stripMargin,
    // the TRAINED rotation replay: identical pipeline to knn_pq_opq but
    // the rotation comes from the parquet the Spark query persisted —
    // rotate is one list_dot_product per output dim (sequential double
    // accumulation, the same arithmetic as the engine's MatVec kernel)
    "knn_pq_opq_trained" ->
      s"""$EMB,
         |rot AS (SELECT i, rw FROM read_parquet(
         |  '$scratchRoot/opq_rotation_trained_{GRAFT_SF}/*.parquet')),
         |remb AS (SELECT vec_id, list(dp ORDER BY i) AS e FROM (
         |    SELECT emb.vec_id, r.i, list_dot_product(r.rw, emb.e) AS dp
         |    FROM emb CROSS JOIN rot r) t
         |  GROUP BY vec_id),
         |rq AS (SELECT query_id, list(dp ORDER BY i) AS qv FROM (
         |    SELECT q.query_id, r.i, list_dot_product(r.rw, q.qv) AS dp
         |    FROM q CROSS JOIN rot r) t
         |  GROUP BY query_id),
         |cb AS (SELECT r.j, vec_id AS code_id,
         |    e[r.j*8+1 : r.j*8+8] AS cw
         |  FROM remb, range(8) r(j) WHERE vec_id % 50 = 0),
         |sv AS (SELECT remb.vec_id, r.j, e[r.j*8+1 : r.j*8+8] AS s
         |  FROM remb, range(8) r(j)),
         |codes AS (SELECT vec_id, j, code_id FROM (
         |    SELECT sv.vec_id, sv.j, cb.code_id, row_number() OVER (
         |      PARTITION BY sv.vec_id, sv.j ORDER BY
         |        list_dot_product(sv.s, sv.s)
         |          - 2 * list_dot_product(sv.s, cb.cw)
         |          + list_dot_product(cb.cw, cb.cw) ASC, cb.code_id ASC) AS rn
         |    FROM sv JOIN cb USING (j)) t
         |  WHERE rn = 1),
         |lut AS (SELECT rq.query_id, cb.j, cb.code_id,
         |    list_dot_product(rq.qv[cb.j*8+1 : cb.j*8+8], cb.cw) AS part
         |  FROM rq CROSS JOIN cb),
         |adc AS (SELECT l.query_id, c.vec_id,
         |    list_sum(list(l.part ORDER BY l.j)) AS approx_score
         |  FROM codes c JOIN lut l ON c.j = l.j AND c.code_id = l.code_id
         |  GROUP BY l.query_id, c.vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT adc.*, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY approx_score DESC, vec_id ASC) AS rn FROM adc) t
         |  WHERE rn <= 40),
         |exact AS (SELECT cand.query_id, cand.vec_id,
         |    list_dot_product(q.qv, emb.e) AS score
         |  FROM cand JOIN q USING (query_id) JOIN emb USING (vec_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT exact.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM exact) t
         |WHERE rn <= 10""".stripMargin,
    "recall_ivf" ->
      s"""$IVF,
         |exacttop AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, emb.vec_id, row_number() OVER (
         |      PARTITION BY q.query_id
         |      ORDER BY list_dot_product(q.qv, emb.e) DESC, emb.vec_id ASC)
         |      AS rn
         |    FROM q CROSS JOIN emb) t
         |  WHERE rn <= 10),
         |hits AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS c
         |  FROM exacttop e JOIN ivftop i
         |    ON e.query_id = i.query_id AND e.vec_id = i.vec_id
         |  GROUP BY e.query_id)
         |SELECT q.query_id,
         |  CAST(COALESCE(h.c, 0) AS DOUBLE) / 10.0 AS recall
         |FROM q LEFT JOIN hits h ON q.query_id = h.query_id""".stripMargin,
    "upsert_live" ->
      s"""$MUTLOG
         |SELECT vec_id, op, epoch,
         |  list_dot_product(vec, vec) AS norm_sq
         |FROM live""".stripMargin,
    "facade_live" ->
      s"""$MUTLOG
         |SELECT vec_id, epoch,
         |  list_dot_product(vec, vec) AS norm_sq
         |FROM live""".stripMargin,
    "facade_stream_live" ->
      s"""$MUTLOG
         |SELECT vec_id, epoch,
         |  list_dot_product(vec, vec) AS norm_sq
         |FROM live""".stripMargin,
    "point_lookup" ->
      s"""$MUTLOG,
         |probe AS (SELECT CAST(UNNEST([${pointIds.mkString(", ")}]) AS BIGINT)
         |  AS vec_id)
         |SELECT p.vec_id,
         |  (l.op IS NOT NULL AND l.op <> 'DELETE') AS is_live,
         |  COALESCE(l.epoch, -1) AS last_epoch
         |FROM probe p LEFT JOIN latest l USING (vec_id)""".stripMargin,
    "compact_stats" ->
      s"""$MUTLOG
         |SELECT vec_id % 16 AS shard,
         |  CAST(count(*) AS BIGINT) AS n_live,
         |  CAST(sum(epoch) AS BIGINT) AS sum_epoch,
         |  min(vec_id) AS min_vec_id,
         |  max(vec_id) AS max_vec_id
         |FROM live GROUP BY 1""".stripMargin,
    "op_stats" ->
      s"""$MUTLOG
         |SELECT op, CAST(count(*) AS BIGINT) AS n,
         |  min(epoch) AS min_epoch, max(epoch) AS max_epoch
         |FROM log GROUP BY op""".stripMargin,
    "tiered_knn" ->
      s"""$MUTLOG,
         |qq AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |scored AS (SELECT qq.query_id, l.vec_id,
         |    list_dot_product(qq.qv, l.vec) AS score
         |  FROM qq CROSS JOIN live l)
         |SELECT query_id, vec_id, score FROM (
         |  SELECT scored.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM scored) t
         |WHERE rn <= 10""".stripMargin,
    "knn_pq_stored" ->
      s"""$MUTLOG,
         |qq AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |cb AS (SELECT r.j, vec_id AS code_id,
         |    e[r.j*8+1 : r.j*8+8] AS cw
         |  FROM emb, range(8) r(j) WHERE vec_id % 50 = 0),
         |sv AS (SELECT l.vec_id, r.j, l.vec[r.j*8+1 : r.j*8+8] AS s
         |  FROM live l, range(8) r(j)),
         |codes AS (SELECT vec_id, j, code_id FROM (
         |    SELECT sv.vec_id, sv.j, cb.code_id, row_number() OVER (
         |      PARTITION BY sv.vec_id, sv.j ORDER BY
         |        list_dot_product(sv.s, sv.s)
         |          - 2 * list_dot_product(sv.s, cb.cw)
         |          + list_dot_product(cb.cw, cb.cw) ASC, cb.code_id ASC) AS rn
         |    FROM sv JOIN cb USING (j)) t
         |  WHERE rn = 1),
         |lut AS (SELECT qq.query_id, cb.j, cb.code_id,
         |    list_dot_product(qq.qv[cb.j*8+1 : cb.j*8+8], cb.cw) AS part
         |  FROM qq CROSS JOIN cb),
         |adc AS (SELECT l.query_id, c.vec_id,
         |    list_sum(list(l.part ORDER BY l.j)) AS approx_score
         |  FROM codes c JOIN lut l ON c.j = l.j AND c.code_id = l.code_id
         |  GROUP BY l.query_id, c.vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT adc.*, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY approx_score DESC, vec_id ASC) AS rn FROM adc) t
         |  WHERE rn <= 40),
         |exact AS (SELECT cand.query_id, cand.vec_id,
         |    list_dot_product(qq.qv, l.vec) AS score
         |  FROM cand JOIN qq USING (query_id)
         |  JOIN live l USING (vec_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT exact.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM exact) t
         |WHERE rn <= 10""".stripMargin,
    "rebuild_layout" ->
      s"""$MUTLOG,
         |cent AS (SELECT vec_id AS cid, e AS cv FROM emb
         |  WHERE vec_id % 25 = 0),
         |la AS (SELECT vec_id, cid AS centroid_id FROM (
         |    SELECT l.vec_id, c.cid, row_number() OVER (
         |      PARTITION BY l.vec_id ORDER BY
         |        list_dot_product(l.vec, l.vec)
         |          - 2 * list_dot_product(l.vec, c.cv)
         |          + list_dot_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
         |    FROM live l CROSS JOIN cent c) t
         |  WHERE rn = 1)
         |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
         |FROM la GROUP BY centroid_id""".stripMargin,
    "tiered_knn_served" ->
      s"""$MUTLOG,
         |qq AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |scored AS (SELECT qq.query_id, l.vec_id,
         |    list_dot_product(qq.qv, l.vec) AS score
         |  FROM qq CROSS JOIN live l)
         |SELECT query_id, vec_id, score FROM (
         |  SELECT scored.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM scored) t
         |WHERE rn <= 10""".stripMargin,
    // identical semantics to tiered_knn_served — the one-job batch path
    // over the tiered world must be value-invisible, so it shares the
    // oracle verbatim
    "tiered_knn_served_batch" ->
      s"""$MUTLOG,
         |qq AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |scored AS (SELECT qq.query_id, l.vec_id,
         |    list_dot_product(qq.qv, l.vec) AS score
         |  FROM qq CROSS JOIN live l)
         |SELECT query_id, vec_id, score FROM (
         |  SELECT scored.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM scored) t
         |WHERE rn <= 10""".stripMargin,
    // identical semantics to tiered_knn_served — the driver-resident
    // tier must be value-invisible, so it shares the oracle verbatim
    "tiered_knn_served_dist" ->
      s"""$MUTLOG,
         |qq AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |scored AS (SELECT qq.query_id, l.vec_id,
         |    list_dot_product(qq.qv, l.vec) AS score
         |  FROM qq CROSS JOIN live l)
         |SELECT query_id, vec_id, score FROM (
         |  SELECT scored.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM scored) t
         |WHERE rn <= 10""".stripMargin,
    "tiered_knn_served_pruned" ->
      s"""$MUTLOG,
         |qq AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |cent AS (SELECT vec_id AS cid, e AS cv FROM emb
         |  WHERE vec_id % 50 = 0),
         |stored AS (SELECT * FROM log WHERE epoch < 2000),
         |slive AS (SELECT vec_id, vec FROM (
         |    SELECT stored.*, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY epoch DESC) AS rn FROM stored) t
         |  WHERE rn = 1 AND op <> 'DELETE'),
         |sla AS (SELECT vec_id, vec, cid AS centroid_id FROM (
         |    SELECT l.vec_id, l.vec, c.cid, row_number() OVER (
         |      PARTITION BY l.vec_id ORDER BY
         |        list_dot_product(l.vec, l.vec)
         |          - 2 * list_dot_product(l.vec, c.cv)
         |          + list_dot_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
         |    FROM slive l CROSS JOIN cent c) t
         |  WHERE rn = 1),
         |buf AS (SELECT * FROM log WHERE epoch >= 2000),
         |shadow AS (SELECT DISTINCT vec_id FROM buf),
         |blive AS (SELECT vec_id, vec FROM (
         |    SELECT buf.*, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY epoch DESC) AS rn FROM buf) t
         |  WHERE rn = 1 AND op <> 'DELETE'),
         |bla AS (SELECT vec_id, vec, cid AS centroid_id FROM (
         |    SELECT l.vec_id, l.vec, c.cid, row_number() OVER (
         |      PARTITION BY l.vec_id ORDER BY
         |        list_dot_product(l.vec, l.vec)
         |          - 2 * list_dot_product(l.vec, c.cv)
         |          + list_dot_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
         |    FROM blive l CROSS JOIN cent c) t
         |  WHERE rn = 1),
         |prb AS (SELECT query_id, qv, cid AS centroid_id FROM (
         |    SELECT qq.query_id, qq.qv, cent.cid, row_number() OVER (
         |      PARTITION BY qq.query_id ORDER BY
         |        list_dot_product(qq.qv, qq.qv)
         |          - 2 * list_dot_product(qq.qv, cent.cv)
         |          + list_dot_product(cent.cv, cent.cv) ASC, cent.cid ASC)
         |      AS rn
         |    FROM qq CROSS JOIN cent) t
         |  WHERE rn <= 3),
         |scored AS (
         |  SELECT p.query_id, a.vec_id,
         |      list_dot_product(p.qv, a.vec) AS score
         |    FROM prb p JOIN sla a USING (centroid_id)
         |    WHERE a.vec_id NOT IN (SELECT vec_id FROM shadow)
         |  UNION ALL
         |  SELECT p.query_id, b.vec_id,
         |      list_dot_product(p.qv, b.vec)
         |    FROM prb p JOIN bla b USING (centroid_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT scored.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM scored) t
         |WHERE rn <= 10""".stripMargin,
    "knn_ivf_stored" ->
      s"""$MUTLOG,
         |qq AS (SELECT vec_id AS query_id, e AS qv FROM emb
         |  WHERE vec_id % 25 = 0),
         |cent AS (SELECT vec_id AS cid, e AS cv FROM emb
         |  WHERE vec_id % 50 = 0),
         |la AS (SELECT vec_id, vec, cid AS centroid_id FROM (
         |    SELECT l.vec_id, l.vec, c.cid, row_number() OVER (
         |      PARTITION BY l.vec_id ORDER BY
         |        list_dot_product(l.vec, l.vec)
         |          - 2 * list_dot_product(l.vec, c.cv)
         |          + list_dot_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
         |    FROM live l CROSS JOIN cent c) t
         |  WHERE rn = 1),
         |prb AS (SELECT query_id, qv, cid AS centroid_id FROM (
         |    SELECT qq.query_id, qq.qv, cent.cid, row_number() OVER (
         |      PARTITION BY qq.query_id ORDER BY
         |        list_dot_product(qq.qv, qq.qv)
         |          - 2 * list_dot_product(qq.qv, cent.cv)
         |          + list_dot_product(cent.cv, cent.cv) ASC, cent.cid ASC)
         |      AS rn
         |    FROM qq CROSS JOIN cent) t
         |  WHERE rn <= 3),
         |scored AS (SELECT p.query_id, a.vec_id,
         |    list_dot_product(p.qv, a.vec) AS score
         |  FROM prb p JOIN la a USING (centroid_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT scored.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM scored) t
         |WHERE rn <= 10""".stripMargin,
    "point_lookup_stored" ->
      s"""$MUTLOG,
         |probe AS (SELECT CAST(UNNEST([${pointIds.mkString(", ")}]) AS BIGINT)
         |  AS vec_id)
         |SELECT p.vec_id,
         |  (l.op IS NOT NULL AND l.op <> 'DELETE') AS is_live,
         |  COALESCE(l.epoch, -1) AS last_epoch
         |FROM probe p LEFT JOIN latest l USING (vec_id)""".stripMargin,
    "segment_stats" ->
      s"""$MUTLOG,
         |seg AS (SELECT
         |    CASE WHEN epoch < 2000 THEN 'delta-000' ELSE 'delta-001' END
         |      AS segment_id,
         |    CASE WHEN op = 'DELETE' THEN 1.0 ELSE 0.0 END AS del
         |  FROM log),
         |per AS (SELECT segment_id, count(*) AS nv, avg(del) AS tr
         |  FROM seg GROUP BY 1)
         |SELECT false AS is_stable,
         |  CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(sum(nv) AS BIGINT) AS n_vectors,
         |  round(max(tr), 6) AS max_tombstone_ratio
         |FROM per""".stripMargin,
    "compact_segment" ->
      s"""$MUTLOG,
         |cent AS (SELECT vec_id AS cid, e AS cv FROM emb
         |  WHERE vec_id % 50 = 0)
         |SELECT vec_id, epoch, centroid_id FROM (
         |  SELECT l.vec_id, l.epoch, c.cid AS centroid_id,
         |    row_number() OVER (PARTITION BY l.vec_id ORDER BY
         |      list_dot_product(l.vec, l.vec)
         |        - 2 * list_dot_product(l.vec, c.cv)
         |        + list_dot_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
         |  FROM live l CROSS JOIN cent c) t
         |WHERE rn = 1""".stripMargin,
    "events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 4) AS sum_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_top_types" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS h, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT h, event_type, n, row_number() OVER (
        |    PARTITION BY h ORDER BY n DESC, event_type ASC) AS rnk FROM h)
        |SELECT CAST(epoch(h) AS BIGINT) AS hour_ts, event_type,
        |  CAST(n AS BIGINT) AS n, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3""".stripMargin,
    "events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus
        |  FROM events),
        |x AS (SELECT user_id, event_id, tus,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |      OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, tus,
        |    CAST(sum(new_session) OVER (
        |      PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM x)
        |SELECT user_id, session_seq,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  max(tus) - min(tus) AS duration_us
        |FROM s GROUP BY user_id, session_seq""".stripMargin,
    "events_props_salted" ->
      """SELECT k % 10 AS k_mod, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1)
        |    AS BIGINT) AS k FROM events) t
        |WHERE k IS NOT NULL GROUP BY 1""".stripMargin,
    "events_props" ->
      """SELECT k % 10 AS k_mod, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1)
        |    AS BIGINT) AS k FROM events) t
        |WHERE k IS NOT NULL GROUP BY 1""".stripMargin,
    "lm_score" ->
      s"""$DOCTOKS,
         |ex AS (SELECT doc_id, unnest(t) AS tok FROM dt),
         |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
         |  FROM ex GROUP BY tok),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt)
         |SELECT e.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(c.c) AS BIGINT) AS sum_freq,
         |  CAST(sum(c.c) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * CAST((SELECT n FROM tot) AS DOUBLE))
         |    AS avg_freq
         |FROM ex e JOIN cnt c USING (tok)
         |GROUP BY e.doc_id""".stripMargin,
    // bigram twin of lm_score: same integer-sum contract over bigram keys
    "lm_bigram" ->
      s"""$DOCTOKS,
         |g0 AS (SELECT doc_id, t,
         |    unnest(range(greatest(len(t) - 1, 0))) AS i
         |  FROM dt),
         |ex AS (SELECT doc_id, array_to_string(t[i+1 : i+2], ' ') AS bg
         |  FROM g0),
         |cnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS c
         |  FROM ex GROUP BY bg),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt)
         |SELECT e.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(c.c) AS BIGINT) AS sum_freq,
         |  CAST(sum(c.c) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * CAST((SELECT n FROM tot) AS DOUBLE))
         |    AS avg_freq
         |FROM ex e JOIN cnt c USING (bg)
         |GROUP BY e.doc_id""".stripMargin,
    "boilerplate_ngrams" ->
      s"""$DOCTOKS,
         |g0 AS (SELECT doc_id, t,
         |    unnest(range(greatest(len(t) - 4, 0))) AS i
         |  FROM dt),
         |g AS (SELECT doc_id, array_to_string(t[i+1 : i+5], ' ') AS gram
         |  FROM g0)
         |SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM g GROUP BY gram
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY n_occurrences DESC, gram ASC
         |LIMIT 50""".stripMargin,
    "decontaminate" ->
      s"""$DOCTOKS,
         |dsh AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(t) >= 8
         |      THEN list_transform(generate_series(1, len(t) - 7),
         |        i -> array_to_string(t[i:i+7], chr(1)))
         |      ELSE [] END)) AS sh
         |  FROM dt),
         |bsh AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 100 = 0),
         |hits AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
         |  FROM dsh d JOIN bsh USING (sh) GROUP BY d.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  COALESCE(h.n_contaminated, 0) > 0 AS contaminated
         |FROM dt d LEFT JOIN hits h USING (doc_id)""".stripMargin,
    "balanced_mix" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY source),
        |m AS (SELECT CAST(min(n) AS BIGINT) AS mn FROM c)
        |SELECT doc_id, source FROM d JOIN c USING (source)
        |WHERE CAST(('0x'||substr(md5(text),1,7)) AS BIGINT) * c.n
        |  < (SELECT mn FROM m) * 268435456""".stripMargin,
    // same arithmetic chain as TextOps.temperatureMix: min/n division,
    // IEEE-exact sqrt, one multiply — no cross-source double sum anywhere
    "temperature_mix" ->
      """WITH d AS (SELECT doc_id, source, text FROM documents
        |  WHERE CAST(('0x'||substr(md5(text),8,7)) AS BIGINT) % 100
        |    < 100 - 4 * CAST(substr(source, 4) AS INT)),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY source),
        |m AS (SELECT CAST(min(n) AS BIGINT) AS mn FROM c)
        |SELECT doc_id, source FROM d JOIN c USING (source)
        |WHERE CAST(CAST(('0x'||substr(md5(text),1,7)) AS BIGINT) AS DOUBLE)
        |  < sqrt(CAST((SELECT mn FROM m) AS DOUBLE) / c.n) * 268435456.0""".stripMargin,
    "pack_sequences" ->
      s"""$DOCTOKS,
         |c AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM dt),
         |s AS (SELECT doc_id, n_tokens,
         |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS seq_start
         |  FROM c)
         |SELECT doc_id, n_tokens, seq_start,
         |  CAST(floor(seq_start / 2048) AS BIGINT) AS seq_id
         |FROM s""".stripMargin,
    "pii_redact" ->
      """WITH d AS (SELECT doc_id, text FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  md5(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |    'g')) AS redacted_md5
        |FROM d""".stripMargin,
    "doc_fingerprint" ->
      s"""$DOCTOKS,
         |th AS (SELECT doc_id,
         |    list_transform(t,
         |      tk -> CAST(('0x'||substr(md5(tk),1,7)) AS BIGINT)) AS th,
         |    len(t) AS n
         |  FROM dt)
         |SELECT doc_id, CASE
         |    WHEN n = 0 THEN CAST(0 AS BIGINT)
         |    WHEN n < 4 THEN list_reduce(th,
         |      (a, h) -> (a * 1000003 + h) % 2147483647)
         |    ELSE list_min(list_transform(range(n - 3),
         |      i -> list_reduce(th[i+1:i+4],
         |        (a, h) -> (a * 1000003 + h) % 2147483647)))
         |  END AS fingerprint
         |FROM th""".stripMargin,
    "text_stats" ->
      s"""$DOCTOKS
         |SELECT d.doc_id,
         |  CAST(length(d.text) AS BIGINT) AS n_chars_m,
         |  CAST(len(d.toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(d.toks)) AS BIGINT) AS n_distinct,
         |  CAST(len(list_distinct(d.toks)) AS DOUBLE) / len(d.toks) AS ttr,
         |  CAST(length(d.text)
         |    - length(translate(d.text, '.,!?', '')) AS BIGINT) AS n_punct,
         |  CAST(len(d.toks) AS DOUBLE) / length(d.text) AS tokens_per_char
         |FROM d""".stripMargin,
    "lang_id" ->
      s"""$DOCTOKS,
         |h AS (SELECT d.doc_id, d.lang AS labeled_lang, l.prio, l.lng,
         |    len(list_intersect(d.toks, l.words)) AS hits
         |  FROM d, (VALUES
         |    (1, 'en', ['the','and','of','to','in','is','that']),
         |    (2, 'de', ['der','die','und','das','ist','nicht','ein']),
         |    (3, 'es', ['el','la','que','los','una','por','como']),
         |    (4, 'fr', ['le','les','et','des','un','une','dans']),
         |    (5, 'zh', ['的','是','了','在','我','有','和']))
         |    l(prio, lng, words)),
         |b AS (SELECT doc_id, labeled_lang, lng, hits FROM (
         |    SELECT h.*, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY hits DESC, prio ASC) AS rn
         |    FROM h) t
         |  WHERE rn = 1)
         |SELECT doc_id, labeled_lang,
         |  CASE WHEN hits > 0 THEN lng ELSE 'und' END AS pred_lang
         |FROM b""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(text)) AS text_hash,
        |  CAST(count(*) AS BIGINT) AS n_dups,
        |  min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_jaccard" ->
      s"""$DOCTOKS,
         |ds AS (SELECT doc_id, source, list_distinct(t) AS t FROM dt),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
         |    CASE WHEN len(a.t) + len(b.t)
         |        - len(list_intersect(a.t, b.t)) = 0 THEN 0.0
         |      ELSE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
         |        / CAST(len(a.t) + len(b.t)
         |            - len(list_intersect(a.t, b.t)) AS DOUBLE) END
         |      AS jaccard
         |  FROM ds a JOIN ds b
         |    ON a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT a, b, jaccard FROM p
         |ORDER BY jaccard DESC, a ASC, b ASC LIMIT 20""".stripMargin,
    "dedup_minhash" ->
      s"""$MINHASH_VER
         |SELECT a, b, jaccard FROM ver WHERE jaccard >= 0.5""".stripMargin,
    // connected components as a transitive-closure recursive CTE: reach =
    // fixpoint of edge-relation composition (set-semantics UNION), label =
    // min over the reachable set including self — identical to the Spark
    // side's converged min-label propagation
    "dedup_clusters" ->
      s"""${MINHASH_VER.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pr AS (SELECT a, b FROM ver WHERE jaccard >= 0.5),
         |edges AS (SELECT a AS x, b AS y FROM pr
         |  UNION SELECT b AS x, a AS y FROM pr),
         |reach(x, y) AS (
         |  SELECT x, y FROM edges
         |  UNION
         |  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x),
         |lab AS (SELECT x AS doc_id, least(x, min(y)) AS canonical_id
         |  FROM reach GROUP BY x)
         |SELECT doc_id, canonical_id FROM lab""".stripMargin,
    "dup_source_matrix" ->
      s"""$MINHASH_VER,
         |pr AS (SELECT a, b FROM ver WHERE jaccard >= 0.5),
         |ps AS (SELECT da.source AS sa, db.source AS sb
         |  FROM pr JOIN documents da ON da.doc_id = pr.a
         |  JOIN documents db ON db.doc_id = pr.b)
         |SELECT least(sa, sb) AS src_x, greatest(sa, sb) AS src_y,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM ps GROUP BY 1, 2""".stripMargin,
    "decontaminate_fuzzy" ->
      s"""$MINHASH_VER,
         |pr AS (SELECT a, b FROM ver WHERE jaccard >= 0.5),
         |x AS (SELECT CASE WHEN a % 10 = 0 THEN b ELSE a END AS doc_id
         |  FROM pr WHERE (a % 10 = 0) <> (b % 10 = 0))
         |SELECT DISTINCT doc_id FROM x""".stripMargin,
    // same quality arithmetic as token_quality (round 6), same dup-token
    // fraction as repetition_stats, same verified pairs as dedup_minhash —
    // the funnel is their sequential composition
    "curation_funnel" ->
      s"""$MINHASH_VER,
         |m AS (SELECT doc_id, source,
         |    round(
         |      0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
         |      + 0.3 * (CAST(len(list_filter(toks, x -> list_contains(
         |          ['the','and','of','to','in','is','that','a','for','it'],
         |          x))) AS DOUBLE) / len(toks))
         |      + 0.2 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0), 6)
         |      AS quality,
         |    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
         |      / len(toks) AS dup_frac
         |  FROM d),
         |losers AS (SELECT DISTINCT b FROM ver WHERE jaccard >= 0.5)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN quality >= 0.36 THEN 1 END) AS BIGINT)
         |    AS n_quality,
         |  CAST(count(CASE WHEN quality >= 0.36 AND dup_frac <= 0.6
         |    THEN 1 END) AS BIGINT) AS n_clean,
         |  CAST(count(CASE WHEN quality >= 0.36 AND dup_frac <= 0.6
         |    AND doc_id NOT IN (SELECT b FROM losers) THEN 1 END) AS BIGINT)
         |    AS n_kept
         |FROM m GROUP BY source""".stripMargin,
    "dedup_simhash" ->
      s"""$DOCTOKS,
         |hs AS (SELECT doc_id,
         |    list_transform(list_distinct(t), tk ->
         |      CAST(('0x' || substr(md5(tk), 1, 7)) AS BIGINT)) AS hs
         |  FROM dt),
         |sig AS (SELECT doc_id,
         |    CAST(list_sum(list_transform(generate_series(0, 27), b ->
         |      CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
         |          CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
         |        THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END))
         |      AS BIGINT) AS simhash
         |  FROM hs),
         |chunked AS (SELECT doc_id, simhash, r.c AS chunk_id,
         |    CASE WHEN r.c = 0 THEN simhash & 16383
         |      ELSE (simhash >> 14) & 16383 END AS chunk
         |  FROM sig, range(2) r(c)),
         |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |  FROM chunked x JOIN chunked y
         |    ON x.chunk_id = y.chunk_id AND x.chunk = y.chunk
         |      AND x.doc_id < y.doc_id)
         |SELECT a, b, hamming FROM pairs WHERE hamming <= 3""".stripMargin,
    // dup_spans: same 8-token rolling mod-prime window hash as the Spark
    // side; the interval-merge fold packs (covered, lastEnd) into one
    // BIGINT (10^13 + covered*10^6 + end) because DuckDB's list_reduce is
    // init-less — the Spark fold seeds with ss[0] to mirror it exactly
    "dup_spans" ->
      s"""$DOCTOKS,
         |th AS (SELECT doc_id,
         |    list_transform(t,
         |      tk -> CAST(('0x'||substr(md5(tk),1,7)) AS BIGINT)) AS th,
         |    len(t) AS n
         |  FROM dt),
         |win AS (SELECT t.doc_id, r.i AS pos,
         |    list_reduce(t.th[r.i+1:r.i+8],
         |      (a, h) -> (a * 1000003 + h) % 2147483647) AS whash
         |  FROM th t,
         |    LATERAL (SELECT unnest(range(greatest(t.n - 7, 0))) AS i) r),
         |dh AS (SELECT whash FROM win GROUP BY whash HAVING count(*) >= 2),
         |dup AS (SELECT w.doc_id, CAST(w.pos AS BIGINT) AS pos
         |  FROM win w JOIN dh USING (whash)),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows,
         |    list_sort(list(pos)) AS ss
         |  FROM dup GROUP BY doc_id),
         |cov AS (SELECT doc_id, dup_windows,
         |    CASE WHEN len(ss) = 1 THEN CAST(8 AS BIGINT)
         |      ELSE CAST(FLOOR((list_reduce(ss,
         |        (acc, s) -> CASE WHEN acc < 10000000000000
         |          THEN 10000000000000
         |            + (8 + GREATEST(s + 8 - GREATEST(acc + 8, s), 0))
         |              * 1000000
         |            + GREATEST(acc + 8, s + 8)
         |          ELSE 10000000000000
         |            + ((acc - 10000000000000) // 1000000
         |               + GREATEST(s + 8
         |                   - GREATEST((acc - 10000000000000) % 1000000, s),
         |                 0)) * 1000000
         |            + GREATEST((acc - 10000000000000) % 1000000, s + 8)
         |        END) - 10000000000000) / 1000000) AS BIGINT)
         |    END AS dup_tokens
         |  FROM agg)
         |SELECT th.doc_id, CAST(th.n AS BIGINT) AS n_tokens,
         |  CAST(greatest(th.n - 7, 0) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(c.dup_windows, 0) AS BIGINT) AS dup_windows,
         |  CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CASE WHEN th.n > 0
         |    THEN CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / th.n
         |    ELSE 0.0 END AS dup_frac
         |FROM th LEFT JOIN cov c USING (doc_id)""".stripMargin,
    "cosine_pairs" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e))
        |       * sqrt(list_dot_product(b.e, b.e))) AS cosine
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |ORDER BY cosine DESC, a ASC, b ASC LIMIT 50""".stripMargin,
    "sample_split" ->
      """SELECT lang,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |    ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
        |      AS BIGINT) % 100 AS b
        |  FROM documents) t
        |GROUP BY 1, 2""".stripMargin,
    // the Spark side computes this with a bounded-heap aggregate (never a
    // per-source sort); row_number here is the same (hv, doc_id) order
    "stratified_sample" ->
      """WITH h AS (SELECT source, doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
        |      AS BIGINT) AS hv
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
        |      AS rn
        |  FROM h)
        |SELECT source, doc_id, CAST(rn AS BIGINT) AS smp_rank
        |FROM r WHERE rn <= 5""".stripMargin,
    // geometry formulas must equal MultimodalOps.{imgW,imgH,videoFrames,
    // audioSamples} over h28 = first 28 bits of md5(text); the Spark side
    // reports REAL decoder output (ImageIO dims, AudioSystem frame count),
    // so the match proves the codec round-trip end to end
    "media_stats" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(('0x' || substr(md5(text), 1, 7)) AS BIGINT) AS h
        |  FROM documents),
        |m AS (SELECT
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
        |      AS kind,
        |    CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 64 + h % 64 END AS w,
        |    CASE WHEN doc_id % 3 = 1 THEN 0
        |      ELSE 48 + (h // 64) % 48 END AS ht,
        |    CASE WHEN doc_id % 3 = 0 THEN 1
        |      WHEN doc_id % 3 = 1 THEN 800 + (h % 64) * 16
        |      ELSE 8 + (h // 4096) % 8 END AS frames
        |  FROM d)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(w) AS BIGINT) AS min_w,
        |  CAST(max(w) AS BIGINT) AS max_w,
        |  CAST(sum(frames) AS BIGINT) AS total_frames,
        |  CAST(sum(w * ht) AS BIGINT) AS total_px
        |FROM m GROUP BY 1""".stripMargin,
    "tag_dict" ->
      """WITH emb AS (SELECT vec_id, label FROM embeddings),
        |vt AS (SELECT vec_id,
        |  ['label-' || CAST(label AS VARCHAR),
        |   'mod-' || CAST(vec_id % 5 AS VARCHAR)] AS tags FROM emb),
        |ex AS (SELECT vec_id, UNNEST(tags) AS tag_name FROM vt),
        |dict AS (SELECT tag_name,
        |    CAST(row_number() OVER (ORDER BY n DESC, tag_name ASC)
        |      AS BIGINT) AS tag_id
        |  FROM (SELECT tag_name, count(*) AS n FROM ex GROUP BY 1) t)
        |SELECT e.vec_id, d.tag_id
        |FROM ex e JOIN dict d USING (tag_name)""".stripMargin,
    "cosine_lsh" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |planes AS (SELECT vec_id AS pid, e AS pv,
        |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS b
        |  FROM emb WHERE vec_id % 41 = 0),
        |bk AS (SELECT emb.vec_id,
        |    CAST(sum(CASE WHEN list_dot_product(emb.e, p.pv) > 0
        |      THEN (CAST(1 AS BIGINT) << p.b) ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM emb CROSS JOIN planes p GROUP BY emb.vec_id),
        |be AS (SELECT emb.vec_id, emb.e, bk.bucket
        |  FROM emb JOIN bk USING (vec_id))
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  list_dot_product(x.e, y.e)
        |    / (sqrt(list_dot_product(x.e, x.e))
        |       * sqrt(list_dot_product(y.e, y.e))) AS cosine
        |FROM be x JOIN be y
        |  ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        |WHERE list_dot_product(x.e, y.e)
        |    / (sqrt(list_dot_product(x.e, x.e))
        |       * sqrt(list_dot_product(y.e, y.e))) >= 0.3
        |ORDER BY cosine DESC, a ASC, b ASC LIMIT 100""".stripMargin,
    "dedup_semantic" ->
      s"""$IVF
         |SELECT y.vec_id AS vec_id, min(x.vec_id) AS canonical_id
         |FROM asg x JOIN asg y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         |WHERE list_dot_product(x.e, y.e)
         |    / (sqrt(list_dot_product(x.e, x.e))
         |       * sqrt(list_dot_product(y.e, y.e))) >= 0.3
         |GROUP BY y.vec_id""".stripMargin,
    "token_quality" ->
      s"""$DOCTOKS
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(len(list_filter(toks, x -> list_contains(
         |    ['the','and','of','to','in','is','that','a','for','it'], x)))
         |    AS BIGINT) AS n_stopwords,
         |  round(
         |    0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
         |    + 0.3 * (CAST(len(list_filter(toks, x -> list_contains(
         |        ['the','and','of','to','in','is','that','a','for','it'],
         |        x))) AS DOUBLE) / len(toks))
         |    + 0.2 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0), 6)
         |    AS quality
         |FROM d""".stripMargin,
    "repetition_stats" ->
      s"""$DOCTOKS,
         |g AS (SELECT doc_id, toks, len(toks) AS n,
         |    list_transform(range(len(toks) - 1),
         |      i -> toks[i+1] || chr(1) || toks[i+2]) AS bg2,
         |    list_transform(range(len(toks) - 2),
         |      i -> toks[i+1] || chr(1) || toks[i+2] || chr(1) || toks[i+3])
         |      AS tg3
         |  FROM d),
         |c AS (SELECT doc_id, toks, n,
         |    list_transform(list_distinct(bg2),
         |      x -> len(list_filter(bg2, y -> y = x))) AS bc,
         |    list_transform(list_distinct(tg3),
         |      x -> len(list_filter(tg3, y -> y = x))) AS tc
         |  FROM g)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(n - len(list_distinct(toks)) AS DOUBLE) / n
         |    AS dup_token_frac,
         |  CASE WHEN n >= 2 THEN
         |    CAST(list_max(bc) AS DOUBLE) / (n - 1) END
         |    AS top_bigram_frac,
         |  CASE WHEN n >= 3 THEN
         |    CAST(list_sum(list_transform(tc,
         |      c -> CASE WHEN c > 1 THEN c ELSE 0 END)) AS DOUBLE) / (n - 2)
         |    END AS dup_trigram_frac
         |FROM c""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q3_top_orders" ->
      """SELECT o.o_orderkey, o.o_orderpriority,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "part_ranks" ->
      """SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CAST(row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rnk
        |  FROM part) t
        |WHERE rnk <= 3""".stripMargin,
    "emb_label_stats" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  min(list_dot_product(e, e)) AS min_norm_sq,
        |  max(list_dot_product(e, e)) AS max_norm_sq
        |FROM emb GROUP BY label""".stripMargin,
    "knn_int8" ->
      s"""$EMB,
         |qs8 AS (SELECT vec_id, e,
         |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
         |  FROM emb),
         |qc8 AS (SELECT vec_id, sc,
         |    CASE WHEN sc = 0 THEN list_transform(e, x -> 0)
         |      ELSE list_transform(e,
         |        x -> CAST(floor(x / sc + 0.5) AS INTEGER)) END AS codes
         |  FROM qs8),
         |qq8 AS (SELECT vec_id AS query_id, sc AS q_sc, codes AS q_codes
         |  FROM qc8 WHERE vec_id % 25 = 0),
         |approx AS (SELECT q.query_id, c.vec_id,
         |    list_dot_product(q.q_codes, c.codes) * (q.q_sc * c.sc) AS a
         |  FROM qq8 q CROSS JOIN qc8 c),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT approx.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY a DESC, vec_id ASC) AS rn FROM approx) t
         |  WHERE rn <= 40),
         |exact AS (SELECT cand.query_id, cand.vec_id,
         |    list_dot_product(q.qv, emb.e) AS score
         |  FROM cand JOIN q USING (query_id) JOIN emb USING (vec_id))
         |SELECT query_id, vec_id, score FROM (
         |  SELECT exact.*, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rn
         |  FROM exact) t
         |WHERE rn <= 10""".stripMargin,
    // floor(x/s + 0.5) half-up on purpose — bit-identical across engines,
    // unlike round()'s differing half-even/half-away conventions
    "emb_quantize" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |s AS (SELECT vec_id, e,
        |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
        |  FROM emb),
        |c AS (SELECT vec_id, e, sc,
        |    CASE WHEN sc = 0 THEN list_transform(e, x -> 0)
        |      ELSE list_transform(e,
        |        x -> CAST(floor(x / sc + 0.5) AS INTEGER)) END AS codes
        |  FROM s)
        |SELECT vec_id, sc AS scale,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_code,
        |  list_max(list_transform(generate_series(1, len(e)),
        |    i -> abs(e[i] - codes[i] * sc))) AS max_err
        |FROM c""".stripMargin
  )
}
