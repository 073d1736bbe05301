package graft.segments

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.index.Ivf
import graft.ingest.MutationLog

class SegmentsSpec extends SparkSpec {
  import spark.implicits._

  private def segmentRows = {
    val cents = Ivf.deterministicCentroids(emb, 50)
    Ivf.assign(
        MutationLog.deterministicLog(emb)
          .withColumn("id_hash", VectorFunctions.hashId(col("id")))
          .withColumn("deleted", col("op") === "DELETE"),
        cents, vecCol = "vec")
      .withColumn("centroid_id", coalesce(col("centroid_id"), lit(-1L)))
      .select("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
  }

  private def tmpBase() =
    java.nio.file.Files.createTempDirectory("graft-segtest-").toString

  test("write + catalog + compact: stable contents == MutationLog.live") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("epoch") < 2000), base, "d0", false)
    Segments.writeSegment(rows.filter(col("epoch") >= 2000), base, "d1", false)
    Segments.compact(spark, base, "s0")

    val stable = Segments.readSegments(spark, base, Some(true))
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    val oracle = MutationLog.live(MutationLog.deterministicLog(emb))
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    assert(stable.toSeq === oracle.toSeq)

    // catalog: deltas are replaced, one stable survives
    val cat = Segments.catalog(spark, base)
      .select("segment_id", "is_stable").as[(String, Boolean)].collect()
    assert(cat.toSet === Set(("s0", true)))
    Segments.deleteDir(base)
  }

  test("second-generation compaction never resurrects: tombstones masking stable rows survive the minor compact") {
    val base = tmpBase()
    // generation 1: rows 0..9 live in a stable segment
    val gen1 = (0L until 10L).map(i => (i, 100L + i, i, false, 0L))
      .toDF("id_hash", "epoch", "vec_id", "deleted", "centroid_id")
    Segments.writeSegment(gen1, base, "d0", false)
    Segments.compact(spark, base, "s0")
    // generation 2: tombstones for 0..4 (mask stable rows) and for
    // 1000..1001 (outside every stable id_hash range — pure garbage)
    val gen2 = (Seq(0L, 1L, 2L, 3L, 4L).map(i => (i, 200L + i))
        ++ Seq((1000L, 300L), (1001L, 301L)))
      .map { case (h, e) => (h, e, -1L, true, -1L) }
      .toDF("id_hash", "epoch", "vec_id", "deleted", "centroid_id")
    Segments.writeSegment(gen2, base, "d1", false)
    Segments.compact(spark, base, "s1")

    val all = Segments.readSegments(spark, base)
    val live = graft.operators.Lww.latestBy(all, "id_hash", "epoch")
      .filter(!col("deleted"))
      .select("id_hash").as[Long].collect().sorted.toSeq
    assert(live === (5L until 10L).toSeq,
      s"deleted stable rows resurrected: $live")
    // the range check purges what nothing can mask, keeps what can
    val s1 = Segments.readSegments(spark, base, Some(true))
      .filter(col("deleted"))
      .select("id_hash").as[Long].collect().sorted.toSeq
    assert(s1 === Seq(0L, 1L, 2L, 3L, 4L),
      s"retained tombstone set wrong: $s1")
    // the full rewrite purges the retained tombstones for good
    Segments.rebuildLayout(spark, base,
      df => df.withColumn("centroid_id", lit(0L)), "s2")
    val rebuilt = Segments.readSegments(spark, base)
    assert(rebuilt.filter(col("deleted")).count() === 0L)
    assert(rebuilt.select("id_hash").as[Long].collect().sorted.toSeq
      === (5L until 10L).toSeq)
    Segments.deleteDir(base)
  }

  test("model property: any interleaving of writes/deletes/compacts/rebuilds preserves the LWW live view") {
    // the resurrection bug class: correctness must hold across SEQUENCES
    // of maintenance operations, not just one generation. A seeded
    // random walk over (delta write | compact | rebuild) is checked
    // against an in-memory LWW model after EVERY step.
    for (seed <- Seq(1L, 7L, 42L)) modelWalk(seed, exactPurge = false)
  }

  test("model property under EXACT tombstone purge: same walk, same live view") {
    // the exact-purge probe must be invisible to the LWW live view —
    // only which DEAD tombstones survive may differ from range retention
    for (seed <- Seq(7L, 42L)) modelWalk(seed, exactPurge = true)
  }

  private def modelWalk(seed: Long, exactPurge: Boolean): Unit = {
    locally {
      val rnd = new scala.util.Random(seed)
      val base = tmpBase()
      val model = scala.collection.mutable.Map.empty[Long, (Long, Boolean)]
      var epoch = 1000L
      var segId = 0
      for (step <- 0 until 10) {
        rnd.nextInt(4) match {
          case 0 | 1 =>
            val n = 1 + rnd.nextInt(8)
            val rows = (0 until n).map { _ =>
              val id = rnd.nextInt(50).toLong
              val del = rnd.nextInt(4) == 0
              epoch += 1
              model(id) = (epoch, del)
              (id, epoch, id, del, id % 5)
            }.toDF("id_hash", "epoch", "vec_id", "deleted", "centroid_id")
            Segments.writeSegment(rows, base, f"d$segId%03d", false)
            segId += 1
          case 2 =>
            Segments.compact(spark, base, f"s$segId%03d", exactPurge)
            segId += 1
          case 3 =>
            if (Segments.catalogDescriptors(spark, base).nonEmpty) {
              Segments.rebuildLayout(spark, base,
                df => df.withColumn("centroid_id", col("id_hash") % 3),
                f"r$segId%03d")
              segId += 1
            }
        }
        val live =
          if (Segments.catalogDescriptors(spark, base).isEmpty) Set.empty
          else graft.operators.Lww.latestBy(
              Segments.readSegments(spark, base), "id_hash", "epoch")
            .filter(!col("deleted"))
            .select("id_hash", "epoch").as[(Long, Long)].collect().toSet
        val want = model.collect {
          case (h, (e, deleted)) if !deleted => (h, e)
        }.toSet
        assert(live === want, s"seed=$seed step=$step")
      }
      Segments.deleteDir(base)
    }
  }

  test("exact tombstone purge: drops tombstones with no live stable target, retains real masks") {
    val base = tmpBase()
    def rows(ts: (Long, Long, Boolean)*) =
      ts.map { case (h, e, d) => (h, e, h, d, h % 3) }
        .toDF("id_hash", "epoch", "vec_id", "deleted", "centroid_id")
    // stable generation: id 1 LIVE, id 3 present only as a TOMBSTONE
    Segments.writeSegment(rows((1L, 10L, false), (3L, 11L, true)),
      base, "d000", false)
    Segments.compact(spark, base, "s000")
    // delta: tombstone for 1 (masks a live stable row → MUST survive),
    // tombstone for 2 (id never existed → dead weight), tombstone for 3
    // (stable holds only its own tombstone → LWW already deleted; dead
    // weight), live row 4
    Segments.writeSegment(rows((1L, 20L, true), (2L, 21L, true),
      (3L, 22L, true), (4L, 23L, false)), base, "d001", false)
    Segments.compact(spark, base, "s001", exactPurge = true)
    val newest = Segments.readPaths(spark,
        Segments.catalogDescriptors(spark, base)
          .filter(_.segment_id == "s001").map(_.file_path))
      .select("id_hash", "deleted").as[(Long, Boolean)].collect().toSet
    assert(newest === Set((1L, true), (4L, false)),
      s"exact purge kept the wrong tombstones: $newest")
    // live view is the same as the conservative mode would give
    val live = graft.operators.Lww.latestBy(
        Segments.readSegments(spark, base), "id_hash", "epoch")
      .filter(!col("deleted")).select("id_hash").as[Long].collect().toSet
    assert(live === Set(4L))
    Segments.deleteDir(base)
  }

  test("compaction crash-replay: killed after segment write, rerun converges") {
    // the reference's compaction_merge kill point (fault-inject.sh:9):
    // crash AFTER the stable segment hits disk but BEFORE the catalog
    // marks deltas replaced — a rerun must overwrite idempotently and
    // land in the same final state as an uninterrupted compact
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("epoch") < 2000), base, "d0", false)
    Segments.writeSegment(rows.filter(col("epoch") >= 2000), base, "d1", false)
    // simulate the torn first attempt: stable segment written, no catalog
    // replacement (writeSegment appends the stable descriptor only)
    val deltas = Segments.catalogDescriptors(spark, base)
      .filter(!_.is_stable)
      .map(d => spark.read.parquet(d.file_path)).reduce(_ unionByName _)
    val resolved = graft.operators.Lww.latestBy(deltas, "id_hash", "epoch")
      .filter(!col("deleted"))
    Segments.writeSegment(resolved, base, "s0", isStable = true)
    // deltas still live in the catalog -> recovery reruns the compact
    assert(Segments.catalogDescriptors(spark, base)
      .count(!_.is_stable) === 2)
    Segments.compact(spark, base, "s0")
    // converged: one live stable, contents equal the mutation-log oracle
    val cat = Segments.catalog(spark, base)
      .select("segment_id", "is_stable").as[(String, Boolean)].collect()
    assert(cat.toSet === Set(("s0", true)))
    val stable = Segments.readSegments(spark, base, Some(true))
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    val oracle = MutationLog.live(MutationLog.deterministicLog(emb))
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    assert(stable.toSeq === oracle.toSeq)
    // and a further compact is a no-op (idempotent at the API level)
    assert(Segments.compact(spark, base, "s1").isEmpty)
    Segments.deleteDir(base)
  }

  test("segment layout is partitioned by centroid_id (IVF pruning layout)") {
    val base = tmpBase()
    Segments.writeSegment(segmentRows.filter(!col("deleted")), base, "d0", false)
    val dirs = new java.io.File(s"$base/store/segment_id=d0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("centroid_id=")), dirs)
    Segments.deleteDir(base)
  }

  test("zone-map pruning: scanForIdHash opens only matching segments") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    // two disjoint id_hash ranges via vec_id split (hash ranges overlap, so
    // split on hash sign for a real disjoint zone map)
    Segments.writeSegment(rows.filter(col("id_hash") < 0), base, "neg", false)
    Segments.writeSegment(rows.filter(col("id_hash") >= 0), base, "pos", false)
    val probe = rows.filter(col("vec_id") === 7)
      .select("id_hash").as[Long].head()
    val hit = Segments.scanForIdHash(spark, base, probe)
    assert(hit.count() >= 1)
    assert(hit.select("vec_id").as[Long].collect().contains(7L))
    // the pruned catalog must name exactly one segment for this hash
    val candidates = Segments.catalog(spark, base)
      .filter(col("min_id_hash") <= probe && col("max_id_hash") >= probe)
      .count()
    assert(candidates === 1)
    Segments.deleteDir(base)
  }

  test("batched point lookup prunes segments and resolves LWW") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("id_hash") < 0), base, "neg", false)
    Segments.writeSegment(rows.filter(col("id_hash") >= 0), base, "pos", false)
    // two present ids with same hash sign → one segment candidate; the scan
    // returns every version (LWW is the caller's job)
    val hs = rows.filter(col("vec_id").isin(7L, 20L))
      .select("id_hash").distinct().as[Long].collect().toSeq
    val got = Segments.scanForIdHashes(spark, base, hs).get
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(got === Set(7L, 20L))
    // a hash no zone map can contain → no segment opened at all
    val none = Segments.scanForIdHashes(spark, base, Seq(Long.MaxValue))
    // zone maps span nearly all of Long for xxhash-spread ids, so this may
    // legitimately return an empty scan rather than None — both are "miss"
    assert(none.forall(_.filter(col("vec_id").isNotNull).count() === 0))
    Segments.deleteDir(base)
  }

  test("bloom pruning: point lookups read ONLY bloom-matching files, values unchanged") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("id_hash") < 0), base, "neg", false)
    Segments.writeSegment(rows.filter(col("id_hash") >= 0), base, "pos", false)
    val hs = rows.filter(col("vec_id").isin(7L, 20L, 33L))
      .select("id_hash").distinct().as[Long].collect().toIndexedSeq
    val allFiles = Segments
      .readPaths(spark, Segments.catalogDescriptors(spark, base)
        .map(_.file_path)).inputFiles.toSet
    val pruned = Segments.scanForIdHashes(spark, base, hs).get
    val prunedFiles = pruned.inputFiles.toSet
    // the scan's file set is exactly the bloom-matching subset — a
    // uniform-hash store defeats zone maps, so this is the pruning
    // that holds at scale (3 hashes over ~100 files must not open
    // anywhere near all of them; fpp 0.01 bounds the false positives)
    val matching = Segments
      .bloomPruneFiles(spark, allFiles.toIndexedSeq, hs).get.toSet
    assert(prunedFiles === matching, "scan reads non-bloom-matched files")
    assert(prunedFiles.size < allFiles.size / 2,
      s"bloom pruning vacuous: ${prunedFiles.size} of ${allFiles.size}")
    // bloom false positives (extra files) are harmless by construction;
    // here: pruned values == the unpruned scan's values exactly
    val full = Segments
      .readPaths(spark, Segments.catalogDescriptors(spark, base)
        .map(_.file_path))
      .filter(col("id_hash").isin(hs: _*))
      .select("id_hash", "epoch", "deleted", "vec_id")
      .as[(Long, Long, Boolean, Long)].collect().sorted.toSeq
    val got = pruned.select("id_hash", "epoch", "deleted", "vec_id")
      .as[(Long, Long, Boolean, Long)].collect().sorted.toSeq
    assert(got === full)
    // an absent hash inside every zone map: blooms prove absence (no
    // false negatives), so the lookup answers without opening any file
    val absent = Segments.scanForIdHashes(spark, base, Seq(12345L))
    assert(absent.forall(_.count() === 0L))
    Segments.deleteDir(base)
  }

  test("exact id evidence has NO false positives: pruning returns exactly the true containing files") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("id_hash") < 0), base, "neg", false)
    Segments.writeSegment(rows.filter(col("id_hash") >= 0), base, "pos", false)
    // the under-budget warm admits EXACT per-file id sets — unlike
    // fpp-bounded blooms, pruning with them must return precisely the
    // files that contain the probed hashes (the property behind the
    // measured 389-false-positive-files → 1-true-file win at 1M)
    assert(Segments.warmIdBlooms(spark, base) > 0)
    val store = Segments.readPaths(spark,
      Segments.catalogDescriptors(spark, base).map(_.file_path))
    val allFiles = store.inputFiles.toIndexedSeq
    val hs = rows.filter(col("vec_id").isin(7L, 20L, 33L))
      .select("id_hash").distinct().as[Long].collect().toIndexedSeq
    val truly = store.filter(col("id_hash").isin(hs: _*))
      .select(input_file_name()).distinct().as[String].collect().toSet
    val matching = Segments
      .bloomPruneFiles(spark, allFiles, hs).get.toSet
    assert(matching === truly,
      s"exact evidence diverged from true membership: " +
        s"extra=${(matching -- truly).size} missing=${(truly -- matching).size}")
    // and an absent hash matches NOTHING (exact absence, no fpp term)
    assert(Segments.bloomPruneFiles(spark, allFiles, Seq(12345L))
      .get.isEmpty)
    Segments.deleteDir(base)
  }

  test("bloom + listing invalidation: a same-path rewrite serves the NEW files (no stale bloom false negatives)") {
    val base = tmpBase()
    def seg(hs: Seq[Long]) = hs.map(h => (h, 100L + h, h, false, 0L))
      .toDF("id_hash", "epoch", "vec_id", "deleted", "centroid_id")
    Segments.writeSegment(seg(Seq(10L, 1000L)), base, "r0", false)
    // this lookup WARMS the listing + bloom caches for r0's files and
    // proves 500 absent (bloom-pruned to nothing inside the zone map)
    assert(Segments.scanForIdHashes(spark, base, Seq(500L))
      .forall(_.count() === 0L))
    val segPath = s"$base/${Segments.StoreDir}/segment_id=r0"
    assert(Segments.bloomEntriesUnder(segPath) > 0,
      "lookup did not warm the bloom cache")
    // the idempotent recovery replay's shape: REWRITE the same segment
    // path with different contents — served through writeSegment, the
    // one in-place writer, whose invalidation must beat both caches
    Segments.writeSegment(seg(Seq(10L, 500L, 1000L)), base, "r0", false)
    // the invalidation itself must have FIRED (UUID part names would
    // mask a spelling-mismatched no-op at the value level)
    assert(Segments.bloomEntriesUnder(segPath) === 0,
      "writeSegment left stale bloom entries under the rewritten path")
    val got = Segments.scanForIdHashes(spark, base, Seq(500L))
      .map(_.select("vec_id").as[Long].collect().toSeq)
    assert(got === Some(Seq(500L)),
      s"stale bloom/listing served after the rewrite: $got")
    // and a DELETE through the primitive invalidates too: deleting the
    // store then re-creating the same path must not serve ghosts
    Segments.deleteDir(s"$base/${Segments.StoreDir}/segment_id=r0")
    Segments.writeSegment(seg(Seq(77L)), base, "r0", false)
    val after = Segments.scanForIdHashes(spark, base, Seq(500L, 77L))
      .map(_.select("vec_id").as[Long].collect().toSeq)
    assert(after === Some(Seq(77L)), s"stale state after delete: $after")
    Segments.deleteDir(base)
  }

  test("over-budget id-set fallback (the 100 TB shape): footer blooms still prune and values match the exact path") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("id_hash") < 0), base, "neg", false)
    Segments.writeSegment(rows.filter(col("id_hash") >= 0), base, "pos", false)
    val hs = rows.filter(col("vec_id").isin(7L, 20L))
      .select("id_hash").distinct().as[Long].collect().toIndexedSeq
    val want = Segments
      .readPaths(spark, Segments.catalogDescriptors(spark, base)
        .map(_.file_path))
      .filter(col("id_hash").isin(hs: _*))
      .select("id_hash", "epoch", "deleted", "vec_id")
      .as[(Long, Long, Boolean, Long)].collect().sorted.toSeq
    // force the fallback: a zero exact-set budget sends the warm down
    // the per-file footer-evidence path (bloom or dictionary page)
    val prev = System.getProperty("graft.bloom.exact.bytes")
    System.setProperty("graft.bloom.exact.bytes", "0")
    try {
      // adoption's variant DECLINES the over-budget eager sweep: a
      // whole-store sequential footer read inside open() would block
      // every fresh-JVM reopen of exactly the large stores the budget
      // fallback exists for — the warm must skip (admit nothing) and
      // point lookups still answer exactly via lazy per-file loads
      assert(Segments.warmIdBlooms(spark, base,
        eagerBloomsOverBudget = false) === 0)
      assert(Segments.bloomEntriesUnder(base) === 0,
        "declined over-budget warm admitted evidence anyway")
      assert(Segments.warmIdBlooms(spark, base) > 0)
      val got = Segments.scanForIdHashes(spark, base, hs).get
        .select("id_hash", "epoch", "deleted", "vec_id")
        .as[(Long, Long, Boolean, Long)].collect().sorted.toSeq
      assert(got === want, "fallback evidence diverged from the scan")
      // footer evidence can only ADD files (false positives), never
      // drop one — an absent hash still answers exactly
      assert(Segments.scanForIdHashes(spark, base, Seq(12345L))
        .forall(_.count() === 0L))
    } finally {
      if (prev == null) System.clearProperty("graft.bloom.exact.bytes")
      else System.setProperty("graft.bloom.exact.bytes", prev)
    }
    Segments.deleteDir(base)
  }

  test("warmIdBlooms is incremental: a second warm after one new segment loads only the new files") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("id_hash") < 0), base, "neg", false)
    val first = Segments.warmIdBlooms(spark, base)
    assert(first > 0, "first warm loaded nothing")
    // idempotent: everything cached, nothing re-scanned
    assert(Segments.warmIdBlooms(spark, base) === 0)
    // one new segment: the warm pays for ITS files only (a full-store
    // rescan per maintenance cycle was the review-caught regression)
    Segments.writeSegment(rows.filter(col("id_hash") >= 0), base, "pos", false)
    val second = Segments.warmIdBlooms(spark, base)
    val posFiles = new java.io.File(s"$base/${Segments.StoreDir}/segment_id=pos")
      .listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(second === posFiles,
      s"incremental warm loaded $second files, new segment has $posFiles")
    // and the evidence serves: a hash from each segment resolves
    val hs = rows.filter(col("vec_id").isin(7L, 20L))
      .select("id_hash").distinct().as[Long].collect().toIndexedSeq
    val got = Segments.scanForIdHashes(spark, base, hs).get
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(got === Set(7L, 20L))
    Segments.deleteDir(base)
  }

  /** Three segments for the scored point lookup: stable s0 holds ids
    * 0..119 at epoch 1 (119 with a null vec); delta d0 overwrites
    * 60..99 and deletes 0..19 at epoch 2 (odd tombstones keep a vec);
    * delta d1 overwrites 80..89, deletes 60..64 and resurrects 10..14
    * at epoch 3. Live: 10..14, 20..59, 65..118.
    */
  private val lookupDim = 8
  private def lookupHash(id: Long): Long = id * 0x9E3779B97F4A7C15L
  private def lookupStore(vecType: String): String = {
    val base = tmpBase()
    def rows(ids: Seq[Long], epoch: Long, deleted: Boolean,
        nullVec: Long => Boolean = _ => false) =
      ids.map(id => (id, lookupHash(id), epoch, deleted, id % 4,
          if (nullVec(id)) None
          else Some(Seq.tabulate(lookupDim)(d =>
            math.sin(id * 7.0 + d * 3.0 + epoch)))))
        .toDF("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
        .withColumn("vec", col("vec").cast(s"array<$vecType>"))
    Segments.writeSegment(rows(0L to 119L, 1L, false, _ == 119L), base,
      "s0", isStable = true)
    Segments.writeSegment(rows(60L to 99L, 2L, false)
      .unionByName(rows(0L to 19L, 2L, true, _ % 2 == 0)), base, "d0", false)
    Segments.writeSegment(rows(80L to 89L, 3L, false)
      .unionByName(rows(60L to 64L, 3L, true))
      .unionByName(rows(10L to 14L, 3L, false)), base, "d1", false)
    base
  }

  /** The reference the plan-free lookup replaces: the pruned scan, the
    * Lww.latestBy plan, and the codegen kernels, one plan per query.
    */
  private def planScores(base: String, qs: IndexedSeq[Array[Float]],
      askers: Map[Long, Array[Int]], metric: String): Map[(Int, Long), Long] =
    Segments.scanForIdHashes(spark, base, askers.keys.toSeq) match {
      case None => Map.empty
      case Some(df) =>
        val live = graft.operators.Lww.latestBy(df, "id_hash", "epoch")
          .filter(!col("deleted") && col("vec").isNotNull)
          .select(col("id_hash"), col("vec").cast("array<double>").as("vec"))
        qs.indices.flatMap { qi =>
          val hs = askers.collect { case (h, a) if a.contains(qi) => h }.toSeq
          val qLit = typedlit(qs(qi).map(_.toDouble).toSeq)
          val score = metric match {
            case "l2" => VectorFunctions.l2SqD(qLit, col("vec"))
            case "cosine" => VectorFunctions.cosineD(qLit, col("vec"))
            case _ => VectorFunctions.dotD(qLit, col("vec"))
          }
          live.filter(col("id_hash").isin(hs: _*))
            .select(col("id_hash"), score).collect()
            .map(r => (qi, r.getLong(0)) ->
              java.lang.Double.doubleToLongBits(r.getDouble(1)))
        }.toMap
    }

  private def directScores(base: String, qs: IndexedSeq[Array[Float]],
      askers: Map[Long, Array[Int]], metric: String): Map[(Int, Long), Long] = {
    val out = scala.collection.mutable.Map.empty[(Int, Long), Long]
    Segments.scoreLatestByIdHash(spark, base, qs, askers, metric) {
      (qi, h, s) =>
        assert(out.put((qi, h), java.lang.Double.doubleToLongBits(s)).isEmpty,
          s"($qi, $h) emitted twice")
    }
    out.toMap
  }

  test("plan-free scored point lookup is bit-equal to scanForIdHashes + Lww.latestBy + the plan kernels") {
    val qs = IndexedSeq.tabulate(3)(i =>
      Array.tabulate(lookupDim)(d => math.cos(i * 5.0 + d).toFloat))
    val absent = (500L until 510L).map(lookupHash)
    def ask(ids: Seq[Long], qi: Int) = ids.map(lookupHash).map(_ -> qi)
    val askers: Map[Long, Array[Int]] =
      (ask(0L to 119L, 0) ++ absent.map(_ -> 0) ++
        ask((0L to 119L).filter(_ % 2 == 0), 1) ++
        ask(50L to 119L by 3L, 2) ++ absent.map(_ -> 2))
        .groupBy(_._1).map { case (h, ps) => h -> ps.map(_._2).toArray }
    val live = ((10L to 14L) ++ (20L to 59L) ++ (65L to 118L))
      .map(lookupHash).toSet
    Seq("float", "double").foreach { vecType =>
      val base = lookupStore(vecType)
      Seq("exact", "footer").foreach { evidence =>
        Segments.invalidateBlooms(base)
        val prev = System.getProperty("graft.bloom.exact.bytes")
        if (evidence == "footer")
          System.setProperty("graft.bloom.exact.bytes", "0")
        try {
          assert(Segments.warmIdBlooms(spark, base) > 0)
          Seq("l2", "ip", "cosine").foreach { metric =>
            val ctx = s"$vecType/$evidence/$metric"
            val got = directScores(base, qs, askers, metric)
            assert(got === planScores(base, qs, askers, metric), ctx)
            assert(got.keySet.filter(_._1 == 0).map(_._2) === live, ctx)
          }
          // hashes absent everywhere: nothing to emit
          assert(directScores(base, qs, absent.map(_ -> Array(0, 1)).toMap,
            "ip").isEmpty)
          // pruned to zero files: outside every zone map (catalog prune),
          // and — with exact id sets — absent inside them (evidence prune)
          assert(Segments.pointLookupFiles(spark, base,
            Seq(Long.MinValue)).isEmpty)
          if (evidence == "exact")
            assert(Segments.pointLookupFiles(spark, base, absent).isEmpty)
          assert(directScores(base, qs, Map(Long.MinValue -> Array(0)),
            "l2").isEmpty)
        } finally {
          if (prev == null) System.clearProperty("graft.bloom.exact.bytes")
          else System.setProperty("graft.bloom.exact.bytes", prev)
        }
      }
      Segments.deleteDir(base)
    }
  }

  test("listing cache: catalog churn rotates the key; compaction interleaved with point lookups stays current") {
    val base = tmpBase()
    def seg(hs: Seq[Long], epoch0: Long) =
      hs.map(h => (h, epoch0 + h, h, false, h % 3))
        .toDF("id_hash", "epoch", "vec_id", "deleted", "centroid_id")
    // the model the store must track through churn
    val model = scala.collection.mutable.Map.empty[Long, Long]
    var gen = 0
    (1 to 4).foreach { round =>
      val hs = (round * 10L until round * 10L + 5L)
      Segments.writeSegment(seg(hs, 1000L * round), base, s"d$gen", false)
      gen += 1
      hs.foreach(h => model(h) = 1000L * round + h)
      // catalog changed → new path set → new key: the lookup must see
      // the fresh segment through the cache, not a stale entry
      val probe = hs.head
      val got = Segments.scanForIdHashes(spark, base, Seq(probe)).map(
        df => graft.operators.Lww.latestBy(df, "id_hash", "epoch")
          .select("epoch").as[Long].head())
      assert(got === Some(model(probe)), s"round $round pre-compact")
      if (round % 2 == 0) {
        Segments.compact(spark, base, s"s$round")
        // post-compaction the old delta paths are retired; every model
        // key must still resolve to its latest epoch through the cache
        model.foreach { case (h, e) =>
          val after = Segments.scanForIdHashes(spark, base, Seq(h)).map(
            df => graft.operators.Lww.latestBy(df, "id_hash", "epoch")
              .select("epoch").as[Long].head())
          assert(after === Some(e), s"round $round post-compact h=$h")
        }
      }
    }
    Segments.deleteDir(base)
  }

  test("IVF probe over segment layout is partition pruning, not a scan") {
    val base = tmpBase()
    val cents = Ivf.deterministicCentroids(emb, 50)
    val assigned = Ivf.assign(emb, cents)
      .withColumn("id_hash", VectorFunctions.hashId(concat(lit("vec-"), col("vec_id"))))
      .withColumn("epoch", col("vec_id"))
      .withColumn("deleted", lit(false))
    Segments.writeSegment(assigned, base, "s0", isStable = true)
    val probeList = Seq(0L, 100L) // nprobe=2 of 10 lists
    val probed = Segments.readSegments(spark, base)
      .filter(col("centroid_id").isin(probeList: _*))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("centroid_id"), plan.take(2000))
    // and the scan reads only the probed fraction
    val all = Segments.readSegments(spark, base).count()
    val hit = probed.count()
    assert(hit > 0 && hit < all / 2)
    Segments.deleteDir(base)
  }

  test("concurrent flushes never lose a descriptor or a row (A1/W10)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = tmpBase()
    val rows = segmentRows.cache()
    val total = rows.count()
    // 8 disjoint slices flushed as concurrent jobs — the reference's
    // per-shard flush threads (config.h:30) against one shared manifest
    val writes = (0 until 8).map { i => Future {
      Segments.writeSegment(rows.filter(col("vec_id") % 8 === i), base,
        f"delta-$i%03d", isStable = false)
    }}
    writes.foreach(Await.result(_, Duration.Inf))
    val descs = Segments.catalogDescriptors(spark, base)
    assert(descs.map(_.segment_id).toSet ===
      (0 until 8).map(i => f"delta-$i%03d").toSet)
    assert(descs.map(_.num_vectors).sum === total)
    assert(Segments.readSegments(spark, base).count() === total)
    rows.unpersist()
    Segments.deleteDir(base)
  }

  test("rebuildLayout re-clusters latest-live rows and swaps the catalog (B1 rebuild)") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("epoch") < 2000), base, "d0", false)
    Segments.writeSegment(rows.filter(col("epoch") >= 2000), base, "d1", false)
    val cents25 = Ivf.deterministicCentroids(emb, 25)
    val desc = Segments.rebuildLayout(spark, base,
      df => Ivf.assign(df, cents25, vecCol = "vec"), "stable-gen2")
    assert(desc.exists(_.segment_id === "stable-gen2"))
    // catalog: only the new generation is active
    val active = Segments.catalogDescriptors(spark, base)
    assert(active.map(_.segment_id) === Seq("stable-gen2"))
    // contents: exactly the latest-live rows, re-assigned to the finer set
    val got = Segments.readSegments(spark, base)
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    val oracle = MutationLog.live(MutationLog.deterministicLog(emb))
      .select("vec_id", "epoch").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === oracle.toSeq)
    // layout: every row's centroid is from the new (every=25) set
    val newCids = cents25.select("cid").as[Long].collect().toSet
    val cids = Segments.readSegments(spark, base)
      .select("centroid_id").distinct().as[Long].collect()
    assert(cids.forall(newCids.contains))
    // rebuild of an empty (all-replaced... fresh) store is a no-op
    val empty = tmpBase()
    assert(Segments.rebuildLayout(spark, empty,
      df => df, "stable-x").isEmpty)
    Seq(base, empty).foreach(Segments.deleteDir)
  }

  test("rebuild kill-point: crash before the atomic publish leaves ONLY the old generation; rerun converges") {
    // rebuild publishes the new descriptor + the replacement markers in
    // ONE catalog append — unlike compaction, a both-generations-active
    // state is not benign here (rebuilt rows keep their original
    // (id_hash, epoch), so LWW would keep BOTH copies → duplicate
    // candidates). Simulate the only crash window left: new data dir on
    // disk, publish append never happened.
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows, base, "d0", false)
    val before = Segments.readSegments(spark, base)
      .select("vec_id", "epoch").as[(Long, Long)].collect().sorted.toSeq
    val cents25 = Ivf.deterministicCentroids(emb, 25)
    // torn rebuild: the stable generation's data is written, the publish
    // append is not (appendDesc=false IS the pre-publish state)
    val resolved = graft.operators.Lww
      .latestBy(Segments.readSegments(spark, base), "id_hash", "epoch")
      .filter(!col("deleted"))
    Segments.writeSegment(
      Ivf.assign(resolved.drop("centroid_id"), cents25, vecCol = "vec"),
      base, "stable-gen2", isStable = true, appendDesc = false)
    // readers see the OLD world only — the orphan directory is invisible
    // (no descriptor), and no duplicates exist
    assert(Segments.catalogDescriptors(spark, base)
      .map(_.segment_id) === Seq("d0"))
    assert(Segments.readSegments(spark, base)
      .select("vec_id", "epoch").as[(Long, Long)].collect().sorted.toSeq
      === before)
    // recovery: rerun the rebuild (idempotent overwrite of the orphan)
    Segments.rebuildLayout(spark, base,
      df => Ivf.assign(df, cents25, vecCol = "vec"), "stable-gen2")
    assert(Segments.catalogDescriptors(spark, base)
      .map(_.segment_id) === Seq("stable-gen2"))
    val after = Segments.readSegments(spark, base)
      .select("vec_id", "epoch").as[(Long, Long)].collect().sorted.toSeq
    val oracle = MutationLog.live(MutationLog.deterministicLog(emb))
      .select("vec_id", "epoch").as[(Long, Long)].collect().sorted.toSeq
    assert(after === oracle)
    // no id appears twice (the duplicate-candidates failure mode)
    assert(after.map(_._1).distinct.length === after.length)
    Segments.deleteDir(base)
  }

  test("checkpointCatalog folds manifest history without changing the active view") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("epoch") < 2000), base, "d0", false)
    Segments.writeSegment(rows.filter(col("epoch") >= 2000), base, "d1", false)
    Segments.compact(spark, base, "stable-0") // appends replacement markers
    val before = Segments.catalogDescriptors(spark, base)
      .map(d => (d.segment_id, d.is_stable, d.num_vectors))
    val histBefore = Segments.allDescriptors(spark, base).length
    assert(histBefore > 3) // writes + replacement markers accumulated
    Segments.checkpointCatalog(spark, base)
    val after = Segments.catalogDescriptors(spark, base)
      .map(d => (d.segment_id, d.is_stable, d.num_vectors))
    assert(after === before)
    // history folded to one final row per segment, in one file
    assert(Segments.allDescriptors(spark, base).length === 3)
    val files = new java.io.File(s"$base/_catalog").listFiles()
      .filter(_.getName.startsWith("desc-"))
    assert(files.length === 1, files.map(_.getName).mkString(","))
    // checkpoint of a checkpointed (single-file) catalog is a no-op
    Segments.checkpointCatalog(spark, base)
    assert(Segments.catalogDescriptors(spark, base)
      .map(d => (d.segment_id, d.is_stable, d.num_vectors)) === before)
    // read path still works end to end
    assert(Segments.readSegments(spark, base).count() > 0)
    Segments.deleteDir(base)
  }

  test("append landing mid-checkpoint is never lost (A1 checkpoint ordering)") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("epoch") < 2000), base, "d0", false)
    Segments.writeSegment(rows.filter(col("epoch") >= 2000), base, "d1", false)
    Segments.compact(spark, base, "stable-0")
    val stable0 = Segments.catalogDescriptors(spark, base)
      .find(_.segment_id == "stable-0").get
    // interleave in the checkpoint's read→append window: a flush lands a
    // NEW segment AND a compaction-style UPDATE of a segment the fold
    // carries (stable-0 retired) — the two shapes a stale fold could
    // shadow if the checkpoint file sorted after them
    Segments.checkpointInterleaveHook = () => {
      Segments.appendCatalog(spark, base, Seq(
        stable0.copy(segment_id = "d9", is_stable = false),
        stable0.copy(replaced_by = Some("stable-1"))))
    }
    try Segments.checkpointCatalog(spark, base)
    finally Segments.checkpointInterleaveHook = () => ()
    val active = Segments.catalogDescriptors(spark, base)
      .map(_.segment_id).toSet
    // the new segment survives, and the update wins over the fold: the
    // checkpoint file is named to sort right after its LAST FOLDED file,
    // so later appends always supersede it
    assert(active.contains("d9"), active.toString)
    assert(!active.contains("stable-0"), active.toString)
  }

  test("maintenance lease: one writer at a time; a lapsed lease is broken (A1)") {
    val base = tmpBase()
    val rows = segmentRows.cache()
    Segments.writeSegment(rows.filter(col("epoch") < 2000), base, "d0", false)
    Segments.writeSegment(rows.filter(col("epoch") >= 2000), base, "d1", false)
    Segments.acquireLease(spark, base, "other-driver")
    intercept[Segments.CatalogLeaseHeld] {
      Segments.compact(spark, base, "s0")
    }
    // nothing landed while refused
    assert(Segments.catalogDescriptors(spark, base).forall(!_.is_stable))
    Segments.releaseLease(spark, base)
    // a crashed holder's lapsed lease must not wedge maintenance
    Segments.acquireLease(spark, base, "crashed-driver", ttlMs = 1L)
    Thread.sleep(10)
    assert(Segments.compact(spark, base, "s0").nonEmpty)
    assert(Segments.catalogDescriptors(spark, base)
      .map(_.segment_id) === Seq("s0"))
    // and the successful compact released its own lease on the way out
    Segments.acquireLease(spark, base, "next")
    Segments.releaseLease(spark, base)
    Segments.deleteDir(base)
  }

  test("stored PQ codes: phase-1 scan reads codes, never raw vectors") {
    val base = tmpBase()
    val cb = graft.index.Pq.deterministicCodebook(emb, 8, 8, 50)
    val rows = segmentRows
      .withColumn("codes", when(col("deleted"), lit(null))
        .otherwise(graft.index.Pq.codesColumn(cb, vecCol = "vec")))
    Segments.writeSegment(rows, base, "d0", false)
    val all = Segments.readSegments(spark, base)
    val live = graft.operators.Lww.latestBy(all, "id_hash", "epoch")
      .filter(!col("deleted"))
    // the codes-only projection must push column pruning to the parquet
    // scan — at 100 TB phase 1 reading `vec` would defeat the codes
    val plan = live.select(col("vec_id"), col("codes"))
      .queryExecution.executedPlan.toString
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(reads.nonEmpty)
    reads.foreach(r => assert(!r.contains("vec:"), r))
    // and the stored codes equal a fresh encode of the stored vectors
    val stored = live.select(col("vec_id"), col("codes")).as[(Long, Seq[Int])]
      .collect().toMap
    val fresh = graft.index.Pq.encode(live, cb, vecCol = "vec")
      .as[(Long, Seq[Int])].collect().toMap
    assert(stored === fresh)
    Segments.deleteDir(base)
  }

  test("500-segment catalog plans as ONE multi-path scan, in seconds") {
    // The read path must not pay per-segment planning cost: at 100× the
    // reference envelope (~16k segments) a union-of-scans plan is a
    // driver bottleneck before a byte is read. One real segment is
    // written, its directory is replicated driver-side (a writeSegment
    // per segment would time 500 Spark WRITE jobs, not planning), and
    // 499 descriptors appended — then readSegments must produce ONE
    // scan leaf and plan in O(seconds).
    val base = tmpBase()
    val rows = (0 until 100).map(i =>
        (i.toLong, i.toLong * 7, 1000L + i, false, (i % 4).toLong,
          Seq(i.toDouble, 1.0)))
      .toDF("vec_id", "id_hash", "epoch", "deleted", "centroid_id", "vec")
    val d0 = Segments.writeSegment(rows, base, "seg000", isStable = true)
    val src = java.nio.file.Paths.get(base, "store", "segment_id=seg000")
    val descs = (1 until 500).map { i =>
      val id = f"seg$i%03d"
      val dstRoot = java.nio.file.Paths.get(base, "store", s"segment_id=$id")
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        val dst = dstRoot.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      } finally walk.close()
      d0.copy(segment_id = id, file_path = s"$base/store/segment_id=$id")
    }
    Segments.appendCatalog(spark, base, descs)
    val t0 = System.nanoTime()
    val df = Segments.readSegments(spark, base)
    val plan = df.queryExecution.executedPlan // forces analysis + planning
    val planSec = (System.nanoTime() - t0) / 1e9
    assert(planSec < 30.0, s"500-segment planning took $planSec s")
    assert(plan.collectLeaves().size === 1,
      s"expected one multi-path scan leaf:\n$plan")
    assert(df.count() === 500L * 100)
    // provenance and partition columns survive the multi-path read
    assert(df.filter(col("segment_id") === "seg123").count() === 100)
    assert(df.filter(col("centroid_id") === 2L).count() === 500L * 25)
    Segments.deleteDir(base)
  }

  test("catalogStats reports tiers") {
    val base = tmpBase()
    val rows = segmentRows
    Segments.writeSegment(rows.filter(col("epoch") < 2000), base, "d0", false)
    Segments.compact(spark, base, "s0")
    val st = Segments.catalogStats(spark, base)
      .select("is_stable", "n_segments").as[(Boolean, Long)].collect().toMap
    assert(st === Map(true -> 1L))
    Segments.deleteDir(base)
  }

  test("outer union strictness: a missing DATA column refuses; partition-layout divergence null-fills") {
    val base = tmpBase()
    // a kv-layout group (normal segment tree) + a foreign flat root —
    // the two land in different readPaths groups, so their union is the
    // OUTER reduce under test
    Segments.writeSegment(segmentRows, base, "d0", false)
    val kvRoot = s"$base/${Segments.StoreDir}/segment_id=d0"
    // foreign root 1: same data columns, no partition layout — the
    // divergence is segment_id/centroid_id only → must load, null-filled
    val foreignOk = s"$base/foreign_ok"
    segmentRows.select("vec_id", "id_hash", "epoch", "deleted", "vec")
      .limit(5).write.parquet(foreignOk)
    val merged = Segments.readPaths(spark, Seq(kvRoot, foreignOk))
    assert(merged.count() === segmentRows.count() + 5)
    assert(merged.filter(col("segment_id").isNull).count() === 5)
    // foreign root 2: missing the `epoch` DATA column — corruption, the
    // union must surface it, never null-fill five epoch-less rows into
    // an LWW view that would then resolve them arbitrarily
    val foreignBad = s"$base/foreign_bad"
    segmentRows.select("vec_id", "id_hash", "deleted", "vec")
      .limit(5).write.parquet(foreignBad)
    intercept[org.apache.spark.sql.AnalysisException] {
      Segments.readPaths(spark, Seq(kvRoot, foreignBad)).count()
    }
    Segments.deleteDir(base)
  }

  test("schema memo: reads after a write skip inference but serve the " +
      "written schema; an in-place rewrite with new columns is never " +
      "served stale") {
    val base = tmpBase()
    Segments.writeSegment(segmentRows, base, "d0", false)
    val read1 = Segments.readSegments(spark, base)
    // memoized read: data columns in written order, partition columns
    // as the inference-off read types them (segment_id string,
    // centroid_id cast long by readInferenceOff)
    assert(read1.schema.fieldNames.toSeq ===
      Seq("vec_id", "id_hash", "epoch", "deleted", "vec",
        "segment_id", "centroid_id"))
    assert(read1.schema("centroid_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(read1.count() === segmentRows.count())
    // the recovery replay REWRITES the same segment path with a
    // different shape — the memo must not serve the old schema
    val replacement = segmentRows
      .withColumn("extra", lit(1L))
      .select("vec_id", "id_hash", "epoch", "deleted", "extra",
        "centroid_id", "vec")
    Segments.writeSegment(replacement, base, "d0", false)
    val read2 = Segments.readSegments(spark, base)
    assert(read2.schema.fieldNames.contains("extra"))
    assert(read2.select(sum(col("extra"))).collect().head.getLong(0) ===
      segmentRows.count())
    Segments.deleteDir(base)
  }
  /** Facade-shaped prepared rows (the columns `Graft.prepare` yields:
    * the user's id/vec/tags, then deleted, epoch, id_hash, vec_id and
    * centroid_id, tombstones at list -1 with a null vec).
    */
  private def flushBatchRows(vecType: String, rows: Seq[(Long, Long, Boolean)],
      salt: Int) =
    rows.map { case (id, epoch, deleted) =>
      (s"f-$id", if (deleted) None
        else Some(Seq.tabulate(lookupDim)(d => math.sin(id * 3.0 + d + salt))),
        Seq((id % 5).toInt, salt), deleted, epoch, lookupHash(id),
        lookupHash(id), if (deleted) -1L else id % 7)
    }.toDF("id", "vec", "tags", "deleted", "epoch", "id_hash", "vec_id",
      "centroid_id")
      .withColumn("vec", col("vec").cast(s"array<$vecType>"))

  /** Every parquet file under `dir` with its relative directory. */
  private def partFiles(dir: String): Seq[java.io.File] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toFile).filter(_.getName.endsWith(".parquet")).toSeq
  }

  test("driver flush (flushRows) writes what flushBatch writes: descriptors, lists, schema, rows, id evidence; blooms sized to each file") {
    import org.apache.parquet.column.ParquetProperties
    import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
    import scala.jdk.CollectionConverters._
    // batch 0: 200 new rows; batch 1: overwrites 0..59, deletes 60..89,
    // adds 200..239, carries 240..249 twice at ONE epoch (both kept) and
    // 250 twice at two epochs (the older drops); batch 2: 130 rows over
    // a 40-row segment target, so it splits into four -PP segments
    val batches = Seq(
      ((0L until 200L).map(id => (id, 1000L + id, false)), 2000000L),
      ((0L until 60L).map(id => (id, 2000L + id, false)) ++
        (60L until 90L).map(id => (id, 2000L + id, true)) ++
        (200L until 250L).map(id => (id, 2000L + id, false)) ++
        (240L until 250L).map(id => (id, 2000L + id, false)) ++
        Seq((250L, 2100L, false), (250L, 2101L, false)), 2000000L),
      ((100L until 230L).map(id => (id, 3000L + id, id % 9 == 0)), 40L))
    def rel(base: String, p: String) =
      Segments.plainPath(p).stripPrefix(Segments.plainPath(base))
    def descs(base: String) = Segments.catalogDescriptors(spark, base)
      .map(d => d.copy(file_path = rel(base, d.file_path), created_at = null))
      .sortBy(_.segment_id)
    def lists(base: String, d: Segments.SegmentDescriptor) =
      Option(new java.io.File(Segments.plainPath(d.file_path)).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory)
        .map(_.getName).toSet
    def allRows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col).toSeq: _*).collect()
        .map(_.toString).sorted.toSeq
    Seq("float", "double").foreach { vecType =>
      val (a, b) = (tmpBase(), tmpBase())
      batches.zipWithIndex.foreach { case ((rs, maxRows), i) =>
        val df = flushBatchRows(vecType, rs, i)
        graft.streaming.IngestPipeline.flushBatch(df, a, i.toLong,
          maxRowsPerSegment = maxRows)
        val published = Segments.flushRows(spark, b, f"delta-$i%05d",
          df.schema, df.collect().toSeq, maxRows)
        assert(published.map(_.segment_id) ===
          descs(b).map(_.segment_id).filter(_.startsWith(f"delta-$i%05d")))
      }
      val (da, db) = (descs(a), descs(b))
      assert(db.map(_.segment_id) === Seq("delta-00000", "delta-00001",
        "delta-00002-00", "delta-00002-01", "delta-00002-02",
        "delta-00002-03"), vecType)
      assert(db === da, vecType)
      Segments.catalogDescriptors(spark, a).sortBy(_.segment_id)
        .zip(Segments.catalogDescriptors(spark, b).sortBy(_.segment_id))
        .foreach { case (x, y) =>
          assert(lists(b, y) === lists(a, x), s"$vecType ${y.segment_id}")
          // fresh footer inference (a plain read, no memo)
          assert(spark.read.parquet(y.file_path).schema ===
            spark.read.parquet(x.file_path).schema, y.segment_id)
        }
      // memoized schema, then every stored row and the LWW live view
      val (sa, sb) = (Segments.readSegments(spark, a),
        Segments.readSegments(spark, b))
      assert(sb.schema === sa.schema, vecType)
      assert(allRows(sb) === allRows(sa), vecType)
      assert(allRows(graft.streaming.IngestPipeline.liveView(spark, b)) ===
        allRows(graft.streaming.IngestPipeline.liveView(spark, a)), vecType)
      // id evidence: equal pruning answers over present and absent ids
      // (exact id sets), equal scored lookups under both evidence kinds
      val present = (0L to 250L).map(lookupHash)
      val absent = (900L until 940L).map(lookupHash)
      val probes = Seq(present.take(3), present.slice(60, 90), absent,
        present.takeRight(20) ++ absent.take(5))
      def prune(base: String, hs: Seq[Long]) = {
        val files = Segments.readPaths(spark,
          Segments.catalogDescriptors(spark, base).map(_.file_path)).inputFiles
        Segments.bloomPruneFiles(spark, files.toSeq, hs)
          .map(_.map(f => rel(base, new org.apache.hadoop.fs.Path(f)
            .getParent.toUri.getPath)).toSet)
      }
      val qs = IndexedSeq.tabulate(2)(q =>
        Array.tabulate(lookupDim)(d => math.cos(q * 5.0 + d).toFloat))
      val askers = present.map(h => h -> Array(0, 1)).toMap
      val exact = scala.collection.mutable.Map.empty[Seq[Long], Set[String]]
      Seq("exact", "footer").foreach { evidence =>
        Seq(a, b).foreach(Segments.invalidateBlooms)
        val prev = System.getProperty("graft.bloom.exact.bytes")
        if (evidence == "footer")
          System.setProperty("graft.bloom.exact.bytes", "0")
        try {
          Seq(a, b).foreach(Segments.warmIdBlooms(spark, _))
          if (evidence == "exact") probes.foreach { hs =>
            exact(hs) = prune(a, hs).get
            assert(prune(b, hs) === prune(a, hs))
          }
          else probes.foreach { hs =>
            // footer blooms differ in size, so only their true positives
            // must agree: no file holding a probed id is ever pruned
            Seq(a, b).foreach(base =>
              assert(exact(hs).subsetOf(prune(base, hs).get)))
          }
          assert(directScores(b, qs, askers, "l2") ===
            directScores(a, qs, askers, "l2"), s"$vecType/$evidence")
        } finally {
          if (prev == null) System.clearProperty("graft.bloom.exact.bytes")
          else System.setProperty("graft.bloom.exact.bytes", prev)
        }
      }
      // each driver-written file's id bloom is at most what parquet-mr
      // allocates for that file's row count at the default fpp (a fully
      // dictionary-encoded chunk carries none: its dictionary is exact)
      val files = partFiles(b)
      assert(files.nonEmpty)
      files.foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath),
            spark.sessionState.newHadoopConf()))
        try rd.getRowGroups.asScala.foreach { bg =>
          val cc = bg.getColumns.asScala
            .find(_.getPath.toDotString == "id_hash").get
          val bloom = rd.getBloomFilterDataReader(bg).readBloomFilter(cc)
          val sized = new BlockSplitBloomFilter(
            BlockSplitBloomFilter.optimalNumOfBits(bg.getRowCount,
              ParquetProperties.DEFAULT_BLOOM_FILTER_FPP) / 8,
            ParquetProperties.DEFAULT_MAX_BLOOM_FILTER_BYTES).getBitsetSize
          if (bloom == null)
            assert(!cc.getEncodingStats.hasNonDictionaryEncodedPages, f)
          else assert(bloom.getBitsetSize <= sized,
            s"$f: ${bloom.getBitsetSize} B for ${bg.getRowCount} rows")
        } finally rd.close()
      }
      Seq(a, b).foreach(Segments.deleteDir)
    }
  }
}
