package graft.segments

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.ingest.VectorEntries
import graft.streaming.IngestPipeline

class TagStatsFlushSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("tag stats prune segments before scan (Q5/B4)") {
    val base = tmp("graft-tagstats-")
    val vecs = VectorEntries.fromEmbeddings(emb)
      .withColumn("epoch", col("vec_id"))
      .withColumn("centroid_id", lit(0L))
    // segment A: labels 0-4 only; segment B: labels 5-9 only
    val a = vecs.filter(col("label") < 5)
    val b = vecs.filter(col("label") >= 5)
    Segments.writeSegment(a, base, "segA", isStable = false)
    Segments.writeTagStats(a, base, "segA")
    Segments.writeSegment(b, base, "segB", isStable = false)
    Segments.writeTagStats(b, base, "segB")

    // tag 2 (a label < 5) must prune segB entirely
    assert(Segments.segmentsForTags(spark, base, Seq(2)) === Seq("segA"))
    val hits = Segments.scanForTags(spark, base, Seq(2))
    assert(hits.count() > 0)
    assert(hits.filter(!array_contains(col("tags"), 2)).count() === 0)
    // a tag in both halves reads both
    assert(Segments.segmentsForTags(spark, base, Seq(12)).toSet
      === Set("segA", "segB"))
    // …and BOTH dense-branch segments load as ONE multi-path scan: the
    // dense branches share the in-scan predicate, so the plan must not
    // grow one scan node per segment (threshold 0 forces dense)
    val dense2 = Segments.scanForTagsRowLevel(spark, base, Seq(12),
      denseThreshold = 0.0)
    assert(dense2.queryExecution.executedPlan.collectLeaves().size === 1,
      dense2.queryExecution.executedPlan.toString)
    assert(dense2.filter(!array_contains(col("tags"), 12)).count() === 0)
    assert(dense2.count() ===
      vecs.filter(array_contains(col("tags"), 12)).count())
    Segments.deleteDir(base)
  }

  test("row-level tag index: sparse semi-join path equals dense predicate path (B4)") {
    val base = tmp("graft-tagidx-")
    val vt = VectorEntries.fromEmbeddings(emb)
      .withColumn("epoch", col("vec_id"))
      .withColumn("centroid_id", col("vec_id") % 4)
    Segments.writeSegment(vt, base, "seg0", isStable = false)
    Segments.writeTagStats(vt, base, "seg0")
    Segments.writeTagIndex(vt, base, "seg0")
    // stats carry real per-tag counts (the dense/sparse decision input)
    val counts = Segments.tagStatsCounts(spark, base)("seg0")
    val wantCounts = vt.select(explode(col("tags")).as("tag"))
      .groupBy("tag").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts === wantCounts)
    val tags = Seq(3, 11)
    // force each branch via the threshold; both must yield the same rows
    val sparse = Segments.scanForTagsRowLevel(spark, base, tags,
      denseThreshold = 1.1)
    val dense = Segments.scanForTagsRowLevel(spark, base, tags,
      denseThreshold = 0.0)
    assert(sparse.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "sparse path must go through the posting semi-join")
    assert(!dense.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    val want = vt.filter(arrays_overlap(col("tags"),
        lit(tags.toArray)))
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(sparse.select("vec_id").as[Long].collect().sorted.toSeq === want)
    assert(dense.select("vec_id").as[Long].collect().sorted.toSeq === want)
    // posting read prunes to the requested tag directories only
    val postings = spark.read
      .parquet(s"$base/_tagindex/segment_id=seg0")
      .filter(col("tag").isin(tags: _*))
    val scan = postings.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("tag"),
      "tag postings must prune by partition directory")
    Segments.deleteDir(base)
  }

  test("N sparse segments consolidate into ONE posting semi-join (plan is O(1) in segment count)") {
    val base = tmp("graft-tagidx-many-")
    val n = 8
    (0 until n).foreach { s =>
      val part = VectorEntries.fromEmbeddings(emb)
        .filter(col("vec_id") % n === s)
        .withColumn("epoch", col("vec_id"))
        .withColumn("centroid_id", col("vec_id") % 4)
      Segments.writeSegment(part, base, f"seg$s%03d", isStable = false)
      Segments.writeTagStats(part, base, f"seg$s%03d")
      Segments.writeTagIndex(part, base, f"seg$s%03d")
    }
    val tags = Seq(3, 11)
    val sparse = Segments.scanForTagsRowLevel(spark, base, tags,
      denseThreshold = 1.1)
    val got = sparse.collect().map(_.getAs[Long]("vec_id")).sorted.toSeq
    // every segment takes the sparse branch, yet the executed plan has
    // exactly ONE semi-join (the consolidated posting join) and ONE
    // store scan covering all 8 segment roots — not one subtree per
    // segment. Asserted on the nodes of AQE's final plan, through its
    // query stages, not on a rendering that truncates long paths.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val finalPlan = sparse.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        assert(a.toString.startsWith("AdaptiveSparkPlan isFinalPlan=true"),
          a.toString)
        a.executedPlan
      case p => p
    }
    val helper = new AdaptiveSparkPlanHelper {}
    val semis = helper.collect(finalPlan) {
      case j: BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.size === 1, finalPlan.toString)
    val storeScans = helper.collect(finalPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.toString.contains(s"/${Segments.StoreDir}/segment_id=")) =>
        s
    }
    assert(storeScans.size === 1, finalPlan.toString)
    val roots = storeScans.head.relation.location.rootPaths
    assert(roots.size === 8, roots.mkString(", "))
    assert(roots.forall(_.toString.contains(
      s"/${Segments.StoreDir}/segment_id=")), roots.mkString(", "))
    // and the consolidated path returns exactly the per-segment truth
    val vt = VectorEntries.fromEmbeddings(emb)
    val want = vt.filter(arrays_overlap(col("tags"), lit(tags.toArray)))
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(got === want)
    Segments.deleteDir(base)
  }

  test("flush policy splits oversized batches into range segments (W10)") {
    val base = tmp("graft-flushpolicy-")
    val rows = VectorEntries.fromEmbeddings(emb)
      .withColumn("epoch", col("vec_id"))
      .withColumn("deleted", lit(false))
      .withColumn("centroid_id", lit(0L))
    IngestPipeline.flushBatch(rows, base, 7L, maxRowsPerSegment = 200L)
    val cat = Segments.catalog(spark, base)
      .select("segment_id", "num_vectors")
      .as[(String, Long)].collect().sortBy(_._1)
    assert(cat.length === 3, cat.mkString(",")) // 500 rows / 200 cap
    assert(cat.map(_._2).sum === 500)
    assert(cat.forall(_._2 <= 250)) // roughly even pmod split
    // replay keeps the same segment names (idempotence preserved)
    IngestPipeline.flushBatch(rows, base, 7L, maxRowsPerSegment = 200L)
    assert(Segments.catalog(spark, base).count() === 3)
    Segments.deleteDir(base)
  }
}
