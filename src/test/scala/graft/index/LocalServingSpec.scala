package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.VectorEntries

/** Driver-resident serving tier (reference global-index memory cache,
  * yaml:85-89): bit-identity with the job path across every request
  * shape, budgeted admission, and fall-through behavior.
  */
class LocalServingSpec extends SparkSpec {

  private lazy val cents = Ivf.deterministicCentroids(emb, 50)
  private lazy val entries =
    Ivf.assign(VectorEntries.fromEmbeddings(emb), cents).cache()
  private lazy val queries = graft.operators.Knn.defaultQueries(emb)
    .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  test("cached requests are bit-identical to the job path across filters, metrics, k, nprobe") {
    for (metric <- Seq("ip", "l2", "cosine")) {
      val idx = ServingIndex.build(entries, cents, metric,
        tenantCol = Some("tenant"), tagsCol = Some("tags"))
      val local = idx.toLocal() // default budget covers the fixture
      assert(local.cachedLists === idx.cids.length)
      val filters = Seq(
        ServingFilter.none,
        ServingFilter(tenant = Some("t1")),
        ServingFilter(tagsAny = Some(Seq(3L, 11L))),
        ServingFilter(tenant = Some("t2"), tagsAny = Some(Seq(5L)),
          sampleP = Some(37)))
      for ((_, qv) <- queries.take(4); f <- filters;
           k <- Seq(1, 10); np <- Seq(1, 3, 1000)) {
        val got = local.search(qv, k, np, f).toSeq
        val want = idx.search(qv, k, np, f).toSeq
        assert(got === want, s"metric=$metric f=$f k=$k np=$np")
      }
      assert(local.localServes > 0 && local.fallThroughServes === 0)
      idx.unpersist()
    }
  }

  test("tiered (overlay) requests match the job path, shadow and winners included") {
    val idx = ServingIndex.build(entries, cents, "ip")
    // buffer: re-upsert some stored ids with moved vectors and
    // tombstone a third of them — folded into the next generation by
    // patched
    val buffer = entries.limit(200)
      .select(col("vec_id"), (col("vec_id") % 3 === 0).as("deleted"),
        col("centroid_id"),
        transform(col("embedding"), x => x * lit(1.5f))
          .cast("array<double>").as("vec"))
      .withColumn("epoch", lit(100L) + col("vec_id"))
    val live = Patches.fold(idx, buffer)
    idx.unpersist()
    val local = live.toLocal()
    for ((_, qv) <- queries.take(6); np <- Seq(2, 4)) {
      val got = local.search(qv, 10, np).toSeq
      val want = live.search(qv, 10, np).toSeq
      assert(got === want, s"np=$np")
    }
    assert(local.localServes > 0 && local.fallThroughServes === 0)
    live.unpersist()
  }

  test("a budget smaller than the corpus admits a prefix of lists and falls through when probing past it") {
    val idx = ServingIndex.build(entries, cents, "ip")
    val full = idx.toLocal()
    val fullBytes = full.cachedBytes
    // half the budget: some lists cached, some not
    val half = idx.toLocal(maxBytes = fullBytes / 2)
    assert(half.cachedLists > 0 && half.cachedLists < idx.cids.length)
    // high-nprobe requests must probe an uncached list → fall through,
    // still exact vs the job path
    for ((_, qv) <- queries.take(4)) {
      assert(half.search(qv, 10, 1000).toSeq
        === idx.search(qv, 10, 1000).toSeq)
    }
    assert(half.fallThroughServes > 0)
    // zero budget: everything falls through, results still exact
    val none = idx.toLocal(maxBytes = 0L)
    assert(none.cachedLists === 0)
    for ((_, qv) <- queries.take(2)) {
      assert(none.search(qv, 10, 2).toSeq === idx.search(qv, 10, 2).toSeq)
    }
    idx.unpersist()
  }

  test("filter validation rejects attributes the index lacks, local and fallback alike") {
    val idx = ServingIndex.build(entries.drop("tenant", "tags"), cents, "ip")
    val local = idx.toLocal()
    intercept[IllegalArgumentException] {
      local.search(queries.head._2, 10, 2,
        ServingFilter(tenant = Some("t0")))
    }
    idx.unpersist()
  }
}
