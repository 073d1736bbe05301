package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Write-side limits (config.h:177-182, :122-123): one statistics pass,
  * whole-batch rejection, tombstone-tolerant dim check.
  */
class IngestGuardSpec extends SparkSpec {

  private def batch(rows: Int, dim: Int = 4, tags: Int = 2) = {
    import spark.implicits._
    (0 until rows).map { i =>
      (i.toLong, Seq.fill(dim)(i.toDouble), Seq.fill(tags)(i.toLong))
    }.toDF("vec_id", "vec", "tags")
  }

  test("a conforming batch passes and reports its stats") {
    val s = IngestGuard.validateBatch(batch(100),
      IngestLimits(dim = 4), tagsCol = Some("tags"))
    assert(s.rows === 100)
    assert(s.maxTags === 2)
    assert(s.dims === Seq(4))
    // byte estimate: 4 slots * 8 + 2 tags * 8 + 64 fixed = 112 per row
    assert(s.bytesEstimate === 100L * 112)
  }

  test("max_upsert_batch rejects the whole batch") {
    intercept[UpsertBatchTooLarge] {
      IngestGuard.validateBatch(batch(11), IngestLimits(maxUpsertBatch = 10))
    }
  }

  test("max_request_size_bytes rejects on the wire estimate") {
    intercept[RequestTooLarge] {
      IngestGuard.validateBatch(batch(100), IngestLimits(maxRequestBytes = 1000))
    }
  }

  test("max_tags_per_vector rejects a single over-tagged row") {
    val df = batch(10).unionByName(batch(1, tags = 17))
    intercept[TagLimitExceeded] {
      IngestGuard.validateBatch(df, tagsCol = Some("tags"))
    }
    // without a tags column the limit is vacuous
    IngestGuard.validateBatch(df.drop("tags"))
  }

  test("collection-dim mismatch rejects; tombstones (null vec) are exempt") {
    import spark.implicits._
    val mixed = batch(5).unionByName(batch(2, dim = 3))
    intercept[DimMismatch] {
      IngestGuard.validateBatch(mixed, IngestLimits(dim = 4))
    }
    val withTombstones = batch(5).unionByName(
      Seq((99L, null: Seq[Double], Seq(1L))).toDF("vec_id", "vec", "tags"))
    val s = IngestGuard.validateBatch(withTombstones, IngestLimits(dim = 4))
    assert(s.rows === 6 && s.dims === Seq(4))
    // ANSI is off → size(null) = -1; the estimate must clamp, never
    // subtract: 5 live rows at 64+4*8 plus the tombstone at exactly 64
    assert(s.bytesEstimate === 5L * 96 + 64)
    // dim = 0 disables the check entirely
    IngestGuard.validateBatch(mixed, IngestLimits(dim = 0))
  }

  test("id octets count toward the wire estimate (ids are client-controlled)") {
    import spark.implicits._
    val df = Seq((1L, "abcd", Seq(1.0, 2.0)), (2L, "e", Seq(3.0, 4.0)))
      .toDF("vec_id", "id", "vec")
    val s = IngestGuard.validateBatch(df, IngestLimits(dim = 2),
      idCol = Some("id"))
    // 2 rows x (64 + 2*8) + id octets (4 + 1)
    assert(s.bytesEstimate === 2L * 80 + 5)
    // a giant-id batch must trip the request cap even with tiny vectors
    val big = Seq((1L, "x" * 2000, Seq(1.0))).toDF("vec_id", "id", "vec")
    intercept[RequestTooLarge] {
      IngestGuard.validateBatch(big, IngestLimits(maxRequestBytes = 1000),
        idCol = Some("id"))
    }
  }

  test("an empty batch is valid (a group commit may flush zero rows)") {
    val s = IngestGuard.validateBatch(batch(0), IngestLimits(dim = 4),
      tagsCol = Some("tags"))
    assert(s.rows === 0 && s.bytesEstimate === 0 && s.dims.isEmpty)
  }
}
