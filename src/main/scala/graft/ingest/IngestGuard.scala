package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._

/** Write-side request guardrails — the ingest half of the reference's
  * limits contract (`config.h:177-182`: max_upsert_batch 10000,
  * max_request_size_bytes 100 MiB; `config.h:122-123`:
  * max_tags_per_vector 16, tag_dict_size 50000; collection dim
  * `configs/woved-default.yaml:15`). The read-side caps live in
  * [[graft.index.ServingLimits]]; together they bound every request
  * surface the reference's API validates.
  *
  * Validation is one pass over the batch: each task folds its rows into
  * one per-row statistics accumulator (row count, byte estimate, max
  * tags arity, distinct dims), the driver
  * merges the partitions' tallies and checks the limits in one place,
  * then rejects with a typed exception. The facade's upsert runs the
  * same pass in the job that collects its batch, and each of its tasks
  * ships rows only within an equal share of each size cap.
  */
final case class IngestLimits(
    maxUpsertBatch: Int = 10000,
    maxRequestBytes: Long = 104857600L,
    maxTagsPerVector: Int = 16,
    tagDictSize: Int = 50000,
    dim: Int = 0) // 0 = don't enforce a fixed collection dim

object IngestLimits {
  /** The reference's defaults (config.h:177-182, :122-123). */
  val reference: IngestLimits = IngestLimits()
}

sealed abstract class IngestRejected(msg: String)
  extends RuntimeException(msg)

final class UpsertBatchTooLarge(rows: Long, cap: Int)
  extends IngestRejected(
    s"upsert batch $rows rows exceeds max_upsert_batch $cap")

final class RequestTooLarge(bytes: Long, cap: Long)
  extends IngestRejected(
    s"request ~$bytes bytes exceeds max_request_size_bytes $cap")

final class TagLimitExceeded(maxTags: Int, cap: Int)
  extends IngestRejected(
    s"a vector carries $maxTags tags, above max_tags_per_vector $cap")

final class DimMismatch(dims: Seq[Int], want: Int)
  extends IngestRejected(
    s"batch carries vector dims ${dims.mkString(",")}; collection dim is $want")

object IngestGuard {

  /** Batch statistics the validation pass computes. */
  final case class BatchStats(rows: Long, bytesEstimate: Long,
      maxTags: Int, dims: Seq[Int])

  /** Validate one upsert/delete batch against `limits`, returning its
    * stats on success and throwing the FIRST violated limit (the
    * reference rejects the whole RPC — partial application of an
    * over-limit batch would break exactly-once replay).
    *
    * Expected columns: a vector column `vecCol` (array of float/double;
    * tombstones may be null), optionally `tagsCol` (array), and
    * optionally `idCol` (a string id whose octet length counts toward
    * the wire estimate — ids are client-controlled and can dominate a
    * request, so omitting them would under-admit). The byte estimate is
    * the framed-wire shape: 8 B per vector element slot + 8 B per tag +
    * id octets + 64 B fixed per row (epoch/hashes/header) — an upper
    * bound of the reference's FlatBuffers frame, so a batch this
    * estimate admits can never exceed the true wire cap.
    *
    * One job over the projected statistics columns, no shuffle: each
    * task folds its rows into one accumulator, the driver merges them.
    */
  def validateBatch(batch: DataFrame, limits: IngestLimits = IngestLimits.reference,
      vecCol: String = "vec", tagsCol: Option[String] = None,
      idCol: Option[String] = None): BatchStats = {
    val (tally, _) = scan(batch.select(rowStats(vecCol, tagsCol, idCol): _*),
      dataFields = 0, notNull = Seq.empty, limits, ship = false)
    check(tally.stats, limits)
  }

  /** [[validateBatch]] and the batch's rows (of its own schema, in
    * input order) in ONE job (the facade's upsert): each of the `P`
    * tasks folds its rows into a [[Tally]] and ships them only while
    * its own running totals are within `1/P` of `max_upsert_batch` and
    * of `max_request_size_bytes`, so the job ships at most one cap's
    * worth. An over-limit batch is therefore never pulled whole onto the
    * driver — it is rejected with the same exception, message and true
    * row count as [[validateBatch]]. A within-limit batch whose rows are
    * skewed onto few partitions takes a second job for the partitions
    * that held their rows back. After
    * the limits, a null in any `notNull` column rejects the batch with
    * an `IllegalArgumentException` naming the column.
    */
  private[graft] def collectBatch(batch: DataFrame, limits: IngestLimits,
      vecCol: String, tagsCol: Option[String], idCol: Option[String],
      notNull: Seq[String]): Array[InternalRow] = {
    val n = batch.schema.length
    val (tally, parts) = scan(
      batch.select(col("*") +: rowStats(vecCol, tagsCol, idCol): _*),
      dataFields = n, notNull = notNull.map(batch.schema.fieldIndex),
      limits, ship = true)
    val stats = check(tally.stats, limits)
    notNull.zip(tally.nulls).foreach { case (c, k) =>
      if (k > 0) throw new IllegalArgumentException(
        s"upsert batch: column '$c' is null in $k of ${stats.rows} rows")
    }
    parts.flatMap(_.iterator.map { b =>
      val r = new UnsafeRow(n)
      r.pointTo(b, b.length)
      r: InternalRow
    })
  }

  /** Running statistics of a batch, or of one partition of it. */
  private final class Tally(nKeys: Int) extends Serializable {
    var rows = 0L
    var bytes = 0L
    var maxTags = 0
    val dims = scala.collection.mutable.TreeSet.empty[Int]
    /** Per `notNull` column: rows holding a null there. */
    val nulls = new Array[Long](nKeys)

    /** One row, from its clamped vector and tag sizes and id octets. */
    def add(vecSize: Int, tagsSize: Int, idBytes: Int): Unit = {
      rows += 1
      bytes += vecSize.toLong * 8L + tagsSize.toLong * 8L + idBytes + 64L
      if (tagsSize > maxTags) maxTags = tagsSize
      // tombstones carry no vector: dim 0 rows are not a dim violation
      if (vecSize > 0) dims += vecSize
    }

    def merge(o: Tally): Unit = {
      rows += o.rows
      bytes += o.bytes
      maxTags = math.max(maxTags, o.maxTags)
      dims ++= o.dims
      var i = 0
      while (i < nKeys) { nulls(i) += o.nulls(i); i += 1 }
    }

    /** Within a row cap and a request-bytes cap. */
    def within(rowCap: Long, byteCap: Long): Boolean =
      rows <= rowCap && bytes <= byteCap

    def stats: BatchStats = BatchStats(rows, bytes, maxTags, dims.toSeq)
  }

  /** Throw the first limit `s` violates, in the reference's order. */
  private def check(s: BatchStats, limits: IngestLimits): BatchStats = {
    if (s.rows > limits.maxUpsertBatch)
      throw new UpsertBatchTooLarge(s.rows, limits.maxUpsertBatch)
    if (s.bytesEstimate > limits.maxRequestBytes)
      throw new RequestTooLarge(s.bytesEstimate, limits.maxRequestBytes)
    if (s.maxTags > limits.maxTagsPerVector)
      throw new TagLimitExceeded(s.maxTags, limits.maxTagsPerVector)
    if (limits.dim > 0 && s.dims.exists(_ != limits.dim))
      throw new DimMismatch(s.dims, limits.dim)
    s
  }

  /** The per-row statistics, as three int columns: vector size, tag
    * count, id octets.
    *
    * NOTE on null arrays: the engine runs with ANSI off, where
    * `size(null)` is -1, not null — every size is clamped through
    * `greatest(0)` so a tombstone can never SUBTRACT from the estimate.
    */
  private def rowStats(vecCol: String, tagsCol: Option[String],
      idCol: Option[String]): Seq[Column] = {
    def clamped(c: String) = greatest(coalesce(size(col(c)), lit(0)), lit(0))
    Seq(clamped(vecCol),
      tagsCol.map(clamped).getOrElse(lit(0)),
      idCol.map(c => coalesce(octet_length(col(c).cast("string")), lit(0)))
        .getOrElse(lit(0)))
  }

  /** One job over `frame`: its first `dataFields` columns are the
    * batch's, the next three its [[rowStats]]. Returns the merged
    * tally and, when `ship`, each partition's rows (UnsafeRow bytes of
    * the data columns) if the merged totals are within the size caps,
    * none otherwise.
    *
    * The ship budget is the job's, not a task's: each of the `P` tasks
    * ships its rows only while its own totals are within `1/P` of each
    * size cap, so the job never ships more than one cap's worth, however
    * many partitions an over-limit batch has. When the merged totals
    * are within the caps but a task held its rows back (a skewed
    * batch), a second job fetches just those partitions.
    */
  private def scan(frame: DataFrame, dataFields: Int, notNull: Seq[Int],
      limits: IngestLimits, ship: Boolean): (Tally, Array[Array[Array[Byte]]]) = {
    val rdd = frame.queryExecution.toRdd
    val fields = frame.schema.fields.take(dataFields)
    val keys = notNull.toArray
    /** A task: its tally, and its rows if they stay within the caps. */
    def partition(rowCap: Long, byteCap: Long) =
      (_: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => {
        val t = new Tally(keys.length)
        val data = if (ship) UnsafeProjection.create(fields.zipWithIndex.map {
          case (f, i) => BoundReference(i, f.dataType, f.nullable): Expression
        }) else null
        var out = if (ship) Array.newBuilder[Array[Byte]] else null
        it.foreach { r =>
          t.add(r.getInt(dataFields), r.getInt(dataFields + 1),
            r.getInt(dataFields + 2))
          var k = 0
          while (k < keys.length) {
            if (r.isNullAt(keys(k))) t.nulls(k) += 1
            k += 1
          }
          if (out != null) {
            if (t.within(rowCap, byteCap)) out += data(r).copy().getBytes
            else out = null
          }
        }
        (t, if (out == null) null else out.result())
      }
    val sc = rdd.sparkContext
    val nParts = rdd.getNumPartitions
    val total = new Tally(keys.length)
    val counts = new Array[Long](nParts)
    val parts = new Array[Array[Array[Byte]]](nParts)
    val share = math.max(nParts, 1)
    sc.runJob(rdd, partition(limits.maxUpsertBatch / share,
      limits.maxRequestBytes / share), parts.indices,
      (i: Int, res: (Tally, Array[Array[Byte]])) => {
        total.merge(res._1)
        counts(i) = res._1.rows
        parts(i) = res._2
      })
    if (!ship || !total.within(limits.maxUpsertBatch, limits.maxRequestBytes))
      (total, Array.empty)
    else {
      val held = parts.indices.filter(i => parts(i) == null)
      if (held.nonEmpty) {
        sc.runJob(rdd, partition(limits.maxUpsertBatch, limits.maxRequestBytes),
          held, (i: Int, res: (Tally, Array[Array[Byte]])) => parts(i) = res._2)
        held.foreach { i =>
          val got = Option(parts(i)).fold(-1L)(_.length.toLong)
          if (got != counts(i)) throw new IllegalStateException(
            s"upsert batch partition $i held ${counts(i)} rows, then $got " +
              "on a second read: the input is not deterministic")
        }
      }
      (total, parts)
    }
  }
}
