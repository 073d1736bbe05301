package wovedbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Seeded synthetic inputs: a Gaussian mixture with `centres` centres
  * (at least `nlist`, so the trained layout never looks collapsed to the
  * engine's detector), ids, op mixes and query streams — all drawn from
  * one `seed`. Every vector is rounded to float precision before it is
  * sent as `array<double>`, so the program's double scores and the
  * benchmark's exact scores see the same values.
  */
final class Gen(seed: Long, val dim: Int, centres: Int, sigma: Double) {
  private val rnd = new java.util.Random(seed)
  private val centreVecs: Array[Array[Double]] =
    Array.fill(centres)(Array.fill(dim)(rnd.nextGaussian()))

  /** A fresh point of the mixture (its own centre drawn from the seed). */
  def point(): Array[Double] = {
    val c = centreVecs(rnd.nextInt(centres))
    Array.tabulate(dim)(d => (c(d) + sigma * rnd.nextGaussian()).toFloat.toDouble)
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object Gen {
  def idOf(n: Int): String = s"id-$n"

  /** The engine's id hash (xxhash64, seed 0, over the id's UTF-8 bytes —
    * the same function Spark's `XxHash64` applies to a string column).
    */
  def idHash(id: String): Long = {
    val b = id.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 0L)
  }

  val batchSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("deleted", BooleanType, nullable = false)))

  /** One mutation the client sends: a vector upsert, or a delete when
    * `vec` is null.
    */
  final case class Mutation(n: Int, vec: Array[Double]) {
    def deleted: Boolean = vec == null
  }

  def batchFrame(spark: SparkSession, ms: Seq[Mutation]): DataFrame = {
    val rows = ms.map(m => Row(idOf(m.n),
      if (m.deleted) null else m.vec.toSeq, m.deleted))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), batchSchema)
  }

  def l2(q: Array[Double], x: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { val d = q(i) - x(i); s += d * d; i += 1 }
    s
  }
}

/** The benchmark's own last-writer-wins model of every acknowledged
  * mutation: id number → current vector (absent = never written or
  * deleted). Exact top-k runs over it by brute force.
  */
final class LwwModel {
  private val vecs = ArrayBuffer.empty[Array[Double]] // by id number
  private var live = 0

  def liveCount: Int = live
  def get(n: Int): Option[Array[Double]] =
    if (n < vecs.length) Option(vecs(n)) else None
  def isLive(n: Int): Boolean = n < vecs.length && vecs(n) != null

  def apply(m: Gen.Mutation): Unit = {
    while (vecs.length <= m.n) vecs += null
    if (vecs(m.n) != null) live -= 1
    vecs(m.n) = m.vec
    if (m.vec != null) live += 1
  }

  def liveIds: IndexedSeq[Int] = vecs.indices.filter(i => vecs(i) != null)

  /** Exact top-k (id hash, L2²) over the live set, ties by id hash. */
  def exactTopK(q: Array[Double], k: Int,
      hashes: Int => Long): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (a: (Long, Double), b: (Long, Double)) =>
        if (a._2 != b._2) java.lang.Double.compare(b._2, a._2)
        else java.lang.Long.compare(b._1, a._1))
    var i = 0
    while (i < vecs.length) {
      val v = vecs(i)
      if (v != null) {
        heap.add((hashes(i), Gen.l2(q, v)))
        if (heap.size > k) heap.poll()
      }
      i += 1
    }
    val out = new Array[(Long, Double)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out
  }
}
