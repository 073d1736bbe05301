package graft.index

import graft.SparkSpec
import graft.operators.Knn

class PqTrainSpec extends SparkSpec {
  import spark.implicits._

  test("KMeans-trained codebook beats the deterministic toy codebook on recall") {
    val qs = Knn.defaultQueries(emb)
    val exact = Knn.exactBatch(qs, emb, "ip", 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(cb: Pq.Codebook): Double = {
      val approx = Pq.twoPhaseSearch(emb, Pq.encode(emb, cb), cb, qs, 10, 4)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (approx & exact).size.toDouble / exact.size
    }
    val toy = recall(Pq.deterministicCodebook(emb, 8, 8, 50))
    val trained = recall(Pq.trainCodebook(emb, 8, 8, k = 32, maxIter = 5))
    assert(trained > toy, s"trained=$trained toy=$toy")
    assert(trained > 0.7, s"trained recall $trained")
  }

  test("PqEncode is bit-identical to per-subspace NearestIndex over slices") {
    // codesColumn switched from array(m × NearestIndex(slice)) to the
    // single looped PqEncode for generated-code size (the m=96 form
    // trips janino's 64 KB method limit and silently drops to
    // interpreted execution); the arithmetic contract — sequential dots,
    // expanded-form L2, strict-< lowest-index tie-break — must be
    // unchanged, element for element
    import org.apache.spark.sql.functions._
    val cb = Pq.trainCodebook(emb, 8, 8, k = 32, maxIter = 5)
    val legacy = array((0 until cb.m).map { j =>
      graft.functions.expr.IndexExpressions.nearestIndex(
        slice(col("embedding"), j * cb.dsub + 1, cb.dsub), cb.codebooks(j))
    }: _*)
    val mismatches = emb
      .select(Pq.codesColumn(cb).as("a"), legacy.as("b"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(mismatches === 0L)
    // and the interpreted path equals codegen (Knn-spec style dual-mode
    // check): evaluate via a collected comparison on a sample
    val sample = emb.limit(64)
      .select(Pq.codesColumn(cb).as("a"), legacy.as("b"))
      .as[(Seq[Int], Seq[Int])].collect()
    sample.foreach { case (a, b) => assert(a === b) }
  }

  test("byte-packed codes: encode, ADC, and the local tier agree with the array<int> forms") {
    import org.apache.spark.sql.functions._
    val cb = Pq.trainCodebook(emb, 8, 8, k = 32, maxIter = 5)
    // encode bit-agreement: bytes == ints, element for element
    val mism = emb.select(Pq.codesColumn(cb).as("a"),
        Pq.codesBinaryColumn(cb).as("b"))
      .as[(Seq[Int], Array[Byte])].collect()
      .count { case (a, b) =>
        a.length != b.length ||
          a.zip(b).exists { case (x, y) => x != (y & 0xFF) }
      }
    assert(mism === 0)
    // ADC scores: one adcScores entry point, same numbers either layout
    val qs = Knn.defaultQueries(emb).limit(5)
    val intScores = Pq.adcScores(Pq.encode(emb, cb), cb, qs)
      .select("query_id", "vec_id", "approx_score")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val binCodes = emb.select(col("vec_id"),
      Pq.codesBinaryColumn(cb).as("codes"))
    val binScores = Pq.adcScores(binCodes, cb, qs)
      .select("query_id", "vec_id", "approx_score")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(intScores === binScores)
    // local tier packs both layouts to identical lists → identical ADC
    val cents = Ivf.deterministicCentroids(emb, 50)
    val assignedInt = Ivf.assign(emb, cents)
      .select(col("vec_id"), col("centroid_id"),
        Pq.codesColumn(cb).as("codes"))
    val assignedBin = Ivf.assign(emb, cents)
      .select(col("vec_id"), col("centroid_id"),
        Pq.codesBinaryColumn(cb).as("codes"))
    val li = LocalPqIndex.build(assignedInt, cents, cb)
    val lb = LocalPqIndex.build(assignedBin, cents, cb)
    val qv = qs.collect().head.getSeq[Float](1).toArray
    assert(li.searchProbed(li.probeFor(qv, 4), qv, 10).toSeq ===
      lb.searchProbed(lb.probeFor(qv, 4), qv, 10).toSeq)
    assert(li.cachedBytes === lb.cachedBytes)
  }

  test("trainCodebookDriver matches the MLlib form's quality on the fixture") {
    val qs = Knn.defaultQueries(emb)
    val exact = Knn.exactBatch(qs, emb, "ip", 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(cb: Pq.Codebook): Double = {
      val approx = Pq.twoPhaseSearch(emb, Pq.encode(emb, cb), cb, qs, 10, 4)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      (approx & exact).size.toDouble / exact.size
    }
    val mllib = recall(Pq.trainCodebook(emb, 8, 8, k = 32, maxIter = 5))
    val driver = recall(Pq.trainCodebookDriver(emb, 8, 8, k = 32,
      maxIter = 5))
    // same arithmetic family, different init — both must clear the bar
    assert(driver > 0.7, s"driver-trained recall $driver (mllib $mllib)")
  }
}
