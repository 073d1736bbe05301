package graft.index

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.VectorEntries

/** Query-input fuzzing — the reference's fuzz-harness role
  * (tests/cpp/fuzz/query-fuzz.cpp [stub], wired in scripts/test.sh):
  * seeded random QueryRequests thrown at the serving surface. The
  * contract fuzzed here is the server boundary's: every request gets
  * either the EXACT answer (pinned by a driver-side oracle that mirrors
  * the scan kernels' sequential-double arithmetic) or a deterministic
  * `IllegalArgumentException` — never a task crash, never a silently
  * truncated or wrong result.
  *
  * The oracle reimplements scoring/ordering/filtering INDEPENDENTLY of
  * the engine (plain loops over a collected corpus), so a fuzz pass
  * means the whole request path — probe ranking, per-row predicate,
  * posting prefilter, k clamp, tie-break, merge — agrees with first
  * principles on inputs nobody hand-picked.
  */
class QueryFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val nlist = 50

  private lazy val cents = Ivf.deterministicCentroids(emb, nlist)
  private lazy val entries =
    Ivf.assign(VectorEntries.fromEmbeddings(emb), cents).cache()

  private case class CRow(id: Long, cid: Long, vec: Array[Float],
      tenant: String, tags: Array[Long])

  // driver copy of the corpus — the oracle's world (500 rows at sf0.001)
  private lazy val corpus: Array[CRow] = entries
    .select(col("vec_id"), col("centroid_id"),
      col("embedding"), col("tenant"), col("tags").cast("array<long>"))
    .collect()
    .map(r => CRow(r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray,
      r.getString(3), r.getSeq[Long](4).toArray))

  private lazy val dim = corpus.head.vec.length

  private lazy val indexes: Map[String, ServingIndex] =
    Seq("ip", "l2", "cosine").map { m =>
      m -> ServingIndex.build(entries, cents, m,
        tenantCol = Some("tenant"), tagsCol = Some("tags"),
        limits = ServingLimits(maxK = 100, maxCandidates = Int.MaxValue,
          maxBatch = 100, deadlineMs = 60000L))
    }.toMap

  // ---- oracle: scanTopK's arithmetic, written independently ----

  private def scoreRow(metric: String, q: Array[Float], v: Array[Float],
      nq: Double): Double = {
    var s = 0.0
    var i = 0
    if (metric == "l2") {
      while (i < q.length) {
        val diff = q(i).toDouble - v(i).toDouble; s += diff * diff; i += 1
      }
      s
    } else {
      while (i < q.length) { s += q(i).toDouble * v(i).toDouble; i += 1 }
      if (metric == "cosine") {
        var nv = 0.0; var j = 0
        while (j < q.length) { nv += v(j).toDouble * v(j).toDouble; j += 1 }
        s / (math.sqrt(nq) * math.sqrt(nv))
      } else s
    }
  }

  private def passes(r: CRow, f: ServingFilter): Boolean = {
    f.sampleP.forall { p =>
      val m = (r.id * 2654435761L) % 100L
      (if (m < 0) m + 100L else m) < p
    } &&
    f.tenant.forall(_ == r.tenant) &&
    f.tagsAny.forall(ts => ts.exists(t => r.tags.contains(t)))
  }

  private def oracle(idx: ServingIndex, qv: Array[Float], k: Int,
      nprobe: Int, f: ServingFilter): Seq[(Long, Double)] = {
    val kk = math.min(k, idx.limits.maxK)
    if (kk <= 0) return Seq.empty
    val probed = idx.probe(qv, nprobe).toSet
    val asc = graft.operators.Knn.isAscending(idx.metric)
    var nq = 0.0
    var i = 0
    while (i < qv.length) { nq += qv(i).toDouble * qv(i).toDouble; i += 1 }
    corpus.iterator
      .filter(r => probed(r.cid) && passes(r, f))
      .map(r => (r.id, scoreRow(idx.metric, qv, r.vec, nq)))
      .toSeq
      .sortBy { case (id, s) => (if (asc) s else -s, id) }
      .take(kk)
  }

  // ---- request generators (seeded — every failure reproduces) ----

  private def fuzzVec(rng: Random, metric: String): Array[Float] = {
    rng.nextInt(5) match {
      case 0 => Array.fill(dim)(rng.nextGaussian().toFloat)
      case 1 => // extreme magnitudes: double accumulation must not differ
        val scale = if (rng.nextBoolean()) 1e12f else 1e-12f
        Array.fill(dim)(rng.nextGaussian().toFloat * scale)
      case 2 => // sparse: mostly zero with a few spikes
        val v = new Array[Float](dim)
        (0 until 3).foreach(_ => v(rng.nextInt(dim)) =
          (rng.nextGaussian() * 10).toFloat)
        // cosine of the all-zero query is undefined (0/0) — ingest
        // L2-normalizes (W13), so keep at least one nonzero component
        if (metric == "cosine" && v.forall(_ == 0f)) v(0) = 1f
        v
      case 3 => corpus(rng.nextInt(corpus.length)).vec // exact resident
      case _ => // resident + noise
        corpus(rng.nextInt(corpus.length)).vec
          .map(x => x + rng.nextGaussian().toFloat * 0.01f)
    }
  }

  private def fuzzFilter(rng: Random): ServingFilter = ServingFilter(
    tenant = rng.nextInt(4) match {
      case 0 => Some("t" + rng.nextInt(3))
      case 1 => Some("ghost-tenant")
      case _ => None
    },
    tagsAny = rng.nextInt(4) match {
      case 0 => Some(Seq.fill(1 + rng.nextInt(3))(rng.nextInt(16).toLong))
      case 1 => Some(Seq(999L)) // carried by no row
      case _ => None
    },
    sampleP = rng.nextInt(4) match {
      case 0 => Some(Seq(0, 7, 25, 100)(rng.nextInt(4)))
      case _ => None
    })

  test("150 seeded random QueryRequests match the independent oracle exactly") {
    val rng = new Random(20260814L)
    val metrics = Array("ip", "l2", "cosine")
    for (iter <- 0 until 150) {
      val metric = metrics(iter % 3)
      val idx = indexes(metric)
      val qv = fuzzVec(rng, metric)
      val k = 1 + rng.nextInt(120) // above 100 exercises the maxK clamp
      val nprobe = rng.nextInt(4) match {
        case 0 => 1 + rng.nextInt(nlist)
        case 1 => Int.MaxValue // probe everything
        case 2 => 0 // no probes → empty result, not an error
        case _ => 1 + rng.nextInt(5)
      }
      val f = fuzzFilter(rng)
      val got = idx.search(qv, k, nprobe, f).toSeq
      val want = oracle(idx, qv, k, nprobe, f)
      assert(got === want,
        s"iter=$iter metric=$metric k=$k nprobe=$nprobe filter=$f")
    }
  }

  test("seeded random batches are identical to their per-request answers") {
    val rng = new Random(777L)
    for (iter <- 0 until 8) {
      val metric = Seq("ip", "l2", "cosine")(iter % 3)
      val idx = indexes(metric)
      val reqs = (0 until 1 + rng.nextInt(20))
        .map(i => (i.toLong, fuzzVec(rng, metric)))
      val k = 1 + rng.nextInt(30)
      val nprobe = 1 + rng.nextInt(nlist)
      val f = fuzzFilter(rng)
      val batch = idx.searchBatch(reqs, k, nprobe, f)
      reqs.foreach { case (qid, qv) =>
        assert(batch(qid).toSeq === oracle(idx, qv, k, nprobe, f),
          s"iter=$iter qid=$qid metric=$metric")
      }
    }
  }

  test("degenerate sizes are answers, not errors: k<=0 and nprobe<=0 return empty") {
    val idx = indexes("ip")
    val qv = corpus.head.vec
    assert(idx.search(qv, 0, 3).isEmpty)
    assert(idx.search(qv, -5, 3).isEmpty)
    assert(idx.search(qv, 10, 0).isEmpty)
    assert(idx.search(qv, 10, -1).isEmpty)
  }

  test("dimension-mismatched requests are rejected at the boundary on every tier") {
    // unchecked, a LONG query silently scores a truncated prefix (wrong
    // answer, no error) and a SHORT one crashes an executor task — the
    // reference fixes the dimension per collection (config.h:19-21)
    for ((_, idx) <- indexes; badDim <- Seq(0, dim - 3, dim + 3)) {
      val bad = Array.fill(badDim)(1f)
      intercept[IllegalArgumentException] { idx.search(bad, 10, 3) }
      intercept[IllegalArgumentException] { idx.searchBatch(
        Seq((1L, bad)), 10, 3) }
    }
    // driver raw tier delegates to the same probe → same rejection
    val local = indexes("ip").toLocal()
    intercept[IllegalArgumentException] {
      local.search(Array.fill(dim + 3)(1f), 10, 3)
    }
    // driver PQ tier
    val cb = Pq.deterministicCodebook(emb, 8, 8, 50)
    val codes = entries.select(col("vec_id"), col("centroid_id"),
      Pq.codesColumn(cb).as("codes"))
    val pq = LocalPqIndex.build(codes, cents, cb)
    intercept[IllegalArgumentException] {
      val q = Array.fill(dim - 3)(1f)
      pq.searchProbed(pq.probeFor(q, 3), q, 10)
    }
    // HNSW graph: both a mismatched query and a mismatched insert
    val g = new Hnsw(metric = "ip")
    corpus.take(50).foreach(r => g.insert(r.id, r.vec))
    intercept[IllegalArgumentException] { g.search(Array.fill(dim + 1)(1f), 5) }
    intercept[IllegalArgumentException] { g.insert(-1L, Array.fill(7)(1f)) }
  }

  test("fuzzed HNSW requests keep the structural contract: distinct ids, exact scores, rank order") {
    // HNSW is approximate in WHICH ids it returns, never in WHAT it
    // says about them: scores must equal the exact metric arithmetic
    // and ranking must be (score best-first, id asc) — fuzz those
    // invariants over random ef/k well outside the tuned operating point
    val g = new Hnsw(metric = "ip")
    corpus.foreach(r => g.insert(r.id, r.vec))
    val byId = corpus.map(r => r.id -> r.vec).toMap
    val rng = new Random(4242L)
    var nq = 0
    while (nq < 40) {
      val qv = fuzzVec(rng, "ip")
      val k = 1 + rng.nextInt(20)
      val ef = 1 + rng.nextInt(300)
      val got = g.search(qv, k, ef)
      assert(got.length <= k)
      assert(got.map(_._1).distinct.length === got.length, "duplicate ids")
      got.foreach { case (id, s) =>
        var want = 0.0; var i = 0
        val v = byId(id)
        while (i < qv.length) { want += qv(i).toDouble * v(i).toDouble; i += 1 }
        assert(s === want, s"id=$id stale/approximate score")
      }
      val resorted = got.sortBy { case (id, s) => (-s, id) }.toSeq
      assert(got.toSeq === resorted, "rank order violated")
      nq += 1
    }
  }
}
