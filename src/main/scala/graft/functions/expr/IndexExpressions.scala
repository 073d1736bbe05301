package graft.functions.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd index kernels (SURVEY W14/B2/S8; reference
  * `src/cpp/index/centroids-manager.cpp`, `ivf-pq.cpp` [stubs],
  * `include/woved/types.h:36,62` centroid pre-assignment).
  *
  * The round-1 argmin was a crossJoin×nlist + per-key window sort — a
  * 1,024× data explosion through a full shuffle at reference nlist. These
  * expressions do the same math map-side: the centroid/codebook matrix rides
  * along as a codegen reference object (broadcast with the task closure),
  * each row computes its argmin in a tight primitive loop inside whole-stage
  * codegen, and nothing shuffles until the real aggregation.
  *
  * Distance is the expanded form `(v·v - 2·v·c) + c·c` with each dot a
  * sequential double sum — bit-identical to the DuckDB oracle's
  * `list_dot_product(e,e) - 2*list_dot_product(e,cv) + list_dot_product(cv,cv)`,
  * so assignments (including ties, broken by lowest index) hash-match.
  */
case class NearestIndex(child: Expression, matrix: Array[Array[Double]])
    extends UnaryExpression {

  // c·c per codeword, precomputed once (sequential order, same as oracle)
  private lazy val norms: Array[Double] = NearestIndex.norms(matrix)

  override def checkInputDataTypes(): TypeCheckResult =
    if (NumericArrays.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_index requires a numeric array, got ${child.dataType}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val kernel =
    new NearestIndex.Kernel(matrix, child.dataType)

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("mat", matrix, "double[][]")
    val nrm = ctx.addReferenceObj("nrm", norms, "double[]")
    // scratch row buffer as codegen mutable state, reused across rows (and
    // grown on demand): one ArrayData read per element per ROW, not per
    // (row, centroid) — the exact float->double reads are unchanged, only
    // deduplicated
    val buf = ctx.addMutableState("double[]", "nearestBuf",
      v => s"$v = new double[0];")
    val n = ctx.freshName("n")
    val vv = ctx.freshName("vv")
    val i = ctx.freshName("i")
    val x = ctx.freshName("x")
    val best = ctx.freshName("best")
    val bestD = ctx.freshName("bestD")
    val c = ctx.freshName("c")
    val row = ctx.freshName("row")
    val r0 = ctx.freshName("r0"); val r1 = ctx.freshName("r1")
    val r2 = ctx.freshName("r2"); val r3 = ctx.freshName("r3")
    val vc = ctx.freshName("vc")
    val vc0 = ctx.freshName("vc0"); val vc1 = ctx.freshName("vc1")
    val vc2 = ctx.freshName("vc2"); val vc3 = ctx.freshName("vc3")
    val d = ctx.freshName("d")
    val d0 = ctx.freshName("d0"); val d1 = ctx.freshName("d1")
    val d2 = ctx.freshName("d2"); val d3 = ctx.freshName("d3")
    nullSafeCodeGen(ctx, ev, v => {
      val get = (idx: String) => NumericArrays.getter(child.dataType, v, idx)
      // four interleaved accumulator chains hide FP-add latency across
      // independent centroids; each per-centroid dot stays the same
      // sequential sum over i (bit-identical d), and candidates compare in
      // ascending-c order so the strict-< lowest-index tie-break holds
      s"""
         |int $n = $v.numElements();
         |if ($buf.length < $n) $buf = new double[$n];
         |double $vv = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${get(i)}; $buf[$i] = $x; $vv += $x * $x;
         |}
         |int $best = -1;
         |double $bestD = Double.POSITIVE_INFINITY;
         |int $c = 0;
         |for (; $c + 3 < $mat.length; $c += 4) {
         |  double[] $r0 = $mat[$c];     double[] $r1 = $mat[$c + 1];
         |  double[] $r2 = $mat[$c + 2]; double[] $r3 = $mat[$c + 3];
         |  double $vc0 = 0.0; double $vc1 = 0.0;
         |  double $vc2 = 0.0; double $vc3 = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $buf[$i];
         |    $vc0 += $x * $r0[$i]; $vc1 += $x * $r1[$i];
         |    $vc2 += $x * $r2[$i]; $vc3 += $x * $r3[$i];
         |  }
         |  double $d0 = $vv - 2 * $vc0 + $nrm[$c];
         |  if ($d0 < $bestD) { $bestD = $d0; $best = $c; }
         |  double $d1 = $vv - 2 * $vc1 + $nrm[$c + 1];
         |  if ($d1 < $bestD) { $bestD = $d1; $best = $c + 1; }
         |  double $d2 = $vv - 2 * $vc2 + $nrm[$c + 2];
         |  if ($d2 < $bestD) { $bestD = $d2; $best = $c + 2; }
         |  double $d3 = $vv - 2 * $vc3 + $nrm[$c + 3];
         |  if ($d3 < $bestD) { $bestD = $d3; $best = $c + 3; }
         |}
         |for (; $c < $mat.length; $c++) {
         |  double[] $row = $mat[$c];
         |  double $vc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $vc += $buf[$i] * $row[$i]; }
         |  double $d = $vv - 2 * $vc + $nrm[$c];
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NearestIndex {

  /** c·c per row of `matrix`, each a sequential double sum. */
  def norms(matrix: Array[Array[Double]]): Array[Double] = matrix.map { row =>
    var s = 0.0; var i = 0
    while (i < row.length) { s += row(i) * row(i); i += 1 }
    s
  }

  /** The argmin [[NearestIndex]] evaluates, for callers that hold a
    * catalyst array of `arrayType` outside a plan (the facade's upsert
    * assigns its collected rows with it): index of the `matrix` row
    * nearest the input in expanded-form L2, ties → lowest index, -1 for
    * an empty matrix. Owns a scratch buffer, so one kernel serves one
    * thread.
    */
  final class Kernel(matrix: Array[Array[Double]], arrayType: DataType) {
    private val norms = NearestIndex.norms(matrix)
    private val read = NumericArrays.reader(arrayType)
    // the input vector is read out of ArrayData ONCE per row instead of
    // once per (row, centroid) — at nlist=1024 that is 1024x fewer
    // virtual reads; the float->double conversion is exact, so
    // buffering does not change any computed value
    private var buf = new Array[Double](0)

    def apply(v: ArrayData): Int = {
      val n = v.numElements()
      if (buf.length < n) buf = new Array[Double](n)
      var i = 0
      while (i < n) { buf(i) = read(v, i); i += 1 }
      argmin(buf, n)
    }

    private def argmin(buf: Array[Double], n: Int): Int = {
      var vv = 0.0
      var i = 0
      while (i < n) { vv += buf(i) * buf(i); i += 1 }
      var best = -1
      var bestD = Double.PositiveInfinity
      // four interleaved accumulator chains: each (row, centroid) dot is
      // still the SAME sequential sum over i (bit-identical d values); the
      // interleave only hides FP-add latency across independent centroids.
      // Candidates are compared in ascending-c order (d0..d3 in sequence),
      // so the strict-< lowest-index tie-break is unchanged.
      var c = 0
      val lim4 = matrix.length - 3
      while (c < lim4) {
        val r0 = matrix(c); val r1 = matrix(c + 1)
        val r2 = matrix(c + 2); val r3 = matrix(c + 3)
        var vc0 = 0.0; var vc1 = 0.0; var vc2 = 0.0; var vc3 = 0.0
        i = 0
        while (i < n) {
          val x = buf(i)
          vc0 += x * r0(i); vc1 += x * r1(i)
          vc2 += x * r2(i); vc3 += x * r3(i)
          i += 1
        }
        val d0 = vv - 2 * vc0 + norms(c)
        if (d0 < bestD) { bestD = d0; best = c }
        val d1 = vv - 2 * vc1 + norms(c + 1)
        if (d1 < bestD) { bestD = d1; best = c + 1 }
        val d2 = vv - 2 * vc2 + norms(c + 2)
        if (d2 < bestD) { bestD = d2; best = c + 2 }
        val d3 = vv - 2 * vc3 + norms(c + 3)
        if (d3 < bestD) { bestD = d3; best = c + 3 }
        c += 4
      }
      while (c < matrix.length) {
        val row = matrix(c)
        var vc = 0.0
        i = 0
        while (i < n) { vc += buf(i) * row(i); i += 1 }
        val d = vv - 2 * vc + norms(c)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }
}

/** S8 `pq_adc_score(codes, lut)`: Σ_j lut(j)(codes(j)), summed in subspace
  * order j = 0..m-1 (sequential — matches the oracle's
  * `list_sum(list(part ORDER BY j))`). `codes` is the vector's m codeword
  * *indices* (one array<int> column, 8-32 bytes scanned per row); `lut` is
  * the per-query table of partial dot products (computed once per query row
  * before the fan-out join). Reference config.h:84-94 — 96 lookups replace
  * a 768-dim dot product on the stable tier.
  */
case class PqAdcSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_sum requires (array<int>, array<array<double>>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val lut = lutAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var s = 0.0
    var j = 0
    while (j < m) { s += lut.getArray(j).getDouble(codes.getInt(j)); j += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.freshName("m")
    val acc = ctx.freshName("acc")
    val j = ctx.freshName("j")
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      s"""
         |int $m = $codes.numElements();
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $acc += $lut.getArray($j).getDouble($codes.getInt($j));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dense matrix × vector (OPQ rotation, B3): out(i) = Σ_t matrix(i)(t)·v(t),
  * each row-dot a sequential double sum. The rotation matrix rides along as
  * a codegen reference object exactly like the centroid matrix — one tight
  * primitive loop per row inside whole-stage codegen, no HOF lambda
  * interpretation (a `transform(...)` rotation measured ~40× slower).
  */
case class MatVec(child: Expression, matrix: Array[Array[Double]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (NumericArrays.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mat_vec requires a numeric array, got ${child.dataType}")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val read = NumericArrays.reader(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Double](matrix.length)
    var i = 0
    while (i < matrix.length) {
      val row = matrix(i)
      var s = 0.0
      var t = 0
      while (t < n) { s += row(t) * read(v, t); t += 1 }
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("mat", matrix, "double[][]")
    val n = ctx.freshName("n")
    val out = ctx.freshName("out")
    val i = ctx.freshName("i")
    val t = ctx.freshName("t")
    val s = ctx.freshName("s")
    val row = ctx.freshName("row")
    nullSafeCodeGen(ctx, ev, v => {
      val get = NumericArrays.getter(child.dataType, v, t)
      s"""
         |int $n = $v.numElements();
         |double[] $out = new double[$mat.length];
         |for (int $i = 0; $i < $mat.length; $i++) {
         |  double[] $row = $mat[$i];
         |  double $s = 0.0;
         |  for (int $t = 0; $t < $n; $t++) { $s += $row[$t] * $get; }
         |  $out[$i] = $s;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-query PQ ADC lookup table (Q7): lut(j)(c) = Σ_t q(j·dsub+t)·cw(t),
  * sequential double accumulation per codeword — the same values as the
  * former `typedlit`-based column (dot of the query subvector with every
  * codeword). The codebook rides as a codegen REFERENCE OBJECT: at the
  * reference's m=96 × k=256 × dsub=8 (config.h:84-94) a literal codebook
  * is ~1.6 MB of plan tree — copied into every canonicalized comparison,
  * explain string, and per-stage task binary — where a reference object
  * is one broadcast-once pointer.
  */
case class PqLut(child: Expression, codebooks: Array[Array[Array[Double]]],
    dsub: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (NumericArrays.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_lut requires a numeric array, got ${child.dataType}")
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false),
      containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val read = NumericArrays.reader(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = codebooks.length
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val book = codebooks(j)
      val lut = new Array[Double](book.length)
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var s = 0.0
        var t = 0
        while (t < dsub) { s += read(v, j * dsub + t) * cw(t); t += 1 }
        lut(c) = s
        c += 1
      }
      out(j) = new org.apache.spark.sql.catalyst.util.GenericArrayData(lut)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val books = ctx.addReferenceObj("books", codebooks, "double[][][]")
    val out = ctx.freshName("out")
    val lut = ctx.freshName("lut")
    val book = ctx.freshName("book")
    val cw = ctx.freshName("cw")
    val j = ctx.freshName("j")
    val c = ctx.freshName("c")
    val t = ctx.freshName("t")
    val s = ctx.freshName("s")
    nullSafeCodeGen(ctx, ev, v => {
      val get = NumericArrays.getter(child.dataType, v, s"($j * $dsub + $t)")
      s"""
         |Object[] $out = new Object[$books.length];
         |for (int $j = 0; $j < $books.length; $j++) {
         |  double[][] $book = $books[$j];
         |  double[] $lut = new double[$book.length];
         |  for (int $c = 0; $c < $book.length; $c++) {
         |    double[] $cw = $book[$c];
         |    double $s = 0.0;
         |    for (int $t = 0; $t < $dsub; $t++) {
         |      $s += $get * $cw[$t];
         |    }
         |    $lut[$c] = $s;
         |  }
         |  $out[$j] = new org.apache.spark.sql.catalyst.util.GenericArrayData($lut);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Whole-vector PQ encode: code index per subspace j = argmin over
  * codewords c of expanded-form L2(v[j·dsub..], cw) — ONE expression for
  * all m subspaces. Semantically identical to
  * `array(nearestIndex(slice(v, j·dsub+1, dsub), codebooks(j)) for j)`
  * (PqTrainSpec pins bit-identity): per-codeword dots are the same
  * sequential sums, candidates compare in ascending-c order (strict-<
  * lowest-index tie-break), vv is the same sequential subvector norm.
  * It exists for CODE SIZE: at the reference geometry (m=96,
  * config.h:84-94) the array-of-96-NearestIndex projection emits ~5000
  * generated lines in one method and trips janino's 64 KB method limit
  * (observed: whole-stage codegen falls back to interpreted execution
  * mid-bench — a 5-30× throughput cliff that looks like machine
  * weather). This loops over j instead: the generated body is ~60
  * lines at any m.
  */
/** [[PqAdcSum]] over BYTE-PACKED codes (BinaryType, one uint8 per
  * subspace — the reference's own code layout at k=256): same lookup-sum
  * arithmetic, the code read masks the signed JVM byte back to 0..255.
  * Byte codes quarter the decode/transfer cost of array<int> on every
  * serving read — at 100M×m96 that is the difference between a 10 GB
  * and a 40 GB working set.
  */
case class PqAdcSumBytes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_sum_bytes requires (binary, array<array<double>>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[Array[Byte]]
    val lut = lutAny.asInstanceOf[ArrayData]
    var s = 0.0
    var j = 0
    while (j < codes.length) {
      s += lut.getArray(j).getDouble(codes(j) & 0xFF); j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acc = ctx.freshName("acc")
    val j = ctx.freshName("j")
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      s"""
         |double $acc = 0.0;
         |for (int $j = 0; $j < $codes.length; $j++) {
         |  $acc += $lut.getArray($j).getDouble((int)($codes[$j]) & 0xFF);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class PqEncode(child: Expression,
    codebooks: Array[Array[Array[Double]]], dsub: Int)
  extends UnaryExpression {

  // ||cw||^2 per (subspace, codeword), sequential order (as NearestIndex)
  private lazy val norms: Array[Array[Double]] = codebooks.map(_.map { row =>
    var s = 0.0; var i = 0
    while (i < row.length) { s += row(i) * row(i); i += 1 }
    s
  })

  override def checkInputDataTypes(): TypeCheckResult =
    if (NumericArrays.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires a numeric array, got ${child.dataType}")
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val read = NumericArrays.reader(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = codebooks.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val book = codebooks(j)
      val nrm = norms(j)
      val base = j * dsub
      var vv = 0.0
      var t = 0
      while (t < dsub) { val x = read(v, base + t); vv += x * x; t += 1 }
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var vc = 0.0
        t = 0
        while (t < dsub) { vc += read(v, base + t) * cw(t); t += 1 }
        val d = vv - 2 * vc + nrm(c)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val books = ctx.addReferenceObj("books", codebooks, "double[][][]")
    val nrms = ctx.addReferenceObj("nrms", norms, "double[][]")
    val out = ctx.freshName("out")
    val book = ctx.freshName("book")
    val nrm = ctx.freshName("nrm")
    val base = ctx.freshName("base")
    val vv = ctx.freshName("vv")
    val x = ctx.freshName("x")
    val best = ctx.freshName("best")
    val bestD = ctx.freshName("bestD")
    val cw = ctx.freshName("cw")
    val vc = ctx.freshName("vc")
    val d = ctx.freshName("d")
    val j = ctx.freshName("j")
    val c = ctx.freshName("c")
    val t = ctx.freshName("t")
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    nullSafeCodeGen(ctx, ev, v => {
      val get = NumericArrays.getter(child.dataType, v, s"($base + $t)")
      s"""
         |int[] $out = new int[$books.length];
         |for (int $j = 0; $j < $books.length; $j++) {
         |  double[][] $book = $books[$j];
         |  double[] $nrm = $nrms[$j];
         |  int $base = $j * $dsub;
         |  double $vv = 0.0;
         |  for (int $t = 0; $t < $dsub; $t++) {
         |    double $x = $get; $vv += $x * $x;
         |  }
         |  int $best = -1;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $book.length; $c++) {
         |    double[] $cw = $book[$c];
         |    double $vc = 0.0;
         |    for (int $t = 0; $t < $dsub; $t++) {
         |      $vc += $get * $cw[$t];
         |    }
         |    double $d = $vv - 2 * $vc + $nrm[$c];
         |    if ($d < $bestD) { $bestD = $d; $best = $c; }
         |  }
         |  $out[$j] = $best;
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[PqEncode]] emitting BYTE-PACKED codes (BinaryType): identical
  * argmin loop and tie-breaks, each code stored as one uint8 (requires
  * k ≤ 256 — the reference's 8-bit codes, config.h:87). The byte form
  * is the serving-store layout; bit-agreement with [[PqEncode]] is
  * spec-pinned (PqTrainSpec).
  */
case class PqEncodeBytes(child: Expression,
    codebooks: Array[Array[Array[Double]]], dsub: Int)
  extends UnaryExpression {

  require(codebooks.forall(_.length <= 256),
    "byte-packed PQ codes require k <= 256 codewords per subspace")

  private lazy val norms: Array[Array[Double]] = codebooks.map(_.map { row =>
    var s = 0.0; var i = 0
    while (i < row.length) { s += row(i) * row(i); i += 1 }
    s
  })

  override def checkInputDataTypes(): TypeCheckResult =
    if (NumericArrays.ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_encode_bytes requires a numeric array, got ${child.dataType}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable

  @transient private lazy val read = NumericArrays.reader(child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = codebooks.length
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val book = codebooks(j)
      val nrm = norms(j)
      val base = j * dsub
      var vv = 0.0
      var t = 0
      while (t < dsub) { val x = read(v, base + t); vv += x * x; t += 1 }
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var vc = 0.0
        t = 0
        while (t < dsub) { vc += read(v, base + t) * cw(t); t += 1 }
        val d = vv - 2 * vc + nrm(c)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val books = ctx.addReferenceObj("books", codebooks, "double[][][]")
    val nrms = ctx.addReferenceObj("nrms", norms, "double[][]")
    val out = ctx.freshName("out")
    val book = ctx.freshName("book")
    val nrm = ctx.freshName("nrm")
    val base = ctx.freshName("base")
    val vv = ctx.freshName("vv")
    val x = ctx.freshName("x")
    val best = ctx.freshName("best")
    val bestD = ctx.freshName("bestD")
    val cw = ctx.freshName("cw")
    val vc = ctx.freshName("vc")
    val d = ctx.freshName("d")
    val j = ctx.freshName("j")
    val c = ctx.freshName("c")
    val t = ctx.freshName("t")
    nullSafeCodeGen(ctx, ev, v => {
      val get = NumericArrays.getter(child.dataType, v, s"($base + $t)")
      s"""
         |byte[] $out = new byte[$books.length];
         |for (int $j = 0; $j < $books.length; $j++) {
         |  double[][] $book = $books[$j];
         |  double[] $nrm = $nrms[$j];
         |  int $base = $j * $dsub;
         |  double $vv = 0.0;
         |  for (int $t = 0; $t < $dsub; $t++) {
         |    double $x = $get; $vv += $x * $x;
         |  }
         |  int $best = -1;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $book.length; $c++) {
         |    double[] $cw = $book[$c];
         |    double $vc = 0.0;
         |    for (int $t = 0; $t < $dsub; $t++) {
         |      $vc += $get * $cw[$t];
         |    }
         |    double $d = $vv - 2 * $vc + $nrm[$c];
         |    if ($d < $bestD) { $bestD = $d; $best = $c; }
         |  }
         |  $out[$j] = (byte) $best;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object IndexExpressions {
  /** Map-side argmin over a small matrix (centroids / PQ sub-codebook):
    * index of the row minimizing expanded-form L2 to `vec`, ties → lowest
    * index. Zero shuffle, whole-stage codegen.
    */
  def nearestIndex(vec: Column, matrix: Array[Array[Double]]): Column =
    GraftBridge.column(NearestIndex(GraftBridge.expression(vec), matrix))

  /** ADC lookup-sum (S8): codes array<int> × per-query LUT array<array<double>>. */
  def pqAdcSum(codes: Column, lut: Column): Column =
    GraftBridge.column(PqAdcSum(
      GraftBridge.expression(codes), GraftBridge.expression(lut)))

  /** ADC lookup-sum over byte-packed codes (binary × LUT). */
  def pqAdcSumBytes(codes: Column, lut: Column): Column =
    GraftBridge.column(PqAdcSumBytes(
      GraftBridge.expression(codes), GraftBridge.expression(lut)))

  /** Dense matrix × vector (OPQ rotation): map-side, whole-stage codegen. */
  def matVec(vec: Column, matrix: Array[Array[Double]]): Column =
    GraftBridge.column(MatVec(GraftBridge.expression(vec), matrix))

  /** Per-query PQ ADC LUT from a reference-object codebook (no typedlit). */
  def pqLut(qv: Column, codebooks: Array[Array[Array[Double]]],
      dsub: Int): Column =
    GraftBridge.column(PqLut(GraftBridge.expression(qv), codebooks, dsub))

  /** Whole-vector PQ encode (B3): all m code indices in one loop —
    * bit-identical to per-subspace [[nearestIndex]] over slices, emitted
    * small enough to stay inside whole-stage codegen at m=96.
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]],
      dsub: Int): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(vec), codebooks, dsub))

  /** [[pqEncode]] emitting byte-packed codes (k ≤ 256). */
  def pqEncodeBytes(vec: Column, codebooks: Array[Array[Array[Double]]],
      dsub: Int): Column =
    GraftBridge.column(
      PqEncodeBytes(GraftBridge.expression(vec), codebooks, dsub))
}
