package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Native Catalyst expressions for the similarity hot path
  * (SURVEY §7.6 preference order: custom Expression over UDF).
  *
  * The functions.zip_with + aggregate formulation allocates an
  * intermediate array per pair and evaluates lambda expressions per
  * element; this expression is a primitive loop that whole-stage
  * codegen inlines. Semantics are identical: sequential left-to-right
  * double accumulation (bit-equal to the DuckDB oracle's
  * list_dot_product), so swapping it in cannot change results.
  * Null elements are not handled (embedding vectors are dense).
  */
/** Plan-weightless constant double array for MODEL-SCALE driver
  * artifacts (PQ ADC tables, flat codebooks): semantically a foldable
  * array literal, physically a [[org.apache.spark.broadcast.Broadcast]]
  * handle. A `lit(bigArray)` embeds the values in the expression tree,
  * so every STAGE's serialized task binary carries them (a 40-query ×
  * 4000-entry ADC table made 2.4 MiB task binaries — measured ~+0.4 s
  * per PQ query end-to-end at sf0.1 vs a small literal), and Catalyst
  * set-ops hash/compare the full payload. Here the tree node is the
  * broadcast HANDLE: task binaries stay small, executors fetch the
  * values once via broadcast, and case-class equality over the handle
  * is O(1). `foldable=false` keeps ConstantFolding from re-embedding
  * the values as a Literal. Deterministic and pure — results are
  * unchanged by construction (same doubles, same order). */
case class ConstDoubleArray(
    bc: org.apache.spark.broadcast.Broadcast[Array[Double]])
  extends LeafExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "graft_const_double_array"
  @transient private lazy val cached: ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(bc.value)
  /** Codegen entry point — must be public (generated code calls it). */
  def valueData: ArrayData = cached
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    cached
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("constDArr", this,
      classOf[ConstDoubleArray].getName)
    ev.copy(
      code = code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $ref.valueData();""",
      isNull = FalseLiteral)
  }
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| for two SORTED string arrays via an allocation-free merge
  * walk — set-similarity joins only need the count, so building the
  * intersection array (array_intersect) and union array (array_union)
  * per pair is pure garbage-collection load; |A ∪ B| follows as
  * |A|+|B|-|A∩B|. Inputs must be sorted + distinct (array_sort ∘
  * array_distinct); unsorted input silently undercounts.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_intersect_count expects (array<string>, array<string>), got ($l, $r)")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Jaccard |A∩B| / |A∪B| of two SORTED distinct arrays in ONE merge
  * walk (the intersect-count formulation evaluates the walk twice —
  * once for the numerator, once inside the union size). Supports
  * array<string> and array<long> elements; the long form is the fast
  * path for set-similarity joins: dictionary-encode tokens with
  * xxhash64 first, and the per-pair work becomes primitive 8-byte
  * compares instead of UTF8 lexicographic compares (and the arrays
  * shrink ~4× through the join). A 64-bit hash collision would perturb
  * the count with probability ~|A|·|B|/2^64 per pair — negligible at
  * any realistic corpus size.
  */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_jaccard expects two array<string> or two array<long>, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  private def isLong = left.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    val longs = isLong
    while (i < nx && j < ny) {
      val cmp =
        if (longs) java.lang.Long.compare(x.getLong(i), y.getLong(j))
        else x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    val union = nx + ny - c
    if (union == 0) 0.0 else c.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val u = ctx.freshName("u")
      val cmpExpr =
        if (isLong) s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
        else s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $cmp = $cmpExpr;
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) $i++;
         |  else $j++;
         |}
         |int $u = $nx + $ny - $c;
         |${ev.value} = $u == 0 ? 0.0 : (double) $c / $u;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Packed sign-bit LSH signature of a double vector in ONE codegen'd
  * pass: bit p = sign of ⟨v, h_p⟩ with hyperplane weights
  * w(p,d) = (pmod(xxhash64(p·4096+d), 2001) − 1000)/1000 — exactly the
  * values the functions._ formulation produces, so swapping it in
  * cannot change buckets. The HOF formulation (aggregate inside
  * transform) is CodegenFallback and walks the vector once per PLANE
  * with interpreted lambdas — nbits×dims closure calls per row; this
  * expression is a primitive double loop. nbits ≤ 64 (packed long).
  */
case class LshSignBits(child: Expression, nbits: Int)
    extends UnaryExpression {
  require(nbits >= 1 && nbits <= 64, "nbits must be in [1, 64]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_bits expects array<double>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bits"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    LshSignBits.pack(v, nbits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.LshSignBits.pack($a, $nbits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshSignBits {
  /** Hyperplane weight w(p,d) — bit-identical to
    * (pmod(xxhash64(lit(p*4096L)+d), 2001) - 1000) / 1000.0. */
  def weight(p: Int, d: Int): Double = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(p * 4096L + d, 42L)
    (java.lang.Math.floorMod(h, 2001L) - 1000L) / 1000.0
  }

  /** One pass over the vector per plane, primitive arithmetic only —
    * called from both interpreted eval and generated code. */
  def pack(v: ArrayData, nbits: Int): Long = {
    val n = v.numElements()
    var bits = 0L
    var p = 0
    while (p < nbits) {
      var s = 0.0
      var d = 0
      while (d < n) { s += v.getDouble(d) * weight(p, d); d += 1 }
      if (s >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }
}

/** Packed sign bits against an EXPLICIT plane matrix: `left` is the
  * vector (array<double>), `right` a FLAT row-major plane matrix
  * (array<double> of nbits·dim values, normally a literal). Bit p is
  * set iff Σ_d v(d)·planes(p·dim+d) ≥ 0, summed in ascending-d order.
  * The md5-mode twin of [[LshSignBits]] (whose planes are xxhash64-
  * derived INSIDE the expression): the caller supplies ±1 sign rows
  * from [[graft.similarity.DimReduce.jlSigns]] and a fixed-point
  * vector, making every sign decision exact integer arithmetic — the
  * same MinHashLSH HashMode convention, applied to sign-bit LSH so
  * the end-to-end ANN query is DuckDB-replayable. */
case class PlaneSignBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_plane_bits expects (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_plane_bits"

  override def nullSafeEval(a: Any, b: Any): Any =
    PlaneSignBits.pack(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PlaneSignBits.pack($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PlaneSignBits {
  /** Shared by interpreted eval and generated code. Fails loudly on a
    * stride mismatch (a ragged vector would silently shear every
    * later plane row) or >64 planes (the packed-long capacity). */
  def pack(v: ArrayData, planes: ArrayData): Long = {
    val dim = v.numElements()
    if (dim == 0 || planes.numElements() % dim != 0)
      throw new IllegalArgumentException(
        s"graft_plane_bits: plane matrix length ${planes.numElements()} " +
        s"is not a multiple of the vector length $dim")
    val nbits = planes.numElements() / dim
    if (nbits > 64)
      throw new IllegalArgumentException(
        s"graft_plane_bits: $nbits planes exceed the 64-bit pack capacity")
    var bits = 0L
    var p = 0
    while (p < nbits) {
      var s = 0.0
      var d = 0
      while (d < dim) { s += v.getDouble(d) * planes.getDouble(p * dim + d); d += 1 }
      if (s >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }
}

/** argmin-by-L2 codeword index for product quantization: `left` is a
  * subvector (array<double>, length dim), `right` a FLAT row-major
  * codebook (array<double> of n·dim values, normally a literal).
  * Returns the 0-based index of the codeword maximizing 2·x·c − |c|²
  * (= minimizing ||x−c||²), ties → lowest index.
  *
  * The codebook being a literal is the point: encoding becomes ONE
  * tight codegen loop per subvector — the DataFrame formulation this
  * replaces joined every subvector against all n codewords (n× row
  * blowup) just to pick one via an argmax aggregate. */
case class PqArgmin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_argmin expects (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_pq_argmin"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    val dim = x.numElements()
    // empty subvector (ragged input row) or empty codebook: no
    // codeword exists — return the -1 sentinel rather than dividing
    // by zero / letting the caller read an arbitrary index
    if (dim == 0 || cb.numElements() < dim) return -1
    val n = cb.numElements() / dim
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < n) {
      var s = 0.0
      var nc = 0.0
      var d = 0
      while (d < dim) {
        val cv = cb.getDouble(c * dim + d)
        s += x.getDouble(d) * cv
        nc += cv * cv
        d += 1
      }
      val sc = 2 * s - nc
      if (sc > bestScore) { bestScore = sc; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (dim, n, best, bestScore, c, d, s, nc, cv, sc) =
        (ctx.freshName("dim"), ctx.freshName("n"), ctx.freshName("best"),
         ctx.freshName("bestScore"), ctx.freshName("c"), ctx.freshName("d"),
         ctx.freshName("s"), ctx.freshName("nc"), ctx.freshName("cv"),
         ctx.freshName("sc"))
      s"""
         |int $dim = $a.numElements();
         |int $n = ($dim == 0 || $b.numElements() < $dim)
         |  ? 0 : $b.numElements() / $dim;
         |int $best = -1;
         |double $bestScore = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $n; $c++) {
         |  double $s = 0.0;
         |  double $nc = 0.0;
         |  for (int $d = 0; $d < $dim; $d++) {
         |    double $cv = $b.getDouble($c * $dim + $d);
         |    $s += $a.getDouble($d) * $cv;
         |    $nc += $cv * $cv;
         |  }
         |  double $sc = 2 * $s - $nc;
         |  if ($sc > $bestScore) { $bestScore = $sc; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqArgmin {
  /** The same argmin over primitive arrays, for driver-side codebook
    * training ([[graft.similarity.Similarity.pqTopK]]) — kept next to
    * the expression so the three evaluation paths (interpreted,
    * codegen, driver) share ONE semantics definition: maximize
    * 2·x·c − |c|², ties to the lowest index, and -1 when no codeword
    * wins (empty codebook, or NaN scores from a degenerate vector —
    * NaN comparisons are always false, so `best` never advances). */
  def bestIndex(v: Array[Double], off: Int, cbj: Array[Double],
                sub: Int): Int = {
    val n = cbj.length / sub
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < n) {
      var s = 0.0; var nc = 0.0; var d = 0
      while (d < sub) {
        val cv = cbj(c * sub + d)
        s += v(off + d) * cv; nc += cv * cv; d += 1
      }
      val sc = 2 * s - nc
      if (sc > bestScore) { bestScore = sc; best = c }
      c += 1
    }
    best
  }
}

/** ADC scoring for product quantization: given one corpus vector's
  * `codes` (array<int>, one code per subspace) and the DRIVER-built
  * lookup tables for ALL queries (`tables`: flat array<double>, query-
  * major, stride = Σ_j n_j; `offsets`: array<int> prefix offsets per
  * subspace within a query's block), returns array<double> of one
  * approximate score per query: score(q) = Σ_j tables[q·stride +
  * offsets[j] + codes[j]], summed in ascending-j order (fixed → bit-
  * deterministic).
  *
  * This is the no-join formulation: the joined alternative has to
  * carry every query's tables (tens of KB) through each join-output
  * row — materializing GBs of UnsafeRow just to read m doubles per
  * row. Here the tables ride along as ONE literal evaluated once, and
  * the scan emits narrow (vector × query) scores directly.
  *
  * All-sentinel codes (a degenerate zero-norm corpus vector encodes
  * to every subspace's -1) return an EMPTY array: such a row carries
  * no information, and its all-zero scores would outrank every real
  * negative-similarity neighbor. Emitting nothing lets the caller's
  * posexplode drop the row with NO separate filter — a predicate on
  * the codes column would be projection-collapsed by Catalyst and
  * re-run the m-subspace encode per row (the round-9 `72dd647`
  * regression: 4.3× on q_ann_pq/q_pq_replay at sf0.1). */
case class AdcScores(first: Expression, second: Expression,
                     third: Expression) extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _),
            ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_adc_scores expects (array<int>, array<double>, array<int>), got ($a, $b, $c)")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_adc_scores"

  override def nullSafeEval(codesAny: Any, tablesAny: Any, offAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val tables = tablesAny.asInstanceOf[ArrayData]
    val off = offAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    if (off.numElements() < m + 1)
      throw new IllegalArgumentException(
        s"graft_adc_scores: offsets must carry m+1 entries (m prefix " +
        s"offsets + total stride); got ${off.numElements()} for m=$m")
    val stride = if (m == 0) 1 else {
      // offsets carries m prefix offsets + the total stride as entry m
      off.getInt(m)
    }
    var anyValid = false
    var jv = 0
    while (jv < m && !anyValid) { anyValid = codes.getInt(jv) >= 0; jv += 1 }
    if (!anyValid)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.emptyDoubleArray)
    val nq = tables.numElements() / stride
    val out = new Array[Double](nq)
    var q = 0
    while (q < nq) {
      var s = 0.0
      var j = 0
      while (j < m) {
        val code = codes.getInt(j)
        // -1 = PqArgmin's no-codeword sentinel: contributes nothing
        // instead of reading an unrelated table entry. The upper bound
        // guards malformed codes (a ragged-input PqArgmin can emit a
        // valid-looking index past this subspace's codeword count) —
        // skipping beats reading another subspace's entry or the AIOOBE
        if (code >= 0 && off.getInt(j) + code < off.getInt(j + 1))
          s += tables.getDouble(q * stride + off.getInt(j) + code)
        j += 1
      }
      out(q) = s
      q += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, tables, off) => {
      val (m, stride, nq, out, q, j, s, anyValid, jv) =
        (ctx.freshName("m"), ctx.freshName("stride"), ctx.freshName("nq"),
         ctx.freshName("out"), ctx.freshName("q"), ctx.freshName("j"),
         ctx.freshName("s"), ctx.freshName("anyValid"), ctx.freshName("jv"))
      s"""
         |int $m = $codes.numElements();
         |if ($off.numElements() < $m + 1) {
         |  throw new IllegalArgumentException(
         |    "graft_adc_scores: offsets must carry m+1 entries (m prefix " +
         |    "offsets + total stride); got " + $off.numElements() + " for m=" + $m);
         |}
         |boolean $anyValid = false;
         |for (int $jv = 0; $jv < $m && !$anyValid; $jv++) {
         |  $anyValid = $codes.getInt($jv) >= 0;
         |}
         |if (!$anyValid) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    new double[0]);
         |} else {
         |  int $stride = $m == 0 ? 1 : $off.getInt($m);
         |  int $nq = $tables.numElements() / $stride;
         |  double[] $out = new double[$nq];
         |  for (int $q = 0; $q < $nq; $q++) {
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $m; $j++) {
         |      int ${j}_c = $codes.getInt($j);
         |      if (${j}_c >= 0 && $off.getInt($j) + ${j}_c < $off.getInt($j + 1)) {
         |        $s += $tables.getDouble($q * $stride + $off.getInt($j) + ${j}_c);
         |      }
         |    }
         |    $out[$q] = $s;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Membership probe against a PER-ROW serialized bloom filter —
  * complements Spark's [[org.apache.spark.sql.catalyst.expressions
  * .BloomFilterMightContain]], whose analysis rule requires the bloom
  * side to be a foldable constant or scalar subquery. The manifest
  * probe in [[graft.tables.LakehouseTable.readBloomFiltered]] is the
  * opposite shape: the bloom is a COLUMN (one bitmap per data file)
  * and the hash is the constant, so pruning can run distributed over
  * the manifest scan instead of collecting every bitmap to the driver.
  *
  * Eval-only (CodegenFallback): each row deserializes its own bitmap,
  * so there is no loop for codegen to tighten, and manifest
  * cardinality is file-count — planning-time scale, not data scale.
  */
case class BloomProbe(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.BinaryType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_probe expects (binary bloom, bigint hash), got ($l, $r)")
    }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_probe"

  override def nullSafeEval(bloomBytes: Any, hash: Any): Any =
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bloomBytes.asInstanceOf[Array[Byte]]))
      .mightContainLong(hash.asInstanceOf[Long])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** First `nHex` hex characters of md5(input) as a BIGINT — the
  * cross-engine hash primitive of the md5 ("oracle") modes in
  * [[graft.text.MinHashLSH]] (nHex=15, 60 bits) and
  * [[graft.text.SimHash]] (nHex=12, 48 bits). Value-identical to
  * `conv(substring(md5(cast(x as binary)), 1, nHex), 16, 10)` and to
  * DuckDB's `CAST('0x' || substr(md5(x), 1, nHex) AS BIGINT)`, but
  * computed straight off the digest bytes: the functions._ chain
  * allocates a 32-char hex string, a substring, and a base-16 parse
  * per call — pure garbage at one-hash-per-token corpus scale.
  * nHex ≤ 15 keeps the value under 2⁶⁰ (always a positive long).
  */
case class Md5Bits(child: Expression, nHex: Int)
    extends UnaryExpression {
  require(nHex >= 1 && nHex <= 15, "nHex must be in [1, 15]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | org.apache.spark.sql.types.BinaryType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_bits expects string or binary, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_bits"

  private def toBytes(a: Any): Array[Byte] = child.dataType match {
    case StringType => a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    case _          => a.asInstanceOf[Array[Byte]]
  }

  override def nullSafeEval(a: Any): Any = Md5Bits.prefix(toBytes(a), nHex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bytesOf: String => String = child.dataType match {
      case StringType => c => s"$c.getBytes()"
      case _          => c => c
    }
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5Bits.prefix(${bytesOf(c)}, $nHex)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Bits {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First nHex hex chars of the digest as a long: whole bytes
    * big-endian, plus the high nibble of the next byte when nHex is
    * odd — exactly the value of parsing the hex-string prefix. */
  def prefix(bytes: Array[Byte], nHex: Int): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(bytes)
    val full = nHex >> 1
    var v = 0L
    var i = 0
    while (i < full) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    if ((nHex & 1) == 1) v = (v << 4) | ((dig(full) & 0xffL) >>> 4)
    v
  }
}

object NativeFunctions {
  /** Single source of truth for the native function surface —
    * (name, usage, builder), consumed by BOTH the per-session
    * [[register]] and the config-path [[GraftExtensions]]. A function
    * added here is automatically available on both registration paths;
    * maintaining two lists previously meant a function could work in
    * ad-hoc sessions yet silently fail to resolve on
    * extension-configured deployments. */
  /** Constant-int argument of a registry builder (k, nbits, …): SQL
    * integer literals arrive as INT but a user writing `10L` or a
    * BIGINT-typed constant is equally valid — accept any integral
    * value that fits an Int instead of ClassCastException-ing. */
  private def constInt(e: Expression, what: String): Int =
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be a constant integer literal, got $other")
    }

  val registry: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
     "graft_dot(a, b) - dot product of two array<double>",
     exprs => DotProduct(exprs.head, exprs(1))),
    ("graft_intersect_count",
     "graft_intersect_count(a, b) - |A∩B| of two sorted arrays",
     exprs => SortedIntersectCount(exprs.head, exprs(1))),
    ("graft_jaccard",
     "graft_jaccard(a, b) - Jaccard similarity of two sorted distinct arrays",
     exprs => SortedJaccard(exprs.head, exprs(1))),
    ("graft_lsh_bits",
     "graft_lsh_bits(v, nbits) - packed sign-bit LSH signature of array<double>",
     exprs => LshSignBits(exprs.head, constInt(exprs(1), "graft_lsh_bits nbits"))),
    ("graft_plane_bits",
     "graft_plane_bits(v, planes) - sign bits of v against a flat plane matrix",
     exprs => PlaneSignBits(exprs.head, exprs(1))),
    ("graft_minhash_sig",
     "graft_minhash_sig(token, k) - k-element MinHash signature aggregate",
     exprs => MinHashSignature(exprs.head, constInt(exprs(1), "graft_minhash_sig k"))),
    ("graft_vector_sum",
     "graft_vector_sum(v) - element-wise sum aggregate of array<double>",
     exprs => VectorSum(exprs.head)),
    ("graft_pq_argmin",
     "graft_pq_argmin(sv, flat_codebook) - nearest-codeword index (L2, ties low)",
     exprs => PqArgmin(exprs.head, exprs(1))),
    ("graft_adc_scores",
     "graft_adc_scores(codes, flat_tables, offsets) - per-query ADC score array",
     exprs => AdcScores(exprs.head, exprs(1), exprs(2))),
    // Spark ships distributed bloom build/probe expressions for its own
    // runtime row-level filters but does not expose them in the public
    // registry; surfacing them here reuses the battle-tested codegen'd
    // sketch instead of reimplementing one. Probe side requires a
    // constant or scalar-subquery bloom (Spark's own analysis rule).
    ("graft_heavy_hitters",
     "graft_heavy_hitters(item, k) - Misra-Gries k-counter heavy-hitters sketch (map<item,est>)",
     exprs => MisraGries(exprs.head, constInt(exprs(1), "graft_heavy_hitters k"))),
    ("graft_topk",
     "graft_topk(value, id, k) - bounded top-k aggregate: array<struct<value,id>> by (value desc, id asc)",
     exprs => TopKPairs(exprs.head, exprs(1), constInt(exprs(2), "graft_topk k"))),
    ("graft_bloom_agg",
     "graft_bloom_agg(xxhash64(x), estItems, numBits) - bloom-filter sketch aggregate (binary)",
     exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
       .BloomFilterAggregate(exprs.head, exprs(1), exprs(2))),
    ("graft_might_contain",
     "graft_might_contain(bloom, xxhash64(x)) - bloom membership probe",
     exprs => org.apache.spark.sql.catalyst.expressions
       .BloomFilterMightContain(exprs.head, exprs(1))),
    ("graft_bloom_probe",
     "graft_bloom_probe(bloom_column, xxhash64(x)) - per-row bloom membership probe",
     exprs => BloomProbe(exprs.head, exprs(1))),
    ("graft_md5_bits",
     "graft_md5_bits(x, nHex) - first nHex hex chars of md5(x) as BIGINT",
     exprs => Md5Bits(exprs.head, constInt(exprs(1), "graft_md5_bits nHex"))))

  /** Idempotent per-session registration; expressions are then usable
    * from both the Column API (call_function) and spark.sql. */
  def register(spark: SparkSession): Unit =
    registry.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }

  /** Packed sign-bit LSH signature (see [[LshSignBits]]). */
  def lshBits(v: Column, nbits: Int): Column =
    call_function("graft_lsh_bits", v, org.apache.spark.sql.functions.lit(nbits))

  /** Packed sign bits against an explicit plane matrix (see
    * [[PlaneSignBits]]). */
  def planeBits(v: Column, planes: Column): Column =
    call_function("graft_plane_bits", v, planes)

  /** Element-wise vector-sum aggregate (see [[VectorSum]]). */
  def vectorSum(v: Column): Column = call_function("graft_vector_sum", v)

  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Nearest-codeword index against a flat codebook (see [[PqArgmin]]). */
  def pqArgmin(sv: Column, flatCodebook: Column): Column =
    call_function("graft_pq_argmin", sv, flatCodebook)

  /** Per-query ADC score array (see [[AdcScores]]). */
  def adcScores(codes: Column, tables: Column, offsets: Column): Column =
    call_function("graft_adc_scores", codes, tables, offsets)

  /** Model-scale constant array as a broadcast-carried column (see
    * [[ConstDoubleArray]] for why not `lit`). */
  def constDoubleArray(spark: SparkSession, values: Array[Double]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      ConstDoubleArray(spark.sparkContext.broadcast(values)))

  /** Jaccard of two sorted-distinct arrays (string or long elements),
    * allocation-free single merge walk. */
  def sortedJaccard(a: Column, b: Column): Column =
    call_function("graft_jaccard", a, b)

  /** Misra-Gries heavy-hitters sketch (see [[MisraGries]]). */
  def heavyHitters(item: Column, k: Int): Column =
    call_function("graft_heavy_hitters", item,
      org.apache.spark.sql.functions.lit(k))

  /** Bounded top-k-per-group aggregate (see [[TopKPairs]]). */
  def topK(value: Column, id: Column, k: Int): Column =
    call_function("graft_topk", value, id,
      org.apache.spark.sql.functions.lit(k))

  /** First nHex hex chars of md5(x) as BIGINT (see [[Md5Bits]]). */
  def md5Bits(x: Column, nHex: Int): Column =
    call_function("graft_md5_bits", x,
      org.apache.spark.sql.functions.lit(nHex))

  /** Dictionary-encode a distinct token array into the sorted long
    * array [[SortedJaccard]]'s fast path consumes. */
  def hashedTokenSet(tokens: Column): Column =
    org.apache.spark.sql.functions.array_sort(
      org.apache.spark.sql.functions.transform(tokens,
        t => org.apache.spark.sql.functions.xxhash64(t)))
}
