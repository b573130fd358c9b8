package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/similarity hot path.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate a
  * boxed lambda per element outside whole-stage codegen — at ~10⁶ candidate
  * pairs × 64 dims that interpreter overhead dominates the runtime. These
  * expressions generate tight primitive loops instead (SURVEY.md §4: the
  * one place profiling demanded custom Catalyst work).
  *
  * Numeric contract: FloatVecDot accumulates left-to-right in double,
  * bit-identical to `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)`
  * and to DuckDB's `list_reduce` twin — the oracle parity the harness
  * hash-check depends on.
  */
object VectorExpressions {

  /** Σ a(i)·b(i) over two array<float> columns, accumulated sequentially in
    * double. Null array -> null; element nulls are not expected (embedding
    * vectors are dense) and read as 0. */
  case class FloatVecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "float_vec_dot"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): FloatVecDot =
      copy(left = newLeft, right = newRight)
  }

  /** |a ∩ b| for two SORTED, duplicate-free array<string> columns via a
    * linear merge — no per-pair hash set. Sort order must be Spark's
    * StringType binary order (array_sort provides it). */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "sorted_intersect_count"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (nx, ny) = (x.numElements(), y.numElements())
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
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val cmp = ctx.freshName("cmp")
        s"""
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $x.numElements() && $j < $y.numElements()) {
           |  int $cmp = $x.getUTF8String($i).compareTo($y.getUTF8String($j));
           |  if ($cmp == 0) { $c++; $i++; $j++; }
           |  else if ($cmp < 0) { $i++; } else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SortedIntersectCount =
      copy(left = newLeft, right = newRight)
  }

  /** Shared eval helper for SortedDistinctStrings (called from both the
    * interpreted path and the generated Java — top-level objects expose
    * static forwarders, so `graft.functions.VectorExpressions.sortDistinct`
    * resolves from Janino-compiled code). Input must be a null-free
    * array<string> (split() output); sort order is UTF8String binary order,
    * the same order SortedIntersectCount's merge assumes. */
  def sortDistinct(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val arr = new Array[UTF8String](n)
    var i = 0
    while (i < n) { arr(i) = a.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
    var m = 0
    var j = 0
    while (j < n) {
      if (m == 0 || arr(j).compareTo(arr(m - 1)) != 0) { arr(m) = arr(j); m += 1 }
      j += 1
    }
    new GenericArrayData(
      java.util.Arrays.copyOf(arr.asInstanceOf[Array[AnyRef]], m))
  }

  /** array_sort(array_distinct(x)) for array<string>, as ONE codegen'd
    * primitive pass. The built-in `array_sort` expands to a higher-order
    * comparator lambda that is invoked (boxed, interpreted) per comparison
    * — ~100 µs per 25-token document, which dominated the n-gram Jaccard
    * pair generation. This expression sorts UTF8Strings directly
    * (binary-comparable, same order) and dedupes adjacent in the same pass. */
  case class SortedDistinctStrings(child: Expression) extends UnaryExpression {
    override def dataType: DataType = child.dataType
    override def prettyName: String = "sorted_distinct_strings"

    override protected def nullSafeEval(a: Any): Any =
      sortDistinct(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorExpressions.sortDistinct($c)")

    override protected def withNewChildInternal(
        newChild: Expression): SortedDistinctStrings = copy(child = newChild)
  }

  /** max |aᵢ| over an array<float>, in double — the symmetric-quantization
    * scale basis. Shared by interpreted + generated code paths. */
  def absMax(a: ArrayData): Double = {
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > mx) mx = v
      i += 1
    }
    mx
  }

  /** Symmetric int8 quantization of an array<float>:
    * qᵢ = round_half_away_from_zero(aᵢ · 127 / max|a|), zeros when the
    * vector is all-zero. Output is array<long> (exact small integers —
    * engine-portable). Rounding is explicitly half-away-from-zero to match
    * SQL round(); Java's Math.round is half-UP and disagrees on negative
    * midpoints. */
  def quantize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val mx = absMax(a)
    val scale = if (mx == 0.0) 0.0 else 127.0 / mx
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble * scale
      out(i) = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Spark's `round(x, scale)` on a double (HALF_UP on the decimal
    * `Double.toString(x)` renders, NaN/±Inf passed through, +0.0 for a
    * zero result), bit for bit, without building a BigDecimal per value.
    *
    * Fast path: y = |x|·10^s, t = floor(y), f = y − t; the result is
    * ±(t + (f > 0.5 ? 1 : 0)) / 10^s, and +0.0 when that is zero. It falls
    * back to the BigDecimal round when |f − 0.5| ≤ 1e-9·max(1, y) (a tie
    * or near-tie), when y ≥ 4e15 (so t + 1 < 2^52), for NaN and ±Inf, and
    * for a scale outside [0, 22] (10^s not an exact double).
    *
    * Why it is exact. `Double.toString(x)` lies within about an ulp of x
    * (it round-trips), so with the product's own rounding y is within
    * ~4.4e-16·y of the decimal BigDecimal rounds: far inside the 1e-9·y
    * tie margin, so both sit on the same side of t + 0.5, and a
    * difference that crosses an integer does not change a half-up
    * result. For |r| < 2^52, `BigDecimal.doubleValue()` of r·10^-s is
    * `(double) r / 10^s`, the same single correctly-rounded division as
    * the fast path (FunctionsSpec compares raw bits against Spark's
    * `round` on 10^6 doubles at scales 0 and 6). */
  def halfUpRound(x: Double, scale: Int): Double =
    if (scale < 0 || scale >= Pow10.length) bigDecimalRound(x, scale)
    else {
      val p = Pow10(scale)
      val y = math.abs(x) * p
      val t = math.floor(y)
      val f = y - t
      // !(y < 4e15) is also true for NaN and ±Inf
      if (!(y < 4e15) || math.abs(f - 0.5) <= 1e-9 * math.max(1.0, y))
        bigDecimalRound(x, scale)
      else {
        val r = (if (f > 0.5) t + 1.0 else t) / p
        if (r == 0.0) 0.0 else if (x < 0) -r else r
      }
    }

  /** 10^0 … 10^22, every one an exact double. */
  private val Pow10 = Array.iterate(1.0, 23)(_ * 10.0)

  /** The fallback: Spark's own `round` codegen for a double. */
  private def bigDecimalRound(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `round(child, scale)` on a DOUBLE child through [[halfUpRound]]: the
    * same value and bits as Spark's `round`, codegen'd as one static call.
    * Any other input type fails at analysis. */
  case class HalfUpRound(child: Expression, scale: Int) extends UnaryExpression
      with ExpectsInputTypes {
    override def inputTypes = Seq(DoubleType)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "half_up_round"
    override protected def nullSafeEval(input: Any): Any =
      halfUpRound(input.asInstanceOf[Double], scale)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorExpressions.halfUpRound($c, $scale)")
    override protected def withNewChildInternal(
        newChild: Expression): HalfUpRound = copy(child = newChild)
  }

  /** Batch ivfAssign's packed argmax (c_sim desc, c_id asc via the
    * complemented-id packing) folded over a collected centroid-struct array
    * — one tight primitive loop per corpus row. The streaming index ingest
    * routes EVERY arriving vector; the higher-order-function form ran each
    * centroid's cosine through an interpreted boxed lambda (~7× the batch
    * encode at f30), which is exactly the hot path this file exists to
    * keep in compiled code. `cents` rows are struct(c_id, c_emb, c_nrm). */
  def ivfRoutePk(emb: ArrayData, cents: ArrayData): Long = {
    // An empty centroid array would fold to the Long.MinValue sentinel and
    // emit a silently-bogus c_id — fail loudly instead (a staged index read
    // from the wrong/unbuilt path is a deployment error, not a routing).
    require(cents.numElements() > 0, "ivfRoutePk: empty centroid array")
    val d = emb.numElements()
    var s2 = 0.0
    var i = 0
    while (i < d) {
      val v = emb.getFloat(i).toDouble; s2 += v * v; i += 1
    }
    val nrm = math.sqrt(s2)
    val idMask = (1L << 41) - 1
    var best = Long.MinValue
    val m = cents.numElements()
    var j = 0
    while (j < m) {
      val c = cents.getStruct(j, 3)
      val cEmb = c.getArray(1)
      var dot = 0.0
      var k = 0
      val n = math.min(d, cEmb.numElements())
      while (k < n) {
        dot += emb.getFloat(k).toDouble * cEmb.getFloat(k).toDouble; k += 1
      }
      val cSim = halfUpRound(dot / nrm / c.getDouble(2), 6)
      val pk = (halfUpRound(cSim * 1000000L, 0).toLong + 1000000L) *
        (idMask + 1L) + (idMask - c.getLong(0))
      if (pk > best) best = pk
      j += 1
    }
    idMask - (best & idMask)
  }

  /** The PQ encode's per-subspace packed argmin folded over a collected
    * codebook-struct array (idx-sorted: subspace m occupies positions
    * [m·S, (m+1)·S)), packing the 8-bit codes into one long — the pk
    * arithmetic of the row-stream encode it replaced, one compiled loop
    * per corpus row. `cbl` rows are struct(idx, m, c_sub, cn2). */
  def pqPackCp(emb: ArrayData, cbl: ArrayData, subspaces: Int): Long = {
    val total = cbl.numElements()
    // The batch path guards d % subspaces == 0 in pqIvfIndex; this fold
    // re-derives both splits by integer division, so a codebook built with
    // a different subspace count (or a non-divisible embedding dim) would
    // silently mis-slice and encode garbage — require exact divisibility
    // (one modulo per row, noise next to the argmin fold).
    require(total > 0 && total % subspaces == 0,
      s"pqPackCp: codebook size $total not divisible into $subspaces subspaces")
    require(emb.numElements() % subspaces == 0,
      s"pqPackCp: dim ${emb.numElements()} not divisible into $subspaces subspaces")
    val s = total / subspaces
    val subDim = emb.numElements() / subspaces
    val bias = 1000000000000L
    var cp = 0L
    var m = 0
    while (m < subspaces) {
      var best = Long.MaxValue
      var c = 0
      while (c < s) {
        val e = cbl.getStruct(m * s + c, 4)
        val cSub = e.getArray(2)
        var dot = 0.0
        var k = 0
        while (k < subDim) {
          dot += emb.getFloat(m * subDim + k).toDouble *
            cSub.getFloat(k).toDouble
          k += 1
        }
        val pk = (halfUpRound((e.getDouble(3) - 2.0 * dot) * 1000000.0, 0)
          .toLong + bias) * 256L + (e.getLong(0) - m.toLong * s)
        if (pk < best) best = pk
        c += 1
      }
      cp += (best % 256L) << (8 * m)
      m += 1
    }
    cp
  }

  /** Codegen'd IVF route: nearest-centroid c_id for an array<float> vector
    * against the collected centroid array (see [[ivfRoutePk]]). */
  case class IvfRouteId(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def prettyName: String = "ivf_route_id"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      ivfRoutePk(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (x, y) =>
        s"graft.functions.VectorExpressions.ivfRoutePk($x, $y)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): IvfRouteId =
      copy(left = newLeft, right = newRight)
  }

  /** Codegen'd PQ encode: packed 8-bit-per-subspace code long for an
    * array<float> vector against the collected codebook array (see
    * [[pqPackCp]]). */
  case class PqPackedCp(left: Expression, right: Expression, subspaces: Int)
      extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def prettyName: String = "pq_packed_cp"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      pqPackCp(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], subspaces)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (x, y) =>
        s"graft.functions.VectorExpressions.pqPackCp($x, $y, $subspaces)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqPackedCp =
      copy(left = newLeft, right = newRight)
  }

  /** Codegen'd max|a| over array<float>. */
  case class FloatVecAbsMax(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "float_vec_abs_max"
    override protected def nullSafeEval(a: Any): Any =
      absMax(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorExpressions.absMax($c)")
    override protected def withNewChildInternal(
        newChild: Expression): FloatVecAbsMax = copy(child = newChild)
  }

  /** Codegen'd symmetric int8 quantization (see `quantize`). */
  case class FloatVecQuantize(child: Expression) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)
    override def prettyName: String = "float_vec_quantize"
    override protected def nullSafeEval(a: Any): Any =
      quantize(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorExpressions.quantize($c)")
    override protected def withNewChildInternal(
        newChild: Expression): FloatVecQuantize = copy(child = newChild)
  }

  /** Deterministic distribution shift over an array<float>: every
    * dimension translated by `bias` (double arithmetic, cast back to
    * float) — the embedding-model-drift shape: arriving vectors
    * concentrate toward a common direction the frozen codewords never
    * tiled, so cosine DISCRIMINATION moves into fine differences the
    * 8-byte codes cannot resolve. (A purely diagonal SCALING was measured
    * recall-neutral here — uniform stretch distorts every codeword-vector
    * distance alike and rankings survive; translation is the shift a
    * frozen quantizer genuinely cannot track.) DuckDB twin:
    * list_transform(x -> CAST(x + bias AS REAL)). */
  def drift(a: ArrayData, bias: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = (a.getFloat(i).toDouble + bias).toFloat
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Codegen'd drift transform (see [[drift]]) — whole-corpus in-row
    * compute stays out of interpreted higher-order functions. */
  case class FloatVecDrift(child: Expression, bias: Double)
      extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false)
    override def prettyName: String = "float_vec_drift"
    override protected def nullSafeEval(a: Any): Any =
      drift(a.asInstanceOf[ArrayData], bias)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorExpressions.drift($c, $bias)")
    override protected def withNewChildInternal(
        newChild: Expression): FloatVecDrift = copy(child = newChild)
  }

  /** First 60 bits of md5(input) as a non-negative BIGINT — the native
    * form of `conv(substr(md5(s), 1, 15), 16, 10)`. Value-identical to
    * that SQL (first 15 hex chars = first 8 digest bytes >>> 4, the
    * equivalence Dedup.seededHashJvm already pins), but skips the
    * 32-char hex encode, substring, and BigInt parse of the composed
    * built-ins — seededHash sits under every dedup gram, minhash band,
    * sampling bucket, and sketch cell, so the per-call cost is the
    * hottest scalar in the library. */
  def md5Long60(s: UTF8String): Long = {
    val d = md5Pool.get(); d.reset()
    val out = d.digest(s.getBytes)
    ((((out(0) & 0xffL) << 56) | ((out(1) & 0xffL) << 48) |
      ((out(2) & 0xffL) << 40) | ((out(3) & 0xffL) << 32) |
      ((out(4) & 0xffL) << 24) | ((out(5) & 0xffL) << 16) |
      ((out(6) & 0xffL) << 8) | (out(7) & 0xffL)): Long) >>> 4
  }

  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Bit length of a non-negative BIGINT: 64 − numberOfLeadingZeros —
    * value-identical to `length(bin(w))` for w > 0 (callers special-case
    * w = 0, where bin yields "0" = length 1 but no sketch consumer asks).
    * The bin() form allocates a up-to-64-char string per call purely to
    * measure it; rho derivation runs once per exploded sketch row, so
    * that allocation was the hot path of profileApprox. */
  case class BitLength(child: Expression) extends UnaryExpression
      with ExpectsInputTypes {
    override def inputTypes = Seq(org.apache.spark.sql.types.LongType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "bit_length64"
    override protected def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[Long]
      64 - java.lang.Long.numberOfLeadingZeros(v)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"(64 - java.lang.Long.numberOfLeadingZeros($c))")
    override protected def withNewChildInternal(
        newChild: Expression): BitLength = copy(child = newChild)
  }

  /** The ADC LUT fold — Σₘ arr[m·S + codeₘ(cp)] in ascending-m order,
    * plain sequential double adds: the EXACT arithmetic of the
    * higher-order form
    *   aggregate(transform(sequence(0, subspaces−1),
    *     m -> element_at(arr, m·S + (shiftright(cp, 8m) % 256) + 1)),
    *     0.0, (a, x) -> a + x)
    * as one compiled loop per candidate row (FunctionsSpec pins value
    * equality on the real index). This fold runs once per (candidate ×
    * query) on EVERY ADC scan — flat PQ top-k, IVF-PQ probes, the
    * frontier audits, the streaming rollups — and the higher-order form
    * evaluated each of its subspaces elements through an interpreted
    * boxed lambda outside whole-stage codegen (the same overhead class
    * the r15 route fold measured at ~7×). `s` is codes-per-subspace;
    * subspace count is arr.length / s. */
  def pqFoldSum(arr: ArrayData, cp: Long, s: Int): Double = {
    val total = arr.numElements()
    val subspaces = total / s
    var acc = 0.0
    var m = 0
    while (m < subspaces) {
      // shiftright is an arithmetic shift and % keeps the dividend's sign,
      // exactly like the SQL form; codes are < 256 on every real codebook
      // (pqIvfIndex requires S ≤ 255), so the index stays in range.
      val code = ((cp >> (8 * m)) % 256L).toInt
      acc += arr.getDouble(m * s + code)
      m += 1
    }
    acc
  }

  /** Codegen'd ADC LUT fold (see [[pqFoldSum]]). */
  case class PqFoldSum(left: Expression, right: Expression, s: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "pq_fold_sum"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      pqFoldSum(a.asInstanceOf[ArrayData], b.asInstanceOf[Long], s)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (arr, cp) =>
        s"graft.functions.VectorExpressions.pqFoldSum($arr, $cp, $s)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqFoldSum =
      copy(left = newLeft, right = newRight)
  }

  /** Codegen'd wrapper for md5Long60 (see above). */
  case class Md5Hash60(child: Expression) extends UnaryExpression
      with ExpectsInputTypes {
    override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def prettyName: String = "md5_hash60"
    override protected def nullSafeEval(input: Any): Any =
      md5Long60(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorExpressions.md5Long60($c)")
    override protected def withNewChildInternal(
        newChild: Expression): Md5Hash60 = copy(child = newChild)
  }

  /** A Scala sequence as an array literal in catalyst's compact
    * UnsafeArrayData form. A typedLit array holds boxed elements; the
    * route and encode folds read every float of a collected centroid or
    * codebook array once per corpus row, so they get the same flat layout
    * a broadcast row would give them. */
  def arrayLiteral[T: scala.reflect.runtime.universe.TypeTag](
      values: Seq[T]): Column = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
    val boxed = Literal.create(values)
    val row = UnsafeProjection.create(Seq(boxed)).apply(InternalRow.empty)
    bridge.column(Literal(row.getArray(0).copy(), boxed.dataType))
  }

  /** Column wrappers. */
  def dotf(a: Column, b: Column): Column =
    bridge.column(FloatVecDot(bridge.expression(a), bridge.expression(b)))

  def sortedIntersectCount(a: Column, b: Column): Column =
    bridge.column(SortedIntersectCount(bridge.expression(a), bridge.expression(b)))

  def sortedDistinctStrings(a: Column): Column =
    bridge.column(SortedDistinctStrings(bridge.expression(a)))

  def vecAbsMax(a: Column): Column =
    bridge.column(FloatVecAbsMax(bridge.expression(a)))

  def vecQuantize(a: Column): Column =
    bridge.column(FloatVecQuantize(bridge.expression(a)))

  def ivfRouteId(emb: Column, cents: Column): Column =
    bridge.column(IvfRouteId(bridge.expression(emb), bridge.expression(cents)))

  def pqPackedCp(emb: Column, cbl: Column, subspaces: Int): Column =
    bridge.column(PqPackedCp(bridge.expression(emb), bridge.expression(cbl),
      subspaces))

  def pqFoldSum(arr: Column, cp: Column, s: Int): Column =
    bridge.column(PqFoldSum(bridge.expression(arr), bridge.expression(cp), s))

  def vecDrift(a: Column, bias: Double): Column =
    bridge.column(FloatVecDrift(bridge.expression(a), bias))

  def halfUpRound(c: Column, scale: Int): Column =
    bridge.column(HalfUpRound(bridge.expression(c), scale))

  def md5Hash60(s: Column): Column =
    bridge.column(Md5Hash60(bridge.expression(s)))

  def bitLength64(v: Column): Column =
    bridge.column(BitLength(bridge.expression(v)))
}
