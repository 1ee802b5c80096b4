/*
 * graft's custom Catalyst expressions.
 *
 * Lives under org.apache.spark.sql.* because the pieces a native
 * expression needs (AbstractDataType for ExpectsInputTypes,
 * classic.ExpressionUtils for the Column <-> Expression bridge) are
 * private[sql] in Spark 4 — the same approach every Spark extension
 * library (Sedona, Qbeast, ...) takes. The graft-facing API is
 * re-exported as graft.functions.GraftFunctions.
 */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** asinh(x / cofactor): the standard flow-cytometry channel transform
  * (reference behavior: per-channel arcsinh scaling with a cofactor).
  * Codegen'd — compiles to a Math.log/sqrt sequence inline, stays in
  * whole-stage codegen on the 100 TB per-event hot path.
  */
case class AsinhScaled(child: Expression, cofactor: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def left: Expression = child
  override def right: Expression = cofactor
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "asinh_scaled"

  override protected def nullSafeEval(x: Any, c: Any): Any = {
    val v = x.asInstanceOf[Double] / c.asInstanceOf[Double]
    math.log(v + math.sqrt(v * v + 1.0))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, c) => {
      val v = ctx.freshName("v")
      s"""
         |double $v = $x / $c;
         |${ev.value} = java.lang.Math.log($v + java.lang.Math.sqrt($v * $v + 1.0));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, cofactor = r)
}

/** Logicle-style biexponential display transform (Parks/Roederer/Moore
  * 2006): inverts the biexponential per value with bisection. Not
  * SQL-expressible — verified by the inverse-property spec. Interpreted
  * eval (gate-time param fitting, not the bulk scan path).
  */
case class Logicle(child: Expression, t: Expression, m: Expression, w: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def first: Expression = child
  override def second: Expression = t
  override def third: Expression = m
  override def fourth: Expression = w
  override def inputTypes = Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "logicle"

  override protected def nullSafeEval(x: Any, tv: Any, mv: Any, wv: Any): Any =
    LogicleMath.transform(
      x.asInstanceOf[Double], tv.asInstanceOf[Double],
      mv.asInstanceOf[Double], wv.asInstanceOf[Double])

  // static-helper codegen: the row pipeline stays inside whole-stage
  // codegen; the bisection lives in one JIT-friendly static method.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, tv, mv, wv) =>
      s"org.apache.spark.sql.graftx.LogicleMath.transform($x, $tv, $mv, $wv)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, th: Expression, fo: Expression): Expression =
    copy(child = f, t = s, m = th, w = fo)
}

object LogicleMath {
  /** w→p is constant across a scan (w is a plan literal); memoize the
    * last solution per thread — without this every biex() re-runs the
    * 200-iteration solve, turning each row's 60-step inversion into
    * 12k iterations.
    */
  private val lastW = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = Array(Double.NaN, Double.NaN)
  }
  private def widthParamCached(w: Double): Double = {
    val c = lastW.get()
    if (c(0) != w) { c(0) = w; c(1) = widthParam(w) }
    c(1)
  }

  /** Forward biexponential value at display position y in [0, m]. */
  def biex(y: Double, t: Double, m: Double, w: Double): Double = {
    val p = widthParamCached(w)
    t * math.pow(10.0, -(m - w)) *
      (math.pow(10.0, y - w) - p * p * math.pow(10.0, -(y - w) / p) + p * p - 1.0)
  }

  /** Solve w = 2 p ln(p)/(p+1) for p (p >= 1). */
  private[graftx] def widthParam(w: Double): Double = {
    if (w <= 0) return 1.0
    var lo = 1.0; var hi = 1e6
    var i = 0
    while (i < 200 && hi - lo > 1e-12 * hi) {
      val mid = (lo + hi) / 2
      if (2.0 * mid * math.log(mid) / (mid + 1.0) < w) lo = mid else hi = mid
      i += 1
    }
    (lo + hi) / 2
  }

  /** Inverse of biex: display position y in [0, m] for data value x.
    * Monotone → bisection; 60 iterations ≈ double precision.
    */
  def transform(x: Double, t: Double, m: Double, w: Double): Double = {
    var lo = 0.0; var hi = m
    if (x <= biex(lo, t, m, w)) return lo
    if (x >= biex(hi, t, m, w)) return hi
    var i = 0
    while (i < 60) {
      val mid = (lo + hi) / 2
      if (biex(mid, t, m, w) < x) lo = mid else hi = mid
      i += 1
    }
    (lo + hi) / 2
  }
}

/** FIXED-POINT logicle transform — the oracle-replayable twin of
  * [[LogicleMath]] (which stays the float production/spec form).
  *
  * Why it exists: the float bisection's branch decisions compare
  * pow(10, ·) outputs, and Java's Math.pow and C libm agree only to
  * ~1 ulp — as the bisection converges the compared values differ by
  * LESS than that, so the two engines take different branches and the
  * result is only statistically (not provably) engine-identical. Here
  * every quantity is an integer in 2^40 scale and every operation is
  * integer multiply/shift/compare, so both engines compute the exact
  * same bits by construction:
  *
  *   - 10^(k/2^40) = Π over set bits b of k of T[b], with
  *     T[b] = round(2^40 · 10^(±2^b/2^40)) PRECOMPUTED ON THE DRIVER
  *     and embedded as literals in BOTH the Spark plan and the DuckDB
  *     SQL (the oracle string is generated in the same JVM, so the
  *     constants are shared, not re-derived);
  *   - each product is (a·b) >> 40 — exact via the 128-bit
  *     intermediate (Math.multiplyHigh here, native HUGEINT there);
  *   - the width parameter p enters only through driver constants
  *     (p², 2^40/p), so its transcendental solve happens once, off
  *     the replay path;
  *   - the inversion is a 23-step integer bisection on the 10^-6
  *     display grid [0, m·10^6]: G(mid) < x_fp is an integer compare,
  *     immune to rounding noise. Output = hi/10^6, an exact decimal.
  *
  * Approximation error vs the float transform is ≤ ~2e-6 in y (the
  * grid step dominates; table truncation contributes ~4e-11 relative)
  * — pinned by ExpressionsSpec. LogicleQ6Spec-style caveat: x·2^40
  * must fit a long, i.e. x < 8.3e12 — fine for any FCS channel.
  */
object LogicleFixedMath {
  final val Shift = 40
  final val S: Long = 1L << Shift
  final val Bits = 43 // exponent args stay below 2^43 in S-scale

  /** Driver-computed constant pack for one (t, m, w). */
  final case class Consts(tpos: Array[Long], tneg: Array[Long], p2: Long,
                          invp: Long, tc: Long, wFp: Long, mMicro: Long,
                          g0: Long, gM: Long) extends Serializable

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Double, Double, Double), Consts]()

  def consts(t: Double, m: Double, w: Double): Consts =
    cache.computeIfAbsent((t, m, w), _ => build(t, m, w))

  private def build(t: Double, m: Double, w: Double): Consts = {
    val p = LogicleMath.widthParam(w)
    val sD = S.toDouble
    val tpos = Array.tabulate(Bits)(b =>
      math.round(sD * math.pow(10.0, math.pow(2.0, b) / sD)))
    val tneg = Array.tabulate(Bits)(b =>
      math.round(sD * math.pow(10.0, -math.pow(2.0, b) / sD)))
    val c0 = Consts(tpos, tneg,
      p2 = math.round(sD * p * p),
      invp = math.round(sD / p),
      tc = math.round(sD * t * math.pow(10.0, w - m)),
      wFp = math.round(sD * w),
      mMicro = math.round(m * 1e6),
      g0 = 0L, gM = 0L)
    c0.copy(g0 = gFp(0L, c0), gM = gFp(c0.mMicro, c0))
  }

  /** (a·b) >> 40 for nonneg a, b with a·b < 2^104 — exact. */
  def mulShift(a: Long, b: Long): Long =
    (Math.multiplyHigh(a, b) << (64 - Shift)) | ((a * b) >>> Shift)

  /** 10^(k/2^40) in S-scale via the bit-product tables; k signed. */
  def exp10fp(k: Long, c: Consts): Long = {
    val neg = k < 0
    val kk = if (neg) -k else k
    val tab = if (neg) c.tneg else c.tpos
    var acc = S
    var b = 0
    while (b < Bits) {
      if (((kk >> b) & 1L) == 1L) acc = mulShift(acc, tab(b))
      b += 1
    }
    acc
  }

  /** Fixed-point biexponential at display grid point yMicro, S-scale. */
  def gFp(yMicro: Long, c: Consts): Long = {
    val vFp = yMicro * S / 1000000L - c.wFp
    val a = exp10fp(vFp, c)
    val k2 = if (vFp >= 0) -mulShift(vFp, c.invp) else mulShift(-vFp, c.invp)
    val bt = exp10fp(k2, c)
    val inner = a - mulShift(c.p2, bt) + c.p2 - S
    if (inner >= 0) mulShift(c.tc, inner) else -mulShift(c.tc, -inner)
  }

  /** Inverse on the micro grid: 23-step integer bisection (2^23 >
    * m·10^6 for any m ≤ 8), exact integer compares throughout.
    */
  def transform(x: Double, c: Consts): Double = {
    val xFp = math.floor(x * S.toDouble).toLong
    if (xFp <= c.g0) return 0.0
    if (xFp >= c.gM) return c.mMicro / 1e6
    var lo = 0L
    var hi = c.mMicro
    var i = 0
    while (i < 23) {
      val mid = (lo + hi) / 2
      if (gFp(mid, c) < xFp) lo = mid else hi = mid
      i += 1
    }
    hi / 1e6
  }
}

/** [[LogicleFixedMath]] as an expression: logicle display transform on
  * the 10^-6 grid, engine-replayable bit-for-bit (f02's oracle).
  * t/m/w are plan literals; the constant pack ships with the plan.
  */
case class LogicleQ6(child: Expression, t: Double, m: Double, w: Double)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq[AbstractDataType](DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "logicle_q6"

  @transient private lazy val c = LogicleFixedMath.consts(t, m, w)

  override protected def nullSafeEval(x: Any): Any =
    LogicleFixedMath.transform(x.asInstanceOf[Double], c)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cref = ctx.addReferenceObj("logicleConsts", c,
      "org.apache.spark.sql.graftx.LogicleFixedMath.Consts")
    defineCodeGen(ctx, ev, x =>
      s"org.apache.spark.sql.graftx.LogicleFixedMath.transform($x, $cref)")
  }

  override protected def withNewChildInternal(c2: Expression): Expression =
    copy(child = c2)
}

/** 64-bit polynomial rolling hash of a string (base 1000003, FNV
  * offset seed). Document fingerprinting primitive; codegen'd — one
  * tight loop over the UTF8 bytes, no allocation beyond the byte view.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq[AbstractDataType](StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(s: Any): Any =
    RollingHash.hash(s.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = ${RollingHash.SEED}L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * ${RollingHash.BASE}L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RollingHash {
  final val BASE = 1000003L
  final val SEED = 1469598103934665603L
  def hash(bytes: Array[Byte]): Long = {
    var h = SEED
    var i = 0
    while (i < bytes.length) { h = h * BASE + (bytes(i) & 0xffL); i += 1 }
    h
  }
}

/** Ray-casting point-in-polygon gate test. Polygon vertices are
  * plan-time constants embedded in the generated code as reference
  * arrays — per-row work is one fused loop inside whole-stage codegen.
  */
case class PointInPolygon(x: Expression, y: Expression, xs: Array[Double], ys: Array[Double])
    extends BinaryExpression with ImplicitCastInputTypes {
  require(xs.length == ys.length && xs.length >= 3, "polygon needs >= 3 vertices")
  override def left: Expression = x
  override def right: Expression = y
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_polygon"

  override protected def nullSafeEval(xv: Any, yv: Any): Any =
    PointInPolygon.contains(xs, ys, xv.asInstanceOf[Double], yv.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xsRef = ctx.addReferenceObj("polyXs", xs, "double[]")
    val ysRef = ctx.addReferenceObj("polyYs", ys, "double[]")
    nullSafeCodeGen(ctx, ev, (xv, yv) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j"); val in = ctx.freshName("inside")
      s"""
         |boolean $in = false;
         |int $j = $xsRef.length - 1;
         |for (int $i = 0; $i < $xsRef.length; $j = $i++) {
         |  if ((($ysRef[$i] > $yv) != ($ysRef[$j] > $yv)) &&
         |      ($xv < ($xsRef[$j] - $xsRef[$i]) * ($yv - $ysRef[$i]) /
         |              ($ysRef[$j] - $ysRef[$i]) + $xsRef[$i])) {
         |    $in = !$in;
         |  }
         |}
         |${ev.value} = $in;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(x = l, y = r)
}

object PointInPolygon {
  def contains(xs: Array[Double], ys: Array[Double], x: Double, y: Double): Boolean = {
    var inside = false
    var j = xs.length - 1
    var i = 0
    while (i < xs.length) {
      if ((ys(i) > y) != (ys(j) > y) &&
          x < (xs(j) - xs(i)) * (y - ys(i)) / (ys(j) - ys(i)) + xs(i)) {
        inside = !inside
      }
      j = i; i += 1
    }
    inside
  }
}

/** 64-bit SimHash over an array of token strings: each token is
  * hashed (FNV + murmur-style finalizer), its bits vote +1/−1 per
  * position, and the sign vector becomes the fingerprint. Near-dup
  * docs differ in few bits (small Hamming distance). One pass, no
  * allocation beyond the 64-int vote array; interpreted eval is fine —
  * it runs once per document, not per event.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback with ImplicitCastInputTypes {
  override def inputTypes = Seq[AbstractDataType](ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    SimHash64.simhash((0 until arr.numElements()).iterator
      .filterNot(arr.isNullAt)
      .map(i => arr.getUTF8String(i).getBytes))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash64 {
  /** murmur3 fmix64 finalizer over the rolling FNV hash — good bit
    * diffusion so each token votes pseudo-independently per bit.
    */
  def tokenHash(bytes: Array[Byte]): Long = {
    var h = RollingHash.hash(bytes)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  def simhash(tokens: Iterator[Array[Byte]]): Long = {
    val votes = new Array[Int](64)
    while (tokens.hasNext) {
      val h = tokenHash(tokens.next())
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
    out
  }
}

/** MinHash signature of a token array: each token's bytes are hashed
  * ONCE (FNV + murmur finalizer), then each of the k "permutations" is
  * a multiply-add over that 64-bit hash (2-universal family) whose
  * minimum across tokens is tracked in-place. O(tokens × k) long ops
  * per row with zero string re-hashing and zero allocation beyond the
  * signature array — the interpreted higher-order-function equivalent
  * (transform + array_min + xxhash64 per (token, k)) re-hashes the
  * string k times through boxed lambdas and is ~1000× slower.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(numHashes > 0)
  override def inputTypes = Seq[AbstractDataType](ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val sig = MinHashSignature.signature(
      (0 until arr.numElements()).iterator
        .filterNot(arr.isNullAt)
        .map(i => arr.getUTF8String(i).getBytes),
      numHashes)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val as = ctx.addReferenceObj("mhA", MinHashSignature.coeffA(numHashes), "long[]")
    val bs = ctx.addReferenceObj("mhB", MinHashSignature.coeffB(numHashes), "long[]")
    nullSafeCodeGen(ctx, ev, in => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val g = ctx.freshName("g")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $in.numElements(); $i++) {
         |  if ($in.isNullAt($i)) continue;
         |  long $h = org.apache.spark.sql.graftx.SimHash64.tokenHash(
         |      $in.getUTF8String($i).getBytes());
         |  for (int $k = 0; $k < $numHashes; $k++) {
         |    long $g = $h * $as[$k] + $bs[$k];
         |    if ($g < $sig[$k]) $sig[$k] = $g;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashSignature {
  /** SplitMix64 — deterministic per-permutation coefficients. */
  private def splitmix(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def coeffA(k: Int): Array[Long] = Array.tabulate(k)(i => splitmix(2L * i) | 1L) // odd
  def coeffB(k: Int): Array[Long] = Array.tabulate(k)(i => splitmix(2L * i + 1))

  def signature(tokens: Iterator[Array[Byte]], k: Int): Array[Long] = {
    val as = coeffA(k); val bs = coeffB(k)
    val sig = Array.fill(k)(Long.MaxValue)
    while (tokens.hasNext) {
      val h = SimHash64.tokenHash(tokens.next())
      var i = 0
      while (i < k) {
        val g = h * as(i) + bs(i)
        if (g < sig(i)) sig(i) = g
        i += 1
      }
    }
    sig
  }
}

/** Intersection size of two SORTED long arrays (single merge scan,
  * codegen'd). The dedup verification path hashes distinct tokens to
  * longs and sorts once per document, so per-pair work is a branchy
  * long-compare loop instead of an interpreted string-set intersect —
  * and the pair join shuffles 8-byte longs, not token strings.
  */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_long_intersect_size"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    while (i < a.numElements() && j < b.numElements()) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j"); val n = ctx.freshName("n")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $i = 0, $j = 0, $n = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { $n++; $i++; $j++; }
         |  else if ($x < $y) $i++;
         |  else $j++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sign-random-projection LSH code of a float-embedding: bit p is the
  * sign of ⟨emb, plane_p⟩. Planes are plan-time constants embedded in
  * the generated code; one fused loop per row — the zip_with/aggregate
  * composition this replaces runs 16 interpreted lambda passes.
  */
case class SrpCode(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq[AbstractDataType](ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_code"

  override protected def nullSafeEval(e: Any): Any = {
    val a = e.asInstanceOf[ArrayData]
    var code = 0L
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      var dot = 0.0
      var i = 0
      val n = math.min(a.numElements(), w.length)
      while (i < n) { dot += a.getFloat(i) * w(i); i += 1 }
      if (dot > 0) code |= (1L << p)
      p += 1
    }
    code
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ws = ctx.addReferenceObj("srpPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.freshName("p"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val n = ctx.freshName("n"); val code = ctx.freshName("code")
      val w = ctx.freshName("w")
      s"""
         |long $code = 0L;
         |for (int $p = 0; $p < $ws.length; $p++) {
         |  double[] $w = $ws[$p];
         |  double $dot = 0.0;
         |  int $n = Math.min($a.numElements(), $w.length);
         |  for (int $i = 0; $i < $n; $i++) $dot += $a.getFloat($i) * $w[$i];
         |  if ($dot > 0) $code |= (1L << $p);
         |}
         |${ev.value} = $code;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Cosine similarity between two float-array columns, computed in
  * double precision in one pass over the raw ArrayData — no per-element
  * boxing and no intermediate arrays, unlike a zip_with/aggregate
  * composition. Null or size-mismatch → null.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    CosineSim.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cos")
      s"""
         |java.lang.Double $r = org.apache.spark.sql.graftx.CosineSim.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Plain inner product of two float arrays (the un-normalized half of
  * [[CosineSim]]): one double-precision ordered fold over the raw
  * ArrayData, codegen'd. Null on size mismatch. The ADC primitive —
  * PQ scoring decomposes exact reconstruction cosine into per-
  * subspace dot-product LOOKUPS, and those lookups are this.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DotProduct.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dp")
      s"""
         |java.lang.Double $r = org.apache.spark.sql.graftx.DotProduct.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DotProduct {
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    var dot = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }
}

object CosineSim {
  /** Shared eval/codegen kernel; null on size mismatch or zero norm. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}

/** Public bridge: Column-level API + SQL registration. */
/** murmur3 fmix64 finalizer as a standalone expression. This is the
  * engine's PORTABLE 64-bit scalar hash: unlike xxhash64 (whose seed
  * and internals are Spark-specific), fmix64 is a 5-op public-domain
  * bijection that an external oracle (DuckDB, any SQL engine with
  * 128-bit ints) can replicate exactly with wrapping-multiply
  * emulation — which is what lets hash-split / LSH-band queries be
  * verified value-for-value instead of rows-only.
  */
case class Fmix64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq[AbstractDataType](LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "fmix64"

  override protected def nullSafeEval(v: Any): Any =
    Fmix64.fmix(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val h = ctx.freshName("h")
      s"""
         |long $h = $v;
         |$h ^= $h >>> 33; $h *= ${Fmix64.C1}L;
         |$h ^= $h >>> 33; $h *= ${Fmix64.C2}L;
         |$h ^= $h >>> 33;
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Fmix64 {
  final val C1 = 0xff51afd7ed558ccdL
  final val C2 = 0xc4ceb9fe1a85ec53L
  def fmix(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= C1
    h ^= h >>> 33; h *= C2
    h ^= h >>> 33
    h
  }
}

/** Fused hashed-linear-classifier scorer (the fastText-style quality
  * model applied at scan speed): ONE pass over the normalized text's
  * UTF-8 bytes does tokenize (split on ' ', empty tokens skipped) →
  * rolling-hash → fmix64 → floorMod bucket → integer-weight
  * accumulate, and returns struct(n_toks BIGINT, score BIGINT).
  *
  * This is the codegen replacement for the `aggregate()` higher-order
  * composition (TextStats.hashedLinearScoreHof): HOF lambdas are
  * CodegenFallback — interpreted per token, with a split() array
  * materialized per row — while this loop compiles into whole-stage
  * codegen with zero allocation besides the output row. Semantics are
  * spec-pinned identical (HashedLinearScoreSpec), same DuckDB oracle.
  *
  * `weights` is the bucketed model table (size = numBuckets; trained
  * int8/int16 weights in production — integer so the per-doc sum is
  * order-independent and engine-replayable). Seq, not Array: expression
  * canonicalization compares case-class fields structurally and an
  * Array field compares by reference (see KllQuantiles' note).
  */
case class HashedLinearScore(child: Expression, numBuckets: Int, weights: Seq[Long])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(numBuckets > 0 && weights.length == numBuckets,
    s"hashed_linear_score: need weights.length == numBuckets, got ${weights.length} vs $numBuckets")
  override def inputTypes = Seq[AbstractDataType](StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", LongType, nullable = false),
    StructField("score", LongType, nullable = false)))
  override def prettyName: String = "hashed_linear_score"

  @transient private lazy val wArr: Array[Long] = weights.toArray

  override protected def nullSafeEval(e: Any): Any = {
    val s = e.asInstanceOf[UTF8String]
    val nb = s.numBytes()
    var h = RollingHash.SEED
    var inTok = false
    var nToks = 0L
    var score = 0L
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if (b == 32) {
        if (inTok) {
          val bkt = java.lang.Math.floorMod(Fmix64.fmix(h), numBuckets.toLong).toInt
          score += wArr(bkt); nToks += 1
        }
        inTok = false; h = RollingHash.SEED
      } else {
        h = h * RollingHash.BASE + (b & 0xffL); inTok = true
      }
      i += 1
    }
    if (inTok) {
      val bkt = java.lang.Math.floorMod(Fmix64.fmix(h), numBuckets.toLong).toInt
      score += wArr(bkt); nToks += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nToks, score))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ws = ctx.addReferenceObj("hlsWeights", wArr, "long[]")
    nullSafeCodeGen(ctx, ev, s => {
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val b = ctx.freshName("b"); val h = ctx.freshName("h")
      val inTok = ctx.freshName("inTok"); val nToks = ctx.freshName("nToks")
      val score = ctx.freshName("score"); val th = ctx.freshName("th")
      s"""
         |int $nb = $s.numBytes();
         |long $h = ${RollingHash.SEED}L;
         |boolean $inTok = false;
         |long $nToks = 0L;
         |long $score = 0L;
         |for (int $i = 0; $i <= $nb; $i++) {
         |  byte $b = $i < $nb ? $s.getByte($i) : (byte) 32;
         |  if ($b == 32) {
         |    if ($inTok) {
         |      long $th = $h;
         |      $th ^= $th >>> 33; $th *= ${Fmix64.C1}L;
         |      $th ^= $th >>> 33; $th *= ${Fmix64.C2}L;
         |      $th ^= $th >>> 33;
         |      $score += $ws[(int) java.lang.Math.floorMod($th, ${numBuckets}L)];
         |      $nToks++;
         |    }
         |    $inTok = false; $h = ${RollingHash.SEED}L;
         |  } else {
         |    $h = $h * ${RollingHash.BASE}L + ($b & 0xffL);
         |    $inTok = true;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$nToks, $score});
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Portable combine-hash of N long values: h = fmix64(h XOR v) folded
  * left over the inputs from the FNV offset seed. Used for LSH band
  * bucket keys (band index + signature slice -> one 64-bit key) where
  * the whole chain must be replicable by the DuckDB oracle. Null in ->
  * null out.
  */
case class MixHashLongs(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {
  require(children.nonEmpty)
  override def inputTypes = Seq.fill(children.length)(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "mix_hash"
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    var h = MixHashLongs.Seed
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      h = Fmix64.fmix(h ^ v.asInstanceOf[Long])
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen._
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val h = ctx.freshName("h")
    val isNullVar = ctx.freshName("isNull")
    val valueVar = ctx.freshName("value")
    val steps = children.map { c =>
      val e = c.genCode(ctx)
      s"""
         |if (!$isNullVar) {
         |  ${e.code}
         |  if (${e.isNull}) { $isNullVar = true; } else {
         |    $h ^= ${e.value};
         |    $h ^= $h >>> 33; $h *= ${Fmix64.C1}L;
         |    $h ^= $h >>> 33; $h *= ${Fmix64.C2}L;
         |    $h ^= $h >>> 33;
         |  }
         |}
       """.stripMargin
    }.mkString("\n")
    val block =
      code"""
         |boolean $isNullVar = false;
         |long $h = ${MixHashLongs.Seed}L;
         |$steps
         |long $valueVar = $h;
       """.stripMargin
    ExprCode(block, JavaCode.isNullVariable(isNullVar), JavaCode.variable(valueVar, LongType))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object MixHashLongs {
  /** FNV-1a 64-bit offset basis — same seed as RollingHash. */
  final val Seed = 1469598103934665603L
}

/** Word-n-gram 64-bit hashes of a token array, fused into one pass:
  * build each gram (n consecutive tokens joined by one space — fewer
  * than n tokens collapse to a single whole-text gram, matching
  * `Dedup.shingles`) and xxhash64 it (seed 42, byte-identical to
  * `xxhash64(concat_ws(" ", ...))`), optionally sort + dedup.
  *
  * Exists because the composable form — `transform(shingles(toks),
  * xxhash64)` — runs on the interpreted higher-order-function path
  * where every element materializes gram strings through a deep
  * expression tree; the fused loop is one array scan with zero
  * intermediate rows. The dedup_sort=true output is exactly
  * `sort_array(array_distinct(...))` of the composable form.
  */
case class NgramHashes(child: Expression, n: Int, dedupSort: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1)
  override def inputTypes = Seq[AbstractDataType](ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override protected def nullSafeEval(a: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      NgramHashes.compute(a.asInstanceOf[ArrayData], n, dedupSort))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  org.apache.spark.sql.graftx.NgramHashes.compute($in, $n, $dedupSort));
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NgramHashes {
  private val Space = UTF8String.fromString(" ")

  /** One pass over the token array; called from both eval and codegen. */
  def compute(arr: ArrayData, n: Int, dedupSort: Boolean): Array[Long] = {
    val m = arr.numElements()
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out =
      if (m < n) Array(hashGram(toks, 0, m))
      else {
        val r = new Array[Long](m - n + 1)
        var s = 0
        while (s <= m - n) { r(s) = hashGram(toks, s, n); s += 1 }
        r
      }
    if (!dedupSort) out
    else {
      java.util.Arrays.sort(out)
      var w = 0
      var j = 0
      while (j < out.length) {
        if (w == 0 || out(j) != out(w - 1)) { out(w) = out(j); w += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(out, w)
    }
  }

  /** xxhash64(seed 42) of tokens [from, from+len) joined by ' ' —
    * null tokens skipped, exactly like concat_ws.
    */
  private def hashGram(toks: Array[UTF8String], from: Int, len: Int): Long = {
    val parts = new Array[UTF8String](len)
    var k = 0
    while (k < len) { parts(k) = toks(from + k); k += 1 }
    val gram = UTF8String.concatWs(Space, parts: _*)
    XxHash64Function.hash(gram, StringType, 42L)
  }
}

/** MOSS winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
  * "Winnowing: Local Algorithms for Document Fingerprinting") over a
  * token array: positional word n-gram hashes → minimum of every
  * window of `w` consecutive gram hashes → SORTED DISTINCT minima as
  * the document's fingerprint set. Any shared substring of at least
  * n + w - 1 tokens between two documents is GUARANTEED to contribute
  * a common fingerprint (the winnowing guarantee), at an expected
  * density of 2/(w+1) of all grams — the standard local-fingerprint
  * scheme for plagiarism/boilerplate detection at corpus scale.
  *
  * Fused single pass, zero per-element lambdas: gram hashes use the
  * PORTABLE fmix64∘rollingHash kernel (so the DuckDB oracle replicates
  * values bit-for-bit — same reason simhash64 uses it), and the window
  * minima come from a monotonic deque (O(grams) total, not O(grams·w)
  * slice scans). The composable transform/slice/array_min form is the
  * ~1000× interpreted trap PERF.md documents. Selection is by VALUE
  * (robust winnowing): the min value of a window is tie-free as a set
  * member even when its position is ambiguous, so output is
  * deterministic. m < n tokens → one whole-text gram; grams < w →
  * one clamped window.
  */
case class WinnowFingerprints(child: Expression, n: Int, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1 && w >= 1, s"winnow_fingerprints: n and w must be >= 1, got n=$n w=$w")
  override def inputTypes = Seq[AbstractDataType](ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override protected def nullSafeEval(a: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      WinnowFingerprints.compute(a.asInstanceOf[ArrayData], n, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  org.apache.spark.sql.graftx.WinnowFingerprints.compute($in, $n, $w));
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WinnowFingerprints {
  private val Space = UTF8String.fromString(" ")

  /** One pass: gram hashes, deque window minima, sort+dedup. */
  def compute(arr: ArrayData, n: Int, w: Int): Array[Long] = {
    val m = arr.numElements()
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val g: Array[Long] =
      if (m < n) Array(hashGram(toks, 0, m))
      else {
        val r = new Array[Long](m - n + 1)
        var s = 0
        while (s <= m - n) { r(s) = hashGram(toks, s, n); s += 1 }
        r
      }
    val gl = g.length
    val nw = math.max(gl - w + 1, 1)
    val out = new Array[Long](nw)
    // monotonic deque of indices; >= pop keeps the rightmost minimal
    // index, but only the VALUE is emitted, so ties don't matter
    val dq = new Array[Int](gl)
    var head = 0
    var tail = 0
    i = 0
    while (i < gl) {
      while (tail > head && g(dq(tail - 1)) >= g(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = g(dq(head))
      i += 1
    }
    if (gl < w) out(0) = g(dq(head))
    java.util.Arrays.sort(out)
    var wi = 0
    var j = 0
    while (j < out.length) {
      if (wi == 0 || out(j) != out(wi - 1)) { out(wi) = out(j); wi += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(out, wi)
  }

  /** Portable gram hash: fmix64(rollingHash(tokens joined by ' ')) —
    * identical kernel to SimHash64.tokenHash, replicated in SQL by
    * PortableHashSql.tokenHash.
    */
  private def hashGram(toks: Array[UTF8String], from: Int, len: Int): Long = {
    val parts = new Array[UTF8String](len)
    var k = 0
    while (k < len) { parts(k) = toks(from + k); k += 1 }
    SimHash64.tokenHash(UTF8String.concatWs(Space, parts: _*).getBytes)
  }
}

/** Morton (z-order) interleave of the low 32 bits of two longs:
  * bit i of x lands at bit 2i, bit i of y at bit 2i+1. The standard
  * multi-dimensional write-clustering key (z-order curve): sorting by
  * it keeps rows close in BOTH dimensions close in the file, so
  * min/max row-group stats prune 2-D predicates. Codegen'd constant
  * shift/mask chain — stays in whole-stage codegen on the write path.
  */
case class Zorder2(x: Expression, y: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def left: Expression = x
  override def right: Expression = y
  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Zorder2.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftx.Zorder2.interleave($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(x = l, y = r)
}

object Zorder2 {
  /** Spread the low 32 bits of v to the even bit positions. */
  def spread(v: Long): Long = {
    var s = v & 0xFFFFFFFFL
    s = (s | (s << 16)) & 0x0000FFFF0000FFFFL
    s = (s | (s << 8)) & 0x00FF00FF00FF00FFL
    s = (s | (s << 4)) & 0x0F0F0F0F0F0F0F0FL
    s = (s | (s << 2)) & 0x3333333333333333L
    s = (s | (s << 1)) & 0x5555555555555555L
    s
  }

  def interleave(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
}

/** Hilbert-curve index of a 2-D point on the 2^bits × 2^bits grid —
  * the BETTER-locality write-clustering key next to [[Zorder2]]'s
  * Morton interleave: consecutive Hilbert indexes are always
  * GRID-ADJACENT (one step in exactly one axis — the curve never
  * jumps), where the Morton curve teleports across the grid at power-
  * of-two boundaries, so equal-size index ranges cover tighter 2-D
  * tiles and per-file min/max zones stay tighter on both axes. The
  * standard iterative xy→d transform (rotate-and-accumulate per bit
  * plane; Hilbert 1891, algorithm as published in Warren's Hacker's
  * Delight / the public-domain Wikipedia form), one constant-bound
  * loop in codegen — stays inside whole-stage codegen on the write
  * path.
  */
case class Hilbert2(x: Expression, y: Expression, bits: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
  override def left: Expression = x
  override def right: Expression = y
  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hilbert2.index(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graftx.Hilbert2.index($a, $b, $bits);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(x = l, y = r)
}

object Hilbert2 {
  /** xy → d on the 2^bits grid. Inputs are masked to the grid; the
    * result fills at most 2·bits ≤ 62 bits — always sign-free.
    */
  def index(x0: Long, y0: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1L
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0L) {
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the quadrant so the sub-curve orientation matches
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1L - x
          y = s - 1L - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Aho–Corasick multi-pattern scan (Aho & Corasick 1975): per-term
  * greedy leftmost NON-OVERLAPPING occurrence counts for a fixed term
  * dictionary, in ONE pass over the document bytes — the blocklist /
  * policy-term / safety-filter hot path. A per-term `contains` scan is
  * O(|text|·|terms|); the automaton is O(|text| + matches) whatever
  * the dictionary size, which is the difference at 100 TB with a
  * real blocklist (thousands of terms).
  *
  * Count semantics per term = the `replace(text, term, '')` length
  * formula both SQL engines share (greedy leftmost non-overlapping,
  * each term counted INDEPENDENTLY — overlaps between different terms
  * all count): match ends arrive in increasing position, a match
  * counts iff its start is at or past the previous counted end of the
  * SAME term. Byte-level matching equals char-level matching on any
  * valid UTF-8 (a pattern can't begin on a continuation byte), so the
  * oracle's char-based replace arithmetic replays it exactly.
  *
  * The automaton (goto table flattened to int[states·256], BFS-built
  * failure links, fail-closure output lists) is built once per
  * Expression instance and shipped as a codegen reference object; the
  * per-row call runs the compiled scan loop — the kernel stays inside
  * whole-stage codegen, no interpreted fallback.
  */
final class AcAutomaton(termBytes: Array[Array[Byte]]) extends Serializable {
  val nTerms: Int = termBytes.length
  private val termLen: Array[Int] = termBytes.map(_.length)
  // Build trie.
  private val (next: Array[Int], outOff: Array[Int], outTerm: Array[Int]) = {
    val maxStates = 1 + termBytes.map(_.length).sum
    val goto = Array.fill(maxStates * 256)(-1)
    // ALL terms ending exactly at a state — a duplicated dictionary term
    // shares the trie path, so a single slot would keep only the last
    // index and silently report 0 for earlier copies; a list makes
    // duplicates count identically to their first occurrence.
    val ends = Array.fill(maxStates)(List.empty[Int])
    var nStates = 1
    var t = 0
    while (t < nTerms) {
      var st = 0
      val bs = termBytes(t)
      var i = 0
      while (i < bs.length) {
        val c = bs(i) & 0xff
        if (goto(st * 256 + c) < 0) { goto(st * 256 + c) = nStates; nStates += 1 }
        st = goto(st * 256 + c)
        i += 1
      }
      ends(st) = t :: ends(st)
      t += 1
    }
    // BFS failure links; convert goto to a total transition function.
    val fail = Array.fill(nStates)(0)
    val order = new java.util.ArrayDeque[Integer]()
    var c = 0
    while (c < 256) {
      val s = goto(c)
      if (s < 0) goto(c) = 0 else { fail(s) = 0; order.add(s) }
      c += 1
    }
    while (!order.isEmpty) {
      val r = order.poll().intValue()
      var c = 0
      while (c < 256) {
        val s = goto(r * 256 + c)
        if (s >= 0) {
          fail(s) = goto(fail(r) * 256 + c)
          order.add(s)
        } else {
          goto(r * 256 + c) = goto(fail(r) * 256 + c)
        }
        c += 1
      }
    }
    // Output closure per state: own end(s) + fail-chain ends, flattened.
    val lists = Array.tabulate(nStates) { s =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var cur = s
      while (cur != 0) { buf ++= ends(cur).reverseIterator; cur = fail(cur) }
      buf.toArray
    }
    val off = new Array[Int](nStates + 1)
    var i = 0
    while (i < nStates) { off(i + 1) = off(i) + lists(i).length; i += 1 }
    val flat = new Array[Int](off(nStates))
    i = 0
    while (i < nStates) {
      System.arraycopy(lists(i), 0, flat, off(i), lists(i).length); i += 1
    }
    (java.util.Arrays.copyOf(goto, nStates * 256), off, flat)
  }

  /** One-pass scan → per-term non-overlapping counts. */
  def run(s: UTF8String): Array[Long] = {
    val counts = new Array[Long](nTerms)
    val lastEnd = new Array[Int](nTerms) // position AFTER last counted match
    val nb = s.numBytes()
    var st = 0
    var i = 0
    while (i < nb) {
      st = next(st * 256 + (s.getByte(i) & 0xff))
      var o = outOff(st)
      val end = outOff(st + 1)
      while (o < end) {
        val t = outTerm(o)
        val start = i + 1 - termLen(t)
        if (start >= lastEnd(t)) { counts(t) += 1L; lastEnd(t) = i + 1 }
        o += 1
      }
      i += 1
    }
    counts
  }
}

case class BlocklistCounts(child: Expression, terms: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(terms.nonEmpty && terms.forall(_.nonEmpty), "blocklist_counts: non-empty terms required")
  override def inputTypes = Seq[AbstractDataType](StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "blocklist_counts"

  @transient private lazy val automaton =
    new AcAutomaton(terms.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray)

  override protected def nullSafeEval(e: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      automaton.run(e.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ac = ctx.addReferenceObj("acAutomaton", automaton,
      classOf[AcAutomaton].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $ac.run($s));
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** HTML → visible-text extraction kernel (the WET step — the first
  * stage of every crawl-curation lineage: CommonCrawl WET files,
  * CCNet §3.1, RefinedWeb §3.2 all consume tag-stripped visible
  * text). One pass over the chars, no DOM build — at 100 TB the
  * extractor is a map job and its cost is this loop:
  *
  *   - tags are skipped with a real attribute scanner (a quoted '>'
  *     inside an attribute value does NOT close the tag);
  *   - `<script>`/`<style>` are HTML raw-text elements: everything
  *     to the matching close tag is dropped, including any markup-
  *     looking payload inside;
  *   - comments `<!-- -->` and declarations/PIs (`<!doctype>`,
  *     `<?xml?>`) are dropped;
  *   - BLOCK elements (p, div, h1–h6, li, br, tr, nav, title, …)
  *     open and close LINES; inline elements (a, b, span, …)
  *     contribute no break — exactly the browser's line model;
  *   - character references decode: the five XML named entities +
  *     nbsp (to a plain space) + `&#N;` / `&#xH;` numeric forms;
  *     malformed or unknown references stay literal (HTML5 rule);
  *   - ASCII whitespace runs ([ \t\n\r\f\v]) collapse to one space
  *     and lines are trimmed; EMPTY lines are dropped. Unicode
  *     spaces (NBSP, U+2028, zero-width) are NOT whitespace to HTML
  *     and pass through untouched.
  *
  * A '<' not opening a tag/comment/declaration (next char not a
  * letter, '/', '!' or '?') is literal text, per the HTML5
  * tokenizer. Output is visible lines joined by '\n'.
  */
final class HtmlExtractor extends Serializable {
  private val blockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("html", "head", "body", "title", "p", "div", "br", "hr",
      "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li", "dl",
      "dt", "dd", "table", "tr", "td", "th", "thead", "tbody",
      "caption", "nav", "header", "footer", "section", "article",
      "aside", "main", "blockquote", "pre", "form", "fieldset",
      "figure", "figcaption", "address", "center").foreach(s.add)
    s
  }

  private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B'

  private def isLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  def run(s: UTF8String): UTF8String = UTF8String.fromString(extract(s.toString))

  def extract(html: String): String = {
    val n = html.length
    val out = new java.lang.StringBuilder(n)
    val cur = new java.lang.StringBuilder(64)
    var pendingSpace = false

    def flushLine(): Unit = {
      // cur is built already-collapsed and left-trimmed; trailing
      // space is impossible (spaces are appended lazily).
      if (cur.length > 0) {
        if (out.length > 0) out.append('\n')
        out.append(cur)
        cur.setLength(0)
      }
      pendingSpace = false
    }

    def emit(c: Char): Unit = {
      if (isAsciiWs(c)) { if (cur.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { cur.append(' '); pendingSpace = false }
        cur.append(c)
      }
    }

    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!' && html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (c1 == '!' || c1 == '?') {
          val e = html.indexOf('>', i + 1)
          i = if (e < 0) n else e + 1
        } else if (isLetter(c1) || c1 == '/') {
          val closing = c1 == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && (isLetter(html.charAt(j)) ||
            (html.charAt(j) >= '0' && html.charAt(j) <= '9'))) j += 1
          val name = html.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          // attribute scan: honor quoted values so '>' inside them
          // does not terminate the tag
          var quote: Char = 0
          var done = false
          while (j < n && !done) {
            val cj = html.charAt(j)
            if (quote != 0) { if (cj == quote) quote = 0 }
            else if (cj == '"' || cj == '\'') quote = cj
            else if (cj == '>') done = true
            j += 1
          }
          i = if (done) j else n
          if (!closing && (name == "script" || name == "style")) {
            // raw-text element: drop to the matching close tag
            val close = "</" + name
            var k = i
            var found = -1
            while (found < 0 && k >= 0) {
              k = indexOfIgnoreCase(html, close, k)
              if (k >= 0) {
                val after = k + close.length
                if (after >= n || html.charAt(after) == '>' ||
                  isAsciiWs(html.charAt(after))) found = k
                else k += 1
              }
            }
            if (found < 0) i = n
            else {
              val e = html.indexOf('>', found)
              i = if (e < 0) n else e + 1
            }
          }
          if (name.nonEmpty && blockTags.contains(name)) flushLine()
        } else { emit(c); i += 1 }
      } else if (c == '&') {
        val (decoded, next) = decodeEntity(html, i)
        if (next > i) { decoded.foreach(emit); i = next }
        else { emit(c); i += 1 }
      } else { emit(c); i += 1 }
    }
    flushLine()
    out.toString
  }

  private def indexOfIgnoreCase(s: String, sub: String, from: Int): Int = {
    var i = math.max(from, 0)
    val max = s.length - sub.length
    while (i <= max) {
      var k = 0
      while (k < sub.length &&
        Character.toLowerCase(s.charAt(i + k)) == sub.charAt(k)) k += 1
      if (k == sub.length) return i
      i += 1
    }
    -1
  }

  /** Decode one character reference at `i` (html(i) == '&').
    * Returns (replacement, indexAfter); indexAfter == i means "not a
    * well-formed reference — keep the '&' literal".
    */
  private def decodeEntity(html: String, i: Int): (String, Int) = {
    val n = html.length
    val semi = {
      var k = i + 1
      val lim = math.min(n, i + 12) // longest handled ref: &#x10FFFF;
      while (k < lim && html.charAt(k) != ';') k += 1
      if (k < lim && k < n && html.charAt(k) == ';') k else -1
    }
    if (semi < 0) return ("", i)
    val body = html.substring(i + 1, semi)
    val rep: String = body match {
      case "amp" => "&"
      case "lt" => "<"
      case "gt" => ">"
      case "quot" => "\""
      case "apos" => "'"
      case "nbsp" => " "
      case _ if body.startsWith("#x") || body.startsWith("#X") =>
        try {
          val cp = Integer.parseInt(body.substring(2), 16)
          if (Character.isValidCodePoint(cp)) new String(Character.toChars(cp)) else null
        } catch { case _: NumberFormatException => null }
      case _ if body.startsWith("#") =>
        try {
          val cp = Integer.parseInt(body.substring(1), 10)
          if (Character.isValidCodePoint(cp)) new String(Character.toChars(cp)) else null
        } catch { case _: NumberFormatException => null }
      case _ => null
    }
    if (rep == null) ("", i) else (rep, semi + 1)
  }
}

/** NFKC + locale-independent lowercase as a codegen scalar — the
  * kernel of Dedup.normTextUnicode (the unicode-preserving
  * normalization tier; see that method's doc for why this tier is
  * spec-pinned rather than oracle-replayed). JDK-built-in
  * java.text.Normalizer; the fast path skips normalization entirely
  * when the input is already NFKC (ASCII always is).
  */
final class NfkcFolder extends Serializable {
  def run(s: UTF8String): UTF8String = {
    val str = s.toString
    val n =
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFKC)) str
      else java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFKC)
    UTF8String.fromString(n.toLowerCase(java.util.Locale.ROOT))
  }
}

/** `nfkc_lower(s)` — see [[NfkcFolder]]. */
case class NfkcLower(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq[AbstractDataType](StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfkc_lower"

  @transient private lazy val folder = new NfkcFolder

  override protected def nullSafeEval(e: Any): Any =
    folder.run(e.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("nfkcFolder", folder, classOf[NfkcFolder].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $f.run($s);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `html_text(html)` — visible-text extraction as a codegen scalar
  * (see [[HtmlExtractor]] for the exact semantics). The kernel ships
  * as a codegen reference object like [[AcAutomaton]]; the per-row
  * call stays inside whole-stage codegen.
  */
case class HtmlVisibleText(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq[AbstractDataType](StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "html_text"

  @transient private lazy val extractor = new HtmlExtractor

  override protected def nullSafeEval(e: Any): Any =
    extractor.run(e.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ex = ctx.addReferenceObj("htmlExtractor", extractor,
      classOf[HtmlExtractor].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ex.run($s);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object GraftExpressions {
  private def col(e: Expression): Column = ExpressionUtils.column(e)
  private def exp(c: Column): Expression = ExpressionUtils.expression(c)

  def asinh_scaled(x: Column, cofactor: Column): Column =
    col(AsinhScaled(exp(x), exp(cofactor)))

  def logicle(x: Column, t: Column, m: Column, w: Column): Column =
    col(Logicle(exp(x), exp(t), exp(m), exp(w)))

  def rolling_hash(s: Column): Column = col(RollingHash(exp(s)))

  def simhash64(tokens: Column): Column = col(SimHash64(exp(tokens)))

  def hashed_linear_score(normText: Column, numBuckets: Int, weights: Seq[Long]): Column =
    col(HashedLinearScore(exp(normText), numBuckets, weights))

  def blocklist_counts(text: Column, terms: Seq[String]): Column =
    col(BlocklistCounts(exp(text), terms))

  def html_text(html: Column): Column = col(HtmlVisibleText(exp(html)))

  def nfkc_lower(s: Column): Column = col(NfkcLower(exp(s)))

  def logicle_q6(x: Column, t: Double, m: Double, w: Double): Column =
    col(LogicleQ6(exp(x), t, m, w))

  def dot_product(a: Column, b: Column): Column = col(DotProduct(exp(a), exp(b)))

  def minhash_signature(tokens: Column, numHashes: Int): Column =
    col(MinHashSignature(exp(tokens), numHashes))

  def sorted_long_intersect_size(a: Column, b: Column): Column =
    col(SortedLongIntersectSize(exp(a), exp(b)))

  def srp_code(emb: Column, planes: Array[Array[Double]]): Column =
    col(SrpCode(exp(emb), planes))

  def point_in_polygon(x: Column, y: Column, xs: Array[Double], ys: Array[Double]): Column =
    col(PointInPolygon(exp(x), exp(y), xs, ys))

  def cosine_sim(a: Column, b: Column): Column =
    col(CosineSim(exp(a), exp(b)))

  def fmix64(v: Column): Column = col(Fmix64(exp(v)))

  def nearest_centroid(v: Column, codebook: Codebook, n: Int): Column =
    col(NearestCentroid(exp(v), codebook, n))

  def adc_score(q: Column, keys: Seq[Column], model: AdcModel): Column =
    col(AdcScore(exp(q) +: keys.map(exp), model))

  def lloyd_step(vs: Seq[Column], codebooks: Seq[Codebook], quantScale: Double): Column =
    col(LloydStepAgg(vs.map(exp), codebooks, quantScale).toAggregateExpression())

  /** Bloom-filter build aggregate over xxhash64(key) — the same
    * sketch Spark's InjectRuntimeFilter plants, exposed so an
    * operator can prune a join's large side explicitly. Returns the
    * serialized filter as BINARY.
    */
  def bloom_filter_agg(key: Column, expectedItems: Long, numBits: Long): Column =
    col(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      new XxHash64(Seq(exp(key))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Probe the serialized bloom filter with xxhash64(key). False
    * positives possible (tunable via numBits), false negatives not.
    */
  def might_contain(bloom: Column, key: Column): Column =
    col(BloomFilterMightContain(exp(bloom), new XxHash64(Seq(exp(key)))))

  def ngram_hashes(toks: Column, n: Int, dedupSort: Boolean): Column =
    col(NgramHashes(exp(toks), n, dedupSort))

  def mix_hash(vs: Seq[Column]): Column = col(MixHashLongs(vs.map(exp)))

  def zorder2(x: Column, y: Column): Column = col(Zorder2(exp(x), exp(y)))
  def hilbert2(x: Column, y: Column, bits: Int): Column =
    col(Hilbert2(exp(x), exp(y), bits))

  def kll_quantiles(x: Column, k: Int, probs: Seq[Double]): Column =
    col(KllQuantiles(exp(x), k, probs.toList).toAggregateExpression())

  def theta_sketch(key: Column, lgK: Int): Column =
    col(ThetaSketchAgg(exp(key), lgK).toAggregateExpression())

  def theta_union_agg(sketch: Column, lgK: Int): Column =
    col(ThetaUnionAgg(exp(sketch), lgK).toAggregateExpression())

  def cpc_sketch(key: Column, lgK: Int): Column =
    col(CpcSketchAgg(exp(key), lgK).toAggregateExpression())

  def cpc_estimate(sketch: Column): Column = col(CpcEstimate(exp(sketch)))

  def theta_estimate(sketch: Column): Column = col(ThetaEstimate(exp(sketch)))

  def theta_intersect_estimate(a: Column, b: Column): Column =
    col(ThetaIntersectEstimate(exp(a), exp(b)))

  def theta_a_not_b_estimate(a: Column, b: Column): Column =
    col(ThetaANotBEstimate(exp(a), exp(b)))

  def vec_stats(v: Column, d: Int): Column =
    col(VecStatsAgg(exp(v), d).toAggregateExpression())

  def freq_items(v: Column, maxMapSize: Int, k: Int): Column =
    col(FreqItemsAgg(exp(v), maxMapSize, k).toAggregateExpression())

  def top_k_pairs(ord: Column, id: Column, k: Int): Column =
    col(TopKPairsAgg(exp(ord), exp(id), k).toAggregateExpression())

  def winnow_fingerprints(toks: Column, n: Int, w: Int): Column =
    col(WinnowFingerprints(exp(toks), n, w))

  def project_planes(v: Column, planes: Array[Array[Double]],
                     offsets: Array[Double]): Column =
    col(ProjectPlanes(exp(v), planes.map(_.toList).toList, offsets.toList))

  def registerAll(s: SparkSession): Unit = {
    // optimizer rules (idempotent add)
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(PolygonGateBBoxRule)) {
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ PolygonGateBBoxRule
    }
    // the graftlog read splice must run after scan pushdown, which
    // only this batch does (an extension's optimizer rules run before)
    if (!cs.experimental.extraOptimizations.contains(graft.sources.GraftLogScanRule)) {
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ graft.sources.GraftLogScanRule
    }
    registerFunctions(cs.sessionState.functionRegistry)
  }

  /** Register every SQL function of graft's one function table
    * (`graft.GraftSparkExtensions.functions`, the same table the
    * session extension injects) into `reg`.
    */
  def registerFunctions(reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    graft.GraftSparkExtensions.functions.foreach { case (name, info, builder) =>
      reg.registerFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
    }
}

/** Distinct-count estimate of a serialized CPC sketch. */
case class CpcEstimate(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def inputTypes = Seq[AbstractDataType](BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cpc_estimate"
  override protected def nullSafeEval(b: Any): Any =
    org.apache.datasketches.cpc.CpcSketch
      .heapify(org.apache.datasketches.memory.Memory.wrap(b.asInstanceOf[Array[Byte]]))
      .getEstimate
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
