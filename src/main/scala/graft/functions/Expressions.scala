package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, QuaternaryExpression, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot per-row kernels.
  *
  * The same computations are expressible with higher-order functions
  * (`aggregate`/`zip_with`/`transform`), but HOF lambdas are
  * interpreted per element and allocate per call — simhash via HOFs
  * measured ~60 s for 500 docs where this expression takes
  * milliseconds. These stay inside whole-stage codegen via a static
  * JVM kernel call (`doGenCode` emits `SimHash64.compute(arr)`), so
  * the surrounding operator pipeline never breaks out of Tungsten.
  */

/** 64-bit SimHash over a token array: per-token xxhash64 (seed 42,
  * identical to Spark's `xxhash64`), ±1 bit votes, sign fingerprint.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }
}

/** The shared two-prime polynomial hash pair — ONE implementation of
  * the `(h·31+cp) mod 1 000 000 007` / `(h·131+cp) mod 998 244 353`
  * code-point folds behind [[SimHashPoly]], [[ShinglePolyHashes]] and
  * the d02/d04 oracle SQL (which interpolates THESE constants). Plain
  * BIGINT arithmetic DuckDB replays exactly; the composite packs both
  * 30-bit hashes into one long.
  */
/** Scalar [[PolyPair]] of a whole string — the per-TOKEN hash for
  * multiset consumers (x23 feature hashing) that the deduplicating
  * [[ShinglePolyHashes]] kernel can't serve: there one text yields
  * its distinct shingle SET, here each exploded token row keeps its
  * multiplicity. Same arithmetic, same DuckDB replay fragments.
  */
case class PolyPairHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_pair"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    PolyPair.compute(s, 0, s.length)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyPairHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyPairHash =
    copy(child = newChild)
}

object PolyPairHash {
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val str = s.toString
    PolyPair.compute(str, 0, str.length)
  }
}

object PolyPair {
  val P1 = 1000000007L
  val P2 = 998244353L
  val Base1 = 31L
  val Base2 = 131L
  val F = 2147483648L // 2³¹ — the pack/fold width

  /** Bit-mixing multipliers (32-bit hash primes; a product with a
    * 31-bit folded operand stays below 2⁶³) — the ONE set shared by
    * [[SimHashPoly]]'s vote mixing and [[HllAgg]]'s key mixer.
    */
  val Mix1 = 2654435761L
  val Mix2 = 2246822519L
  val Mix3 = 3266489917L

  /** Composite h1·2³¹ + h2 over `str`'s code points in [from, until)
    * (char offsets; a surrogate pair is one code point on both
    * engines — DuckDB's `unicode(substr(...))` walks code points too).
    */
  def compute(str: String, from: Int, until: Int): Long = {
    var h1 = 0L
    var h2 = 0L
    var j = from
    while (j < until) {
      val cp = str.codePointAt(j)
      h1 = (h1 * Base1 + cp) % P1
      h2 = (h2 * Base2 + cp) % P2
      j += Character.charCount(cp)
    }
    h1 * F + h2
  }

  /** xor the product's halves, clamped back to 31 bits — the same
    * fold as [[HllAgg]]'s mixer (the clamp matters: the quotient can
    * carry a 32nd bit, and DuckDB errors on INT64 overflow).
    */
  def fold(t: Long): Long = ((t % F) ^ (t / F)) % F
}

/** SimHash over a token array with a CROSS-ENGINE-REPRODUCIBLE hash:
  * per token, the [[PolyPair]] rolling hashes are each passed through
  * one multiply/xor-fold round (raw polynomial hashes of SHORT tokens
  * never reach the high bits — 'the' has h < 2²⁷ — which would bias
  * the upper vote bits of every document toward 0; the fold spreads
  * carry entropy across all 30 bits, measured balance 0.48–0.52 vs
  * 0.20–0.57 raw), supplying 60 vote bits; ±1 votes; sign fingerprint
  * in [0, 2⁶⁰). Unlike [[SimHash64]] (xxhash64-based,
  * engine-internal), every operation is plain BIGINT arithmetic
  * DuckDB can replay exactly — this is what makes the d04 near-dup
  * operator value-checkable by the driver's oracle instead of
  * rows-only.
  */
case class SimHashPoly(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_poly"

  override def nullSafeEval(input: Any): Any =
    SimHashPoly.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashPoly.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashPoly =
    copy(child = newChild)
}

object SimHashPoly {
  val Bits = 60
  /** Per-token bit-mixing multipliers — [[PolyPair]]'s shared set. */
  val M1 = PolyPair.Mix1
  val M2 = PolyPair.Mix2

  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](Bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).toString
        val c = PolyPair.compute(s, 0, s.length)
        val y1 = PolyPair.fold(M1 * (c / PolyPair.F))
        val y2 = PolyPair.fold(M2 * (c % PolyPair.F))
        var b = 0
        while (b < 30) {
          if (((y1 >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          if (((y2 >>> b) & 1L) == 1L) votes(30 + b) += 1 else votes(30 + b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < Bits) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }
}

/** Dot product of two double arrays as a strict left fold — the exact
  * same add order as `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)`
  * and as the DuckDB `list_reduce` oracles, so results stay
  * bit-identical while running ~100× faster than the interpreted HOF.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecDot.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
}

/** Fused SQ8 quantize → reconstruct → ADC dot (the s09 kernel): per
  * dimension, the vector value is encoded to its 8-bit scalar code
  * against the corpus [min, max] (code = clamp(⌊(v−min)·255/span⌋,
  * 0, 255); span 0 → 0), decoded to the cell CENTER ((code+½)·span/255
  * + min), and dotted with the query — one strict left fold, no
  * intermediate code/reconstruction arrays ever materialized.
  *
  * Bit-equality contract: every step is the exact IEEE sequence of the
  * DuckDB oracle's `list_transform` chains + `list_reduce` fold
  * ((v−min)·255/span floored then clamped as int64; (code+0.5)·span
  * /255+min left-associated; acc += q·dq in element order), so the
  * fused double matches the oracle's, while replacing two 64-wide
  * interpreted HOF chains with one codegen'd kernel call.
  */
case class Sq8Adc(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType),
    ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_adc"

  override def nullSafeEval(v: Any, mins: Any, spans: Any, q: Any): Any =
    Sq8Adc.compute(v.asInstanceOf[ArrayData], mins.asInstanceOf[ArrayData],
      spans.asInstanceOf[ArrayData], q.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, mn, sp, q) => s"graft.functions.Sq8Adc.compute($v, $mn, $sp, $q)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, fo: Expression): Sq8Adc =
    copy(first = f, second = s, third = t, fourth = fo)
}

object Sq8Adc {
  def compute(v: ArrayData, mins: ArrayData, spans: ArrayData,
      q: ArrayData): Double = {
    val n = math.min(v.numElements(), q.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val mn = mins.getDouble(i)
      val sp = spans.getDouble(i)
      // least(255, greatest(0, CAST(floor((v-mn)*255.0/sp) AS BIGINT)))
      val code: Long =
        if (sp == 0.0) 0L
        else math.min(255L, math.max(0L,
          math.floor((v.getDouble(i) - mn) * 255.0 / sp).toLong))
      // (CAST(code AS DOUBLE) + 0.5) * sp / 255.0 + mn, left-associated
      val dq = (code.toDouble + 0.5) * sp / 255.0 + mn
      acc += q.getDouble(i) * dq
      i += 1
    }
    acc
  }
}

/** Shared kernel for the IVF argmin assignment: score_j = cn2_j −
  * 2·(v·cd_j) with the strict left-fold dot, scanned in ascending-
  * cell order keeping the FIRST minimum — bit- and tie-identical to
  * the baked literal form it replaces (a `least()` over k score
  * columns + a first-match when-chain), whose Janino compile cost
  * grew linearly with the now data-derived k (2 s/query at k = 22).
  * Centroids arrive FLATTENED (k·dim doubles) with their cell ids
  * and precomputed ‖c‖² as sibling literal arrays.
  */
object NearestKernel {
  /** (best index << 1) marker avoided — two thin wrappers read cell
    * or score from one scan; the loop is the whole cost either way.
    */
  def bestIndex(v: ArrayData, flat: ArrayData, cn2: ArrayData): Int = {
    val k = cn2.numElements()
    if (k == 0) return -1
    val dim = flat.numElements() / k
    val n = math.min(dim, v.numElements())
    var best = 0
    var bestScore = Double.MaxValue
    var j = 0
    while (j < k) {
      var dot = 0.0
      var i = 0
      val off = j * dim
      while (i < n) { dot += v.getDouble(i) * flat.getDouble(off + i); i += 1 }
      val sc = cn2.getDouble(j) - 2.0 * dot
      if (j == 0 || sc < bestScore) { bestScore = sc; best = j }
      j += 1
    }
    best
  }

  def cell(v: ArrayData, cells: ArrayData, flat: ArrayData, cn2: ArrayData): Long = {
    val b = bestIndex(v, flat, cn2)
    if (b < 0) -1L else cells.getLong(b)
  }

  def score(v: ArrayData, cells: ArrayData, flat: ArrayData, cn2: ArrayData): Double = {
    val b = bestIndex(v, flat, cn2)
    if (b < 0) Double.NaN
    else {
      val k = cn2.numElements()
      val dim = flat.numElements() / k
      val n = math.min(dim, v.numElements())
      var dot = 0.0
      var i = 0
      val off = b * dim
      while (i < n) { dot += v.getDouble(i) * flat.getDouble(off + i); i += 1 }
      cn2.getDouble(b) - 2.0 * dot
    }
  }
}

/** Argmin-centroid CELL id (see [[NearestKernel]]). */
case class NearestCell(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(LongType),
    ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_cell"

  override def nullSafeEval(v: Any, cells: Any, flat: Any, cn2: Any): Any =
    NearestKernel.cell(v.asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData],
      flat.asInstanceOf[ArrayData], cn2.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, c, f, n) => s"graft.functions.NearestKernel.cell($v, $c, $f, $n)")

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, e: Expression): NearestCell =
    copy(first = a, second = b, third = c, fourth = e)
}

/** Argmin-centroid SCORE, min_j (cn2_j − 2·v·cd_j) (see [[NearestKernel]]). */
case class NearestScore(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(LongType),
    ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "nearest_score"

  override def nullSafeEval(v: Any, cells: Any, flat: Any, cn2: Any): Any =
    NearestKernel.score(v.asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData],
      flat.asInstanceOf[ArrayData], cn2.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, c, f, n) => s"graft.functions.NearestKernel.score($v, $c, $f, $n)")

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, e: Expression): NearestScore =
    copy(first = a, second = b, third = c, fourth = e)
}

/** Polynomial rolling hash over a string's code points:
  * h ← (h·mul + codepoint) mod m, the kernel behind the x04/x05
  * fingerprints and the m01 checksum. Matches the HOF formulation
  * `aggregate(sequence(1, length(s)), 0L, (h,i) -> (h*mul +
  * ascii(substring(s,i,1))) % m)` on ASCII and the DuckDB
  * `unicode()`-based oracle on any input, ~100× faster than the
  * per-character interpreted lambda.
  */
case class RollingHash(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType, LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(s: Any, mul: Any, mod: Any): Any =
    RollingHash.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      mul.asInstanceOf[Long], mod.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, mul, mod) => s"graft.functions.RollingHash.compute($s, $mul, $mod)")

  override protected def withNewChildrenInternal(
      f: Expression, sec: Expression, t: Expression): RollingHash =
    copy(first = f, second = sec, third = t)
}

object RollingHash {
  def compute(s: org.apache.spark.unsafe.types.UTF8String,
      mul: Long, mod: Long): Long = {
    var h = 0L
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * mul + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** Distinct hashed word n-gram shingles of a text, in one pass over
  * the UTF-8 bytes — the narrow-stage kernel behind the d03 Jaccard
  * and x07 contamination inverted-index joins. Exactly equivalent
  * (modulo 64-bit hash collisions, which both callers already accept)
  * to the HOF pipeline
  *
  * {{{
  *   xxhash64(explode(array_distinct(transform(
  *     sequence(1, size(split(text,' ')) - (n-1)),
  *     i -> concat_ws(' ', tok_i … tok_{i+n-1})))))
  * }}}
  *
  * because a space-joined window of consecutive split(" ")-tokens IS
  * the source byte range between its token boundaries (single-space
  * separator, empties preserved — split keeps them with limit −1),
  * and the hash seed (42) matches Spark's `xxhash64`. No token
  * strings, gram strings, or per-element lambda frames are ever
  * materialized. Fewer than n tokens → empty array (the callers'
  * `size(toks) ≥ n` guard, folded in).
  */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(s: Any, n: Any): Any =
    ShingleHashes.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.functions.ShingleHashes.compute($s, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleHashes =
    copy(left = newLeft, right = newRight)
}

object ShingleHashes {
  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    // token start offsets: 0 and every byte after a 0x20 (a space byte
    // never occurs inside a multi-byte UTF-8 sequence)
    var starts = new Array[Int](16)
    starts(0) = 0
    var m = 1
    var p = 0
    while (p < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + p) == 0x20) {
        if (m == starts.length) starts = java.util.Arrays.copyOf(starts, m * 2)
        starts(m) = p + 1
        m += 1
      }
      p += 1
    }
    if (m < n || n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, (m - n + 1) * 2))
    val out = new Array[Long](m - n + 1)
    var k = 0
    var i = 0
    while (i <= m - n) {
      val a = starts(i)
      // gram i ends where token i+n-1 ends: one byte before the next
      // token's start, or at the end of the string
      val b = if (i + n < m) starts(i + n) - 1 else len
      val h = XXH64.hashUnsafeBytes(base, off + a, b - a, 42L)
      if (seen.add(h)) { out(k) = h; k += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }
}

/** Distinct poly-hashed word n-gram shingles — [[ShingleHashes]]'s
  * CROSS-ENGINE-REPRODUCIBLE sibling. Each gram's hash is the 61-bit
  * composite `h1·2³¹ + h2` of two polynomial rolling hashes over its
  * code points (the same h·31+cp mod 1 000 000 007 / h·131+cp mod
  * 998 244 353 arithmetic as [[SimHashPoly]]), so a DuckDB oracle can
  * replay every value with `list_reduce` — this is what lets the d02
  * MinHash-LSH operator be value-checked instead of rows-only.
  * xxhash-based [[ShingleHashes]] remains the pick where only hash
  * EQUALITY matters (d03/x07 inverted-index joins): its 64-bit range
  * has a ~8× lower collision rate.
  */
case class ShinglePolyHashes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_polyhashes"

  override def nullSafeEval(s: Any, n: Any): Any =
    ShinglePolyHashes.compute(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.functions.ShinglePolyHashes.compute($s, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShinglePolyHashes =
    copy(left = newLeft, right = newRight)
}

object ShinglePolyHashes {

  def compute(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    // decode once; token boundaries are char offsets (a ' ' char is
    // never half of a surrogate pair); the [[PolyPair]] kernel walks
    // code points — the exact arithmetic of the DuckDB
    // unicode(substr(...)) oracle
    val str = s.toString
    var starts = new Array[Int](16)
    starts(0) = 0
    var m = 1
    var p = 0
    while (p < str.length) {
      if (str.charAt(p) == ' ') {
        if (m == starts.length) starts = java.util.Arrays.copyOf(starts, m * 2)
        starts(m) = p + 1
        m += 1
      }
      p += 1
    }
    if (m < n || n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, (m - n + 1) * 2))
    val out = new Array[Long](m - n + 1)
    var k = 0
    var i = 0
    while (i <= m - n) {
      val a = starts(i)
      val b = if (i + n < m) starts(i + n) - 1 else str.length
      val h = PolyPair.compute(str, a, b) // h1 · 2³¹ + h2, < 2⁶¹
      if (seen.add(h)) { out(k) = h; k += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }
}

/** The one table of graft's SQL functions. [[GraftExtensions]] injects
  * every entry when a session is built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (the library
  * way); [[register]] adds what a session built without it lacks, and
  * [[childSession]] is how graft opens a private session.
  * [[graft.QueryDef]] runs `register` before every entry's body.
  */
object GraftFunctions {
  /** (name, the class `DESCRIBE FUNCTION` reports, builder) */
  private[graft] val fns: Seq[(String, Class[_], Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    Seq(
      ("simhash64", classOf[SimHash64], es => SimHash64(es.head)),
      ("simhash_poly", classOf[SimHashPoly], es => SimHashPoly(es.head)),
      ("vec_dot", classOf[VecDot], es => VecDot(es(0), es(1))),
      ("sq8_adc", classOf[Sq8Adc], es => Sq8Adc(es(0), es(1), es(2), es(3))),
      ("nearest_cell", classOf[NearestCell], es => NearestCell(es(0), es(1), es(2), es(3))),
      ("nearest_score", classOf[NearestScore], es => NearestScore(es(0), es(1), es(2), es(3))),
      ("rolling_hash", classOf[RollingHash], es => RollingHash(es(0), es(1), es(2))),
      ("shingle_hashes", classOf[ShingleHashes], es => ShingleHashes(es(0), es(1))),
      ("shingle_polyhashes", classOf[ShinglePolyHashes], es => ShinglePolyHashes(es(0), es(1))),
      ("poly_pair", classOf[PolyPairHash], es => PolyPairHash(es.head)),
      // Spark ships these only in the internal registry (they back the
      // runtime row-level filter rule); surface them for explicit
      // bloom-prefilter plans (q33)
      ("bloom_filter_agg", classOf[BloomFilterAggregate],
        es => new BloomFilterAggregate(es(0), es(1), es(2))),
      ("might_contain", classOf[BloomFilterMightContain],
        es => BloomFilterMightContain(es(0), es(1))))
  }

  private[functions] def info(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** Adds to `spark` each function of [[fns]] that does not resolve
    * there, and both TopK rules unless its planner already holds
    * [[graft.plans.TopKStrategy]]. On a session built with
    * [[GraftExtensions]] it changes nothing.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (name, cls, build) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info(name, cls), build)
    }
    if (!spark.sessionState.planner.strategies.contains(graft.plans.TopKStrategy)) {
      spark.experimental.extraStrategies :+= graft.plans.TopKStrategy
      spark.experimental.extraOptimizations :+= graft.plans.TopKRewrite
    }
  }

  /** `s.newSession()` prepared by [[register]]: a child of a session
    * built without [[GraftExtensions]] loses the functions and rules
    * `register` gave its parent. Every private session graft opens
    * comes from here.
    */
  def childSession(s: SparkSession): SparkSession = {
    val child = s.newSession()
    GraftFunctions.register(child)
    child
  }
}

/** `SparkSessionExtensions` hook: injects every function of
  * [[GraftFunctions.fns]] and the two TopK rules at session build time.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name, cls), build))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}
