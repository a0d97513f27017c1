package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, sqrt}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._

/** Distance kernels as native Catalyst expressions with codegen.
  *
  * Semantics match the reference (`pkg/core/distance/distance_go.go:57-91`):
  *   - `euclidean` is SQUARED L2 (no sqrt); the reference accumulates in
  *     float32 then widens to double, which `wide = false` reproduces
  *     bit-for-bit.
  *   - `cosine` is `1 - dot(v1, v2)` over vectors that were normalized at
  *     ingest/query time (`hnsw_index.go:3023`).
  *   - `wide = true` accumulates in double — used where results are compared
  *     against a double-precision oracle.
  *
  * The reference reaches for AVX assembly / Rust FFI for these loops
  * (`distance_avo_amd64.go`, `native/compute/src/lib.rs`); the Spark
  * equivalent is a `doGenCode` tight loop over `ArrayData` that stays inside
  * whole-stage codegen — no boxing, no UDF serialization, JIT-vectorized.
  * This is the hot inner loop of every brute-force k-NN scan, so it must not
  * fall back to interpreted evaluation (higher-order functions like
  * `zip_with`/`aggregate` are CodegenFallback — too slow here).
  */
abstract class VectorBinaryKernel extends BinaryExpression {
  def wide: Boolean
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  /** Per-element term, e.g. diff*diff or product, over float vars x, y. */
  protected def termCode(x: String, y: String): String
  /** Final transform of the accumulated double sum. */
  protected def finishCode(sum: String): String = sum
  /** The kernel on plain values: its [[VectorKernels]] twin. */
  protected def evalOf(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(l: Any, r: Any): Any =
    evalOf(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      // Loop/term vars MUST be fresh: fixed names collide when another
      // generated loop encloses this kernel (Janino forbids shadowing).
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val accT = if (wide) "double" else "float"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException("vectors must have the same length");
         |}
         |$accT $sum = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $accT $x = $a.getFloat($i);
         |  $accT $y = $b.getFloat($i);
         |  $sum += ${termCode(x, y)};
         |}
         |${ev.value} = ${finishCode(s"((double) $sum)")};
       """.stripMargin
    })
}

/** Squared Euclidean distance — `distance_go.go:58-72`. */
case class EuclideanSqDistance(left: Expression, right: Expression, wide: Boolean = false)
    extends VectorBinaryKernel {
  override protected def termCode(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def evalOf(a: ArrayData, b: ArrayData): Double =
    VectorKernels.euclideanSq(a, b, wide)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "euclidean_sq"
}

/** Dot-product-as-distance for the cosine metric on normalized vectors —
  * `distance_go.go:74-91`.
  */
case class CosineDistance(left: Expression, right: Expression, wide: Boolean = false)
    extends VectorBinaryKernel {
  override protected def termCode(x: String, y: String): String = s"$x * $y"
  override protected def finishCode(sum: String): String = s"1.0d - $sum"
  override protected def evalOf(a: ArrayData, b: ArrayData): Double =
    VectorKernels.cosineDistance(a, b, wide)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_distance"
}

/** Raw dot product (similarity kernel used by gardener clustering and as a
  * building block for exact cosine similarity).
  */
case class DotProduct(left: Expression, right: Expression, wide: Boolean = false)
    extends VectorBinaryKernel {
  override protected def termCode(x: String, y: String): String = s"$x * $y"
  override protected def evalOf(a: ArrayData, b: ArrayData): Double =
    VectorKernels.dot(a, b, wide)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

/** L2-normalize a float vector — reference `normalize`
  * (`pkg/core/hnsw/hnsw_index.go:3023`): zero vectors pass through
  * unchanged. Norm accumulates in float32 like the reference.
  */
case class NormalizeVector(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var sum = 0f
    var i = 0
    while (i < n) { val x = a.getFloat(i); sum += x * x; i += 1 }
    if (sum == 0f) a
    else {
      val inv = (1.0 / math.sqrt(sum.toDouble)).toFloat
      val out = new Array[Any](n)
      i = 0
      while (i < n) { out(i) = a.getFloat(i) * inv; i += 1 }
      new GenericArrayData(out)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val out = ctx.freshName("out")
      val inv = ctx.freshName("inv")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      s"""
         |final int $n = $a.numElements();
         |float $sum = 0f;
         |for (int $i = 0; $i < $n; $i++) { float $x = $a.getFloat($i); $sum += $x * $x; }
         |if ($sum == 0f) {
         |  ${ev.value} = $a;
         |} else {
         |  float $inv = (float) (1.0 / java.lang.Math.sqrt((double) $sum));
         |  float[] $out = new float[$n];
         |  for (int $j = 0; $j < $n; $j++) { $out[$j] = $a.getFloat($j) * $inv; }
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "normalize_vector"
}

/** V9-int8-domain cosine distance over quantized codes with PRECOMPUTED
  * norms — the reference's int8 search path: integer dot
  * (`pkg/core/distance/distance_go.go:106-115`), norm scaling + clamping
  * (`pkg/core/hnsw/hnsw_index.go:301-320`), norms stored as
  * `float32(sqrt(Σq²))` (`hnsw_index.go:3339` computeInt8Norm).
  *
  * Codes are `array<tinyint>`; the dot stays in 32-bit integers (exact while
  * dim·127² < 2³¹, i.e. any realistic dim) and only the final scale touches
  * floating point. This is the memory-bandwidth story of int8 at 100 TB:
  * 4× fewer bytes per vector through the scan, one int multiply-add per
  * component, and no per-pair norm recomputation. Zero norm → max distance
  * 1.0, as the reference defines.
  */
case class Int8CosineDistance(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def nullSafeEval(c1: Any, c2: Any, n1: Any, n2: Any): Any = {
    val a = c1.asInstanceOf[ArrayData]
    val b = c2.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"int8 vectors must have the same length: $n vs ${b.numElements()}")
    var sum = 0
    var i = 0
    while (i < n) { sum += a.getByte(i).toInt * b.getByte(i).toInt; i += 1 }
    val na = n1.asInstanceOf[Float]
    val nb = n2.asInstanceOf[Float]
    if (na == 0f || nb == 0f) 1.0
    else {
      var sim = sum.toDouble / (na.toDouble * nb.toDouble)
      if (sim > 1.0) sim = 1.0
      if (sim < -1.0) sim = -1.0
      1.0 - sim
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, na, nb) => {
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val sim = ctx.freshName("sim")
      val i = ctx.freshName("i")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException("int8 vectors must have the same length");
         |}
         |int $sum = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += ((int) $a.getByte($i)) * ((int) $b.getByte($i));
         |}
         |if ($na == 0f || $nb == 0f) {
         |  ${ev.value} = 1.0d;
         |} else {
         |  double $sim = ((double) $sum) / (((double) $na) * ((double) $nb));
         |  if ($sim > 1.0d) $sim = 1.0d;
         |  if ($sim < -1.0d) $sim = -1.0d;
         |  ${ev.value} = 1.0d - $sim;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
  override def prettyName: String = "int8_cosine_distance"
}

/** Polynomial rolling string hash `fold(acc·31 + code(c)) mod 2³¹−1` — the
  * engine-independent hash every dedup/fingerprint operator shares with the
  * DuckDB oracle (`Dedup.polyHash`'s contract). Replaces the interpreted
  * split-to-chars → transform → aggregate HOF chain with one tight loop:
  * that chain is evaluated once per SHINGLE, so it dominates MinHash/
  * SimHash/fingerprint cost. Iterates UTF-16 units exactly like
  * `split(s, "")` + `ascii` does for BMP input (the corpus contract).
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  private val P = 2147483647L
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) { acc = (acc * 31 + s.charAt(i)) % P; i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |java.lang.String $s = $a.toString();
         |long $acc = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $acc = ($acc * 31L + (long) $s.charAt($i)) % ${P}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "poly_hash"
}

/** Static helper for [[WordShingles]] — kept as a plain method so codegen
  * emits a single call instead of falling back to interpreted HOFs.
  */
object ShingleUtil {
  import org.apache.spark.unsafe.types.UTF8String

  /** Distinct word n-gram shingles, first-occurrence order — byte-for-byte
    * the result of `array_distinct(transform(sequence(0, size(w)-n),
    * i => concat_ws(" ", slice(w, i+1, n))))` over `w = split(text, " ")`
    * for texts with ≥ n words (the corpus contract); shorter texts yield
    * one truncated shingle instead of the slice error the HOF chain threw.
    */
  /** See [[HyperplaneBucketExpr]] — sequential double accumulation per
    * plane, matching the HOF/oracle fold order bit-for-bit.
    */
  def hyperplaneBucket(a: ArrayData, planes: Int): Long = {
    val n = a.numElements()
    var bucket = 0L
    var j = 0
    while (j < planes) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        val w = (131.0 * j + 31.0 * d) % 17 - 8
        dot += a.getFloat(d).toDouble * w
        d += 1
      }
      if (dot > 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  /** Packed sign-bit (binary) quantization: one long per 32 dims, bit i of
    * word j set iff v[32j+i] > 0. 32 bits per word keeps every word in
    * [0, 2^32) — representable exactly in the oracle's BIGINT arithmetic
    * with no sign-bit edge cases.
    */
  def packSignBits(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val words = new Array[Long]((n + 31) / 32)
    var i = 0
    while (i < n) {
      if (a.getFloat(i) > 0f) words(i >> 5) |= 1L << (i & 31)
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Hamming distance between two packed sign-bit arrays. */
  def hammingPacked(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    var s = 0
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }

  def shingles(s: UTF8String, n: Int): ArrayData = {
    val words = s.toString.split(" ", -1)
    val count = math.max(1, words.length - n + 1)
    val seen = new java.util.LinkedHashSet[String](count * 2)
    var i = 0
    while (i < count) {
      val end = math.min(i + n, words.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

/** Distinct word n-gram shingles of a text column (see [[ShingleUtil]]) —
  * the candidate-generation front of MinHash/Jaccard dedup. One call per
  * document replaces a 4-deep interpreted HOF chain evaluated over every
  * word position.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle width")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleUtil.shingles(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleUtil.shingles($a, $n);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "word_shingles"
}

/** Deterministic hyperplane sign bucket over a float vector — the coarse
  * key that keeps the cosine near-dup join from going all-pairs
  * (`Dedup.hyperplaneBucket`'s contract). Plane j's weight at dim d is
  * `((131·j + 31·d) mod 17) − 8`, summed left-to-right in double exactly
  * like the `zip_with`/`aggregate` HOF chain it replaces (and like the
  * DuckDB oracle's list_reduce), so bucket keys are bit-identical.
  */
/** Binary (1-bit) vector quantization: float vector → packed sign words
  * (see [[ShingleUtil.packSignBits]]). 32x smaller than f32 — the extreme
  * end of the engine's precision ladder (f32 → f16 → int8 → PQ → 1-bit),
  * used as a Hamming-distance candidate generator ahead of exact rerank.
  */
case class PackSignBitsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleUtil.packSignBits(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleUtil.packSignBits($a);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "pack_sign_bits"
}

/** Hamming distance over packed sign words — popcount of the XOR, summed
  * across words; stays inside whole-stage codegen like the float kernels.
  */
case class HammingPackedExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override def nullSafeEval(l: Any, r: Any): Any =
    ShingleUtil.hammingPacked(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ShingleUtil.hammingPacked($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "hamming_packed"
}

case class HyperplaneBucketExpr(child: Expression, planes: Int) extends UnaryExpression {
  require(planes >= 1 && planes <= 62, "plane count")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    ShingleUtil.hyperplaneBucket(a, planes)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleUtil.hyperplaneBucket($a, $planes);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "hyperplane_bucket"
}

/** The distance kernels on plain values: the loops of
  * [[EuclideanSqDistance]], [[CosineDistance]] and [[DotProduct]] (whose
  * interpreted `nullSafeEval` calls them) and of
  * [[VectorFunctions.cosineSimilarityWide]], in the same operations and
  * order as the generated code, so each result is bit-identical to its
  * Column expression. For scoring passes that hold rows, not plans
  * (`Fusion.searchWithFusionBatch`'s one-pass default path).
  */
object VectorKernels {
  private def sameLength(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"vectors must have the same length: $n vs ${b.numElements()}")
    n
  }

  /** Squared L2 distance; `wide` accumulates in double, else in float. */
  def euclideanSq(a: ArrayData, b: ArrayData, wide: Boolean): Double = {
    val n = sameLength(a, b)
    if (wide) {
      var sum = 0d; var i = 0
      while (i < n) {
        val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
        sum += d * d; i += 1
      }
      sum
    } else {
      var sum = 0f; var i = 0
      while (i < n) { val d = a.getFloat(i) - b.getFloat(i); sum += d * d; i += 1 }
      sum.toDouble
    }
  }

  /** Dot product; `wide` accumulates in double, else in float. */
  def dot(a: ArrayData, b: ArrayData, wide: Boolean): Double = {
    val n = sameLength(a, b)
    if (wide) {
      var sum = 0d; var i = 0
      while (i < n) { sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
      sum
    } else {
      var sum = 0f; var i = 0
      while (i < n) { sum += a.getFloat(i) * b.getFloat(i); i += 1 }
      sum.toDouble
    }
  }

  /** `1 - dot`: the cosine distance over normalized vectors. */
  def cosineDistance(a: ArrayData, b: ArrayData, wide: Boolean): Double =
    1.0d - dot(a, b, wide)

  /** `dot / (|a|·|b|)` in double. A zero-norm side gives NaN here, where
    * the Column expression divides by zero: null without ANSI mode, an
    * error with it.
    */
  def cosineSimilarityWide(a: ArrayData, b: ArrayData): Double =
    dot(a, b, wide = true) /
      (math.sqrt(dot(a, a, wide = true)) * math.sqrt(dot(b, b, wide = true)))
}

/** Column-level API. */
object VectorFunctions {
  private def ex(c: Column): Expression = shims.expression(c)
  private def co(e: Expression): Column = shims.column(e)

  /** Squared L2 distance (the reference's `euclidean` metric). */
  def euclideanSq(a: Column, b: Column): Column = co(EuclideanSqDistance(ex(a), ex(b)))

  /** `1 - dot` over normalized vectors (the reference's `cosine` metric). */
  def cosineDistance(a: Column, b: Column): Column = co(CosineDistance(ex(a), ex(b)))

  def dotProduct(a: Column, b: Column): Column = co(DotProduct(ex(a), ex(b)))

  /** Double-accumulated variants — for oracle-parity math. */
  def euclideanSqWide(a: Column, b: Column): Column =
    co(EuclideanSqDistance(ex(a), ex(b), wide = true))
  def dotProductWide(a: Column, b: Column): Column =
    co(DotProduct(ex(a), ex(b), wide = true))

  /** Exact cosine SIMILARITY in double precision: dot/(|a||b|) — matches
    * DuckDB's `list_cosine_similarity` formula for oracle checks.
    */
  def cosineSimilarityWide(a: Column, b: Column): Column =
    dotProductWide(a, b) / (sqrt(dotProductWide(a, a)) * sqrt(dotProductWide(b, b)))

  def normalize(v: Column): Column = co(NormalizeVector(ex(v)))

  /** Engine-independent polynomial string hash (see [[PolyHash]]). */
  def polyHash(s: Column): Column = co(PolyHash(ex(s)))

  /** Distinct word n-gram shingles (see [[WordShingles]]). */
  def wordShingles(s: Column, n: Int): Column = co(WordShingles(ex(s), n))

  /** Packed sign-bit quantization (see [[PackSignBitsExpr]]). */
  def packSignBits(v: Column): Column = co(PackSignBitsExpr(ex(v)))

  /** Hamming distance over packed sign words (see [[HammingPackedExpr]]). */
  def hammingPacked(a: Column, b: Column): Column =
    co(HammingPackedExpr(ex(a), ex(b)))

  /** Hyperplane sign bucket (see [[HyperplaneBucketExpr]]). */
  def hyperplaneBucket(vec: Column, planes: Int): Column =
    co(HyperplaneBucketExpr(ex(vec), planes))

  /** Int8-domain cosine distance: quantized codes + precomputed float norms
    * (see [[Int8CosineDistance]]).
    */
  def int8CosineDistance(codesA: Column, codesB: Column,
                         normA: Column, normB: Column): Column =
    co(Int8CosineDistance(ex(codesA), ex(codesB), ex(normA), ex(normB)))

  /** Distance column for a metric name, as the reference dispatches
    * (`distance_go.go:133-147`). Cosine assumes pre-normalized inputs; use
    * [[cosineDistanceFull]] when inputs are raw.
    */
  def distance(metric: String, a: Column, b: Column): Column = metric match {
    case "euclidean" => euclideanSq(a, b)
    case "cosine"    => cosineDistance(a, b)
    case m => throw new IllegalArgumentException(s"unsupported metric: $m")
  }

  /** Cosine distance over raw (un-normalized) vectors: normalizes both sides
    * first, as the reference does at ingest + query time.
    */
  def cosineDistanceFull(a: Column, b: Column): Column =
    cosineDistance(normalize(a), normalize(b))
}
