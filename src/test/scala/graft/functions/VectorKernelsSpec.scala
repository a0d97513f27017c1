package graft.functions

import scala.util.Random

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

import graft.SparkSpec

/** [[VectorKernels]] — the plain-value twins the one-pass batch fusion
  * scores with — pinned bit-for-bit against the Column expressions they
  * mirror, evaluated by generated code over a real scan.
  */
class VectorKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** Vector pairs of dims 1–9 over a value grid with exact zeros,
    * negatives, tiny and large components. No zero vector: wide cosine
    * divides by the norms.
    */
  private val pairs: Seq[(Long, Array[Float], Array[Float])] = {
    val values = Array(-3.25f, -1f, -0.3f, 0f, 1e-3f, 0.1f, 0.7f, 1f, 2.5f, 1e4f)
    val rng = new Random(11)
    def vec(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(values(rng.nextInt(values.length)))
      if (v.forall(_ == 0f)) v(0) = 0.5f
      v
    }
    (0 until 600).map { i =>
      val dim = 1 + i % 9
      (i.toLong, vec(dim), vec(dim))
    }
  }

  test("kernel twins equal their Column expressions bit for bit on a grid") {
    // No Column helper builds the wide cosine distance; build the kernel.
    val cosineWide = shims.column(CosineDistance(shims.expression(col("a")),
      shims.expression(col("b")), wide = true))
    val got = pairs.toDF("i", "a", "b").repartition(3)
      .select(col("i"),
        VectorFunctions.euclideanSq(col("a"), col("b")),
        VectorFunctions.euclideanSqWide(col("a"), col("b")),
        VectorFunctions.cosineDistance(col("a"), col("b")),
        cosineWide,
        VectorFunctions.dotProduct(col("a"), col("b")),
        VectorFunctions.dotProductWide(col("a"), col("b")),
        VectorFunctions.cosineSimilarityWide(col("a"), col("b")))
      .collect()
    assert(got.length === pairs.length)
    got.foreach { r =>
      val (_, a0, b0) = pairs(r.getLong(0).toInt)
      val a = ArrayData.toArrayData(a0)
      val b = ArrayData.toArrayData(b0)
      val want = Seq(
        VectorKernels.euclideanSq(a, b, wide = false),
        VectorKernels.euclideanSq(a, b, wide = true),
        VectorKernels.cosineDistance(a, b, wide = false),
        VectorKernels.cosineDistance(a, b, wide = true),
        VectorKernels.dot(a, b, wide = false),
        VectorKernels.dot(a, b, wide = true),
        VectorKernels.cosineSimilarityWide(a, b))
      want.zipWithIndex.foreach { case (w, j) =>
        val c = r.getDouble(j + 1)
        assert(java.lang.Double.doubleToRawLongBits(c) ===
          java.lang.Double.doubleToRawLongBits(w),
          s"pair ${r.getLong(0)} kernel $j: column $c vs twin $w")
      }
    }
  }

  test("twins reject vectors of different lengths like the kernels") {
    val e = intercept[IllegalArgumentException](VectorKernels.dot(
      ArrayData.toArrayData(Array(1f, 2f)), ArrayData.toArrayData(Array(1f)),
      wide = false))
    assert(e.getMessage.contains("same length"))
  }
}
