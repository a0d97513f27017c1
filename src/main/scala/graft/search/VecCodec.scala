package graft.search

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.search.ServingFusion.{CombinedBlocks, CombinedShard,
  CombinedShardInt8, Shard}

/** The vector layout of a combined serving index — everything that differs
  * between serving a collection's vectors as f32 and in the reference's
  * compressed int8 mode (`DB.Compress`). [[ServingFusion]] and
  * [[graft.streaming.Streams]] write every combined operation (build,
  * append, compact, save/load, fused and MMR serving, streaming ingest,
  * upsert, recovery, compaction and snapshot) once over a codec; the codec
  * owns only:
  *   - the bucket-major payload (`flat` floats, or int8 `codes` + `norms`)
  *     and building it from a build row, a stored row or a resident row;
  *   - the persisted vector columns and snapshot meta fields;
  *   - query preparation plus the per-row distance kernel;
  *   - the MMR pool payload.
  *
  * [[VecCodec.F32]] is implicit, so f32 call sites pass nothing; an int8
  * index passes its [[VecCodec.Int8]], which carries the frozen `absMax`
  * the index was quantized against (re-deriving it per batch would shift
  * every code).
  */
sealed abstract class VecCodec[S <: CombinedBlocks: scala.reflect.ClassTag]
    extends Serializable {

  private[search] def tag: scala.reflect.ClassTag[S] = implicitly

  /** One vector row while a partition accumulates it; also what an MMR
    * pool entry carries.
    */
  private[search] type Vec <: AnyRef

  private[search] def dimOf(v: Vec): Int

  /** A build row's float vector as this codec stores it. */
  private[search] def encode(v: Array[Float]): Vec

  /** A copy of resident vector row `r` of `s`. */
  private[search] def rowOf(s: S, r: Int): Vec

  /** The shard over `rows`, given in bucket-major row order. */
  private[search] def shard(text: Shard, buckets: Array[Long], bOff: Array[Int],
      vecLocal: Array[Int], rows: scala.collection.IndexedSeq[Vec], dim: Int): S

  /** The persisted vector columns, between `_dec` and `_bucket`. */
  private[search] def columns: Seq[StructField]

  private[search] def toColumns(v: Vec): Seq[Any]

  /** A persisted row's vector, its [[columns]] starting at `at`. */
  private[search] def fromColumns(r: Row, at: Int): Vec

  /** Codec scalars the snapshot meta table records (and a load checks). */
  private[search] def meta: Seq[(String, Double)]

  /** Prepare a validated query batch for this codec's kernel. */
  private[search] def prepare(qvecs: Array[Array[Float]], l2: Boolean): VecQueries[S]

  /** A pool entry as the floats [[Mmr.selectLocal]] takes. */
  private[search] def floats(v: Vec): Array[Float]
}

/** A prepared query batch: the per-row distance kernel of one codec. */
private[search] abstract class VecQueries[S] extends Serializable {

  /** Distance from query `qi` to vector row `r` of `s`. */
  def dist(s: S, r: Int, qi: Int): Double
}

object VecCodec {

  /** Plain f32 rows. Cosine is `1 − dot` over normalized vectors; l2 is
    * the squared euclidean `‖x‖² − 2x·q + ‖q‖²`, as
    * [[Ivf.searchBatchedFast]] scores.
    */
  implicit case object F32 extends VecCodec[CombinedShard] {
    private[search] type Vec = Array[Float]

    private[search] def dimOf(v: Vec): Int = v.length

    private[search] def encode(v: Array[Float]): Vec = v

    private[search] def rowOf(s: CombinedShard, r: Int): Vec =
      java.util.Arrays.copyOfRange(s.flat, r * s.dim, (r + 1) * s.dim)

    private[search] def shard(text: Shard, buckets: Array[Long],
        bOff: Array[Int], vecLocal: Array[Int],
        rows: scala.collection.IndexedSeq[Vec], dim: Int): CombinedShard = {
      val flat = new Array[Float](rows.length * dim)
      var r = 0
      while (r < rows.length) {
        System.arraycopy(rows(r), 0, flat, r * dim, dim)
        r += 1
      }
      CombinedShard(text, buckets, bOff, vecLocal, flat, dim)
    }

    private[search] def columns: Seq[StructField] = Seq(
      StructField("_vec", ArrayType(FloatType, containsNull = false),
        nullable = true))

    private[search] def toColumns(v: Vec): Seq[Any] = Seq(v)

    private[search] def fromColumns(r: Row, at: Int): Vec =
      r.getSeq[Float](at).toArray

    private[search] def meta: Seq[(String, Double)] = Nil

    private[search] def prepare(qvecs: Array[Array[Float]],
        l2: Boolean): VecQueries[CombinedShard] =
      new F32Queries(qvecs, if (l2) qvecs.map { qv =>
        var s = 0.0; var j = 0
        while (j < qv.length) { s += qv(j).toDouble * qv(j); j += 1 }
        s
      } else null)

    private[search] def floats(v: Vec): Array[Float] = v
  }

  /** `qsq` is null for cosine. */
  private final class F32Queries(qvecs: Array[Array[Float]], qsq: Array[Double])
      extends VecQueries[CombinedShard] {
    def dist(s: CombinedShard, r: Int, qi: Int): Double = {
      val qv = qvecs(qi)
      val flat = s.flat
      val dim = s.dim
      val off = r * dim
      var dot = 0f
      var j = 0
      while (j < dim) { dot += flat(off + j) * qv(j); j += 1 }
      if (qsq != null) s.rowSq(r).toDouble - 2.0d * dot + qsq(qi)
      else 1.0d - dot
    }
  }

  /** int8 codes ([[Ivf.quantizeArray]] against the frozen `absMax`) plus
    * each row's [[Ivf.int8Norm]]: 4× less resident vector memory. Cosine
    * only, like the reference's int8 mode. Queries are quantized once on
    * the driver; a row scores `1 − clamp(dot/(‖x‖·‖q‖))` with an integer
    * dot, as [[Ivf.searchBatchedFastInt8]] does (a zero-norm side scores
    * 1.0). Pool entries carry codes, and MMR's similarity over raw code
    * values is the int8-domain cosine: the `absMax/127` dequantization
    * factor cancels in `dot/(‖a‖·‖b‖)`.
    */
  final case class Int8(absMax: Double) extends VecCodec[CombinedShardInt8] {
    private[search] type Vec = (Array[Byte], Float)

    private[search] def dimOf(v: Vec): Int = v._1.length

    private[search] def encode(v: Array[Float]): Vec = {
      val q = Ivf.quantizeArray(v, absMax)
      (q, Ivf.int8Norm(q))
    }

    private[search] def rowOf(s: CombinedShardInt8, r: Int): Vec =
      (java.util.Arrays.copyOfRange(s.codes, r * s.dim, (r + 1) * s.dim),
        s.norms(r))

    private[search] def shard(text: Shard, buckets: Array[Long],
        bOff: Array[Int], vecLocal: Array[Int],
        rows: scala.collection.IndexedSeq[Vec], dim: Int): CombinedShardInt8 = {
      val codes = new Array[Byte](rows.length * dim)
      val norms = new Array[Float](rows.length)
      var r = 0
      while (r < rows.length) {
        System.arraycopy(rows(r)._1, 0, codes, r * dim, dim)
        norms(r) = rows(r)._2
        r += 1
      }
      CombinedShardInt8(text, buckets, bOff, vecLocal, codes, norms, dim)
    }

    /** Codes are stored verbatim: a load never re-quantizes. */
    private[search] def columns: Seq[StructField] = Seq(
      StructField("_codes", BinaryType, nullable = true),
      StructField("_norm", FloatType, nullable = true))

    private[search] def toColumns(v: Vec): Seq[Any] =
      Seq(v._1, java.lang.Float.valueOf(v._2))

    private[search] def fromColumns(r: Row, at: Int): Vec =
      (r.getAs[Array[Byte]](at), r.getFloat(at + 1))

    private[search] def meta: Seq[(String, Double)] = Seq("abs_max" -> absMax)

    private[search] def prepare(qvecs: Array[Array[Float]],
        l2: Boolean): VecQueries[CombinedShardInt8] = {
      require(!l2, "metric \"l2\" needs the f32 codec: int8 combined serving " +
        "is cosine-only")
      val qcodes = qvecs.map(Ivf.quantizeArray(_, absMax))
      new Int8Queries(qcodes, qcodes.map(Ivf.int8Norm))
    }

    private[search] def floats(v: Vec): Array[Float] = {
      val c = v._1
      val f = new Array[Float](c.length)
      var j = 0
      while (j < c.length) { f(j) = c(j).toFloat; j += 1 }
      f
    }
  }

  private final class Int8Queries(qcodes: Array[Array[Byte]], qnorms: Array[Float])
      extends VecQueries[CombinedShardInt8] {
    def dist(s: CombinedShardInt8, r: Int, qi: Int): Double = {
      val qc = qcodes(qi)
      val codes = s.codes
      val dim = s.dim
      val off = r * dim
      var dot = 0
      var j = 0
      while (j < dim) { dot += codes(off + j).toInt * qc(j).toInt; j += 1 }
      val norm = s.norms(r)
      val qn = qnorms(qi).toDouble
      if (norm == 0f || qn == 0.0) 1.0
      else {
        var sim = dot.toDouble / (norm.toDouble * qn)
        if (sim > 1.0) sim = 1.0
        if (sim < -1.0) sim = -1.0
        1.0 - sim
      }
    }
  }
}
