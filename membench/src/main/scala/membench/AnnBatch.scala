package membench

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SyntheticVectors
import graft.search.Ivf

/** Batched IVF search at measured recall, the request half of
  * [[BatchJobs]].
  *
  * Each request is one batch of held-out queries against a cached IVF
  * serving index, rotating through the f32, int8 and f16 codecs at a fixed
  * nProbe. One job serves the whole batch, so the scan kernels, the bounded
  * top-k and driver-side probe selection dominate and the per-job floor is
  * amortized; the serving-fusion and streaming layers are not touched.
  */
object AnnBatch {

  final case class Sizes(docs: Int, dim: Int, clusters: Long, centroids: Int,
      batch: Int, batches: Int)

  val Full = Sizes(docs = 48000, dim = 128, clusters = 400, centroids = 200,
    batch = 256, batches = 2)

  val K = 10
  val NProbe = 32
  val Codecs = Vector("f32", "int8", "f16")
  val WarmRequests = 6
  /** Lowest acceptable mean recall@10 per codec at [[NProbe]]. */
  val MinRecall = Map("f32" -> 0.85, "int8" -> 0.8, "f16" -> 0.85)

  private def seedOffset(seed: Long): Long = (seed * 1000003L) % 100000007L

  def corpus(spark: SparkSession, seed: Long, sz: Sizes): DataFrame =
    spark.range(sz.docs).select(col("id"),
      SyntheticVectors.clusteredVec(col("id") + lit(seedOffset(seed)), sz.dim,
        sz.clusters, s"nz-$seed").as("vector"))

  /** Held-out queries: ids past the corpus, same clusters. */
  def queries(spark: SparkSession, seed: Long, sz: Sizes): IndexedSeq[(Long, Array[Float])] =
    spark.range(sz.batch.toLong * sz.batches).select(col("id"),
        SyntheticVectors.clusteredVec(col("id") + lit(10L * sz.docs + seedOffset(seed)),
          sz.dim, sz.clusters, s"q-$seed"))
      .collect().toIndexedSeq.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  final class State(val corpusHash: Long, val cents: Array[Array[Float]],
      val f32: RDD[(Long, Array[Long], Array[Float])],
      val int8: RDD[(Long, Array[Long], Array[Byte], Array[Float])],
      val f16: RDD[(Long, Array[Long], Array[Short])])

  def setup(ctx: Ctx, sz: Sizes): State = {
    val tr = ctx.tracer
    val vecs = corpus(ctx.spark, ctx.seed, sz).cache()
    vecs.count()
    val cents = tr.span("build.kmeans")(Ivf.trainKMeansArrays(vecs, sz.centroids, iters = 3))
    val assigned = tr.span("build.assign") {
      val a = Ivf.assignFast(vecs, cents).cache(); a.count(); a
    }
    val f32 = tr.span("build.serving_index") {
      val s = Ivf.servingIndex(assigned).cache(); s.count(); s
    }
    val int8 = tr.span("build.serving_index_int8") {
      val s = Ivf.servingIndexInt8(assigned, 1.0).cache(); s.count(); s
    }
    val f16 = tr.span("build.serving_index_f16") {
      val s = Ivf.servingIndexF16(assigned).cache(); s.count(); s
    }
    val corpusHash = InputHash.frame(vecs)
    assigned.unpersist(); vecs.unpersist()
    new State(corpusHash, cents, f32, int8, f16)
  }

  /** Exact cosine top-k of every query over the f32 index's vectors. */
  def exactTopK(index: RDD[(Long, Array[Long], Array[Float])],
      qs: IndexedSeq[(Long, Array[Float])], k: Int): Map[Long, Set[Long]] = {
    val bc = index.sparkContext.broadcast(qs.map(_._2).toArray)
    val tops = index.mapPartitions { blocks =>
      val q = bc.value
      val heaps = Array.fill(q.length)(mutable.PriorityQueue.empty[(Double, Long)])
      blocks.foreach { case (_, ids, flat) =>
        val dim = if (ids.isEmpty) 0 else flat.length / ids.length
        var r = 0
        while (r < ids.length) {
          val off = r * dim
          var qi = 0
          while (qi < q.length) {
            val qv = q(qi)
            var dot = 0.0
            var j = 0
            while (j < dim) { dot += qv(j).toDouble * flat(off + j); j += 1 }
            val h = heaps(qi)
            val d = 1.0 - dot
            if (h.size < k) h.enqueue((d, ids(r)))
            else if (d <= h.head._1 && Ordering[(Double, Long)].lt((d, ids(r)), h.head)) {
              h.dequeue(); h.enqueue((d, ids(r)))
            }
            qi += 1
          }
          r += 1
        }
      }
      Iterator.single(heaps.map(_.toArray))
    }.reduce((a, b) => a.zip(b).map { case (x, y) => (x ++ y).sorted.take(k) })
    bc.destroy()
    qs.indices.map(i => qs(i)._1 -> tops(i).sorted.take(k).map(_._2).toSet).toMap
  }

  /** The IVF half of [[BatchJobs]] after set-up: held-out query batches,
    * their exact top-10, and recall bookkeeping per codec.
    */
  final class Part(ctx: Ctx, sz: Sizes, val st: State) {
    private val spark = ctx.spark
    import spark.implicits._
    private val qs = queries(spark, ctx.seed, sz)
    private val batchIds = qs.grouped(sz.batch).toIndexedSeq.map(_.map(_._1))
    private val batches = qs.grouped(sz.batch).toIndexedSeq.map(_.toDF("qid", "qvec"))
    private val exact = exactTopK(st.f32, qs, K)
    private val recall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    def inputHashes: Seq[Long] = Seq(st.corpusHash,
      qs.map { case (q, v) => (q, v.toSeq).hashCode.toLong }.hashCode.toLong)

    /** Request i of the rotation: codec i mod 3, query batch i mod batches. */
    def request(i: Int): Array[(Long, Long)] = {
      val codec = Codecs(i % Codecs.size)
      val q = batches(i % sz.batches)
      val res = codec match {
        case "f32" => Ivf.searchBatchedFast(st.f32, st.cents, q, K, NProbe)
        case "int8" => Ivf.searchBatchedFastInt8(st.int8, st.cents, q, K, NProbe, 1.0)
        case "f16" => Ivf.searchBatchedFastF16(st.f16, st.cents, q, K, NProbe)
      }
      res.select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    }

    def op(i: Int): String = s"search.ivf.${Codecs(i % Codecs.size)}"

    /** Records request i's recall@10 against the exact top-10. */
    def score(i: Int, rows: Array[(Long, Long)]): Unit = {
      val got = rows.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val r = Stats.mean(batchIds(i % sz.batches).map { q =>
        (got.getOrElse(q, Set.empty[Long]) intersect exact(q)).size.toDouble / K
      })
      recall.getOrElseUpdate(Codecs(i % Codecs.size), mutable.ArrayBuffer.empty) += r
    }

    def finish(out: Outcome): Unit = {
      val storage = spark.sparkContext.getRDDStorageInfo
        .map(i => i.id -> (i.memSize + i.diskSize)).toMap
      def mb(r: RDD[_]) = storage.getOrElse(r.id, 0L) / (1024.0 * 1024.0)
      out.layer("search.ivf.f32.resident_mb") = mb(st.f32)
      out.layer("search.ivf.int8.resident_mb") = mb(st.int8)
      out.layer("search.ivf.f16.resident_mb") = mb(st.f16)
      Codecs.foreach { c =>
        val r = Stats.mean(recall(c).toSeq)
        out.layer(s"search.ivf.$c.recall_at_10") = r
        Main.log(f"recall@10 $c = $r%.4f (minimum ${MinRecall(c)})")
        out.check(r >= MinRecall(c), f"recall@10 of $c is $r%.4f, below ${MinRecall(c)}")
      }
    }
  }
}
