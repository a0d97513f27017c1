package graft.search

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product quantization: encoding invariants, ADC exactness on codebook
  * members, and the recall story — raw ADC on trained codebooks finds most
  * true neighbors, and exact rerank over the ADC candidates repairs the
  * rest. Clustered synthetic data (true neighbors share a cluster) so
  * recall is meaningful, not vacuous.
  */
class PqSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 32
  private val m = 4
  private val subDim = 8

  /** 40 clusters × 25 members; member j of cluster c perturbs the cluster
    * center deterministically — nearest neighbors are in-cluster.
    */
  private lazy val emb = {
    val rows = for {
      c <- 0 until 40
      j <- 0 until 25
    } yield {
      val id = (c * 25 + j).toLong
      val v = Array.tabulate(dim) { d =>
        val base = math.sin(c * 131 + d * 17).toFloat * 5f
        val noise = math.sin(id * 31 + d * 7).toFloat * 0.3f
        base + noise
      }
      (id, v)
    }
    rows.toDF("id", "vector").cache()
  }

  private def exactTopK(k: Int, qids: Seq[Long]) = {
    val q = emb.filter(col("id").isin(qids: _*))
      .select(col("id").as("qid"), col("vector").as("qvec"))
    emb.crossJoin(broadcast(q))
      .withColumn("d", graft.functions.VectorFunctions
        .euclideanSqWide(col("vector"), col("qvec")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("d"), col("id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"))
      .as[(Long, Long)].collect().groupBy(_._1).map { case (q2, a) =>
        q2 -> a.map(_._2).toSet }
  }

  /** Trained codebooks: per-sub-space KMeans over the sub-vectors (the
    * scale path; the oracle query uses the sample protocol instead).
    */
  private def trainedCodebook(nCodes: Int, nSub: Int, sd: Int) = {
    val frames = (0 until nSub).map { sub =>
      val svs = emb.select(col("id"),
        slice(col("vector"), sub * sd + 1, sd).as("vector"))
      val cents = Ivf.trainKMeansArrays(svs, nCodes, iters = 4, metric = "l2")
      cents.zipWithIndex.map { case (c, i) => (sub, i, c) }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(frames.flatten.toSeq, 2))
      .toDF("sub", "code", "cvec")
  }

  test("encode: m codes per vector, all within the codebook range") {
    val cb = Pq.sampleCodebook(emb, "id", "vector", m, subDim, nCodes = 16)
    val enc = Pq.encode(emb, cb, "id", "vector", m, subDim)
    val rows = enc.select(col("id"), col("codes")).as[(Long, Seq[Int])].collect()
    assert(rows.length === 1000)
    assert(rows.forall(_._2.length == m))
    assert(rows.forall(_._2.forall(c => c >= 0 && c < 16)))
    // Codebook-source vectors quantize to themselves with zero error.
    val self = rows.find(_._1 == 3L).get
    assert(self._2 === Seq(3, 3, 3, 3))
  }

  test("ADC distance is zero for a query identical to a codebook source") {
    val cb = Pq.sampleCodebook(emb, "id", "vector", m, subDim, nCodes = 16)
    val enc = Pq.encode(emb, cb, "id", "vector", m, subDim)
    val q = emb.filter(col("id") === 3L)
      .select(col("id").as("qid"), col("vector").as("qvec"))
    val top = Pq.adcSearch(enc, cb, q, k = 3, m, subDim, nCodes = 16)
      .orderBy(col("rank")).as[(Long, Long, Double, Int)].collect()
    assert(top.head._2 === 3L && top.head._3 === 0.0)
  }

  test("trained-codebook ADC finds half the neighbors; rerank repairs to ≥ 0.95") {
    // m=8 sub-spaces of 4 dims = 8 B per vector, 16× compression at dim
    // 32. Raw ADC recall ~0.5 at this code budget matches published PQ
    // behavior — ADC is the CANDIDATE GENERATOR; the exact rerank over its
    // top-R is what serves, touching f32 vectors for R ids only.
    val m = 8
    val subDim = 4
    val nCodes = 32
    val cb = trainedCodebook(nCodes, m, subDim).cache()
    val enc = Pq.encode(emb, cb, "id", "vector", m, subDim).cache()
    val qids = (0L until 1000L by 53L).toSeq
    val truth = exactTopK(10, qids)
    val q = emb.filter(col("id").isin(qids: _*))
      .select(col("id").as("qid"), col("vector").as("qvec"))

    val adc = Pq.adcSearch(enc, cb, q, k = 10, m, subDim, nCodes)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q2, a) => q2 -> a.map(_._2).toSet }
    val adcRecall = qids.map(q2 =>
      (truth(q2) intersect adc(q2)).size / 10.0).sum / qids.size
    assert(adcRecall >= 0.45, s"raw ADC recall@10 = $adcRecall")

    val rr = Pq.adcSearchRerank(enc, cb, q, emb, "id", "vector",
        k = 10, rerankR = 50, m, subDim, nCodes)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q2, a) => q2 -> a.map(_._2).toSet }
    val rrRecall = qids.map(q2 =>
      (truth(q2) intersect rr(q2)).size / 10.0).sum / qids.size
    assert(rrRecall >= 0.95, s"reranked recall@10 = $rrRecall (ADC $adcRecall)")
  }

  test("residual PQ with a lossless codebook reproduces exact distances") {
    // v = cents[bucket] + residual. If every residual sub-vector IS a
    // codebook entry, ADC over residual codes is algebraically the exact
    // ||q − v||² — so the residual path, probing ALL buckets, must
    // reproduce brute-force k-NN ids exactly. This pins encode (argmin
    // finds the zero-error code), the per-(query, bucket) LUT, and the
    // scan in one assertion.
    val small = emb.filter(col("id") < 200).cache()
    val centRows = small.filter(col("id") % 40 === 0).orderBy(col("id"))
      .select(col("vector")).as[Array[Float]].collect()
    val assigned = Ivf.assignFast(small, centRows, metric = "l2").cache()
    // Lossless codebook: every row's residual sub-vector, per sub-space.
    val resid = Pq.residuals(assigned, centRows).orderBy(col("id"))
      .select(col("vector")).as[Array[Float]].collect()
    val cbArrays = Array.tabulate(m) { s =>
      resid.map(_.slice(s * subDim, (s + 1) * subDim))
    }
    val index = Pq.servingIndexPqResidual(assigned, centRows, cbArrays)
    val q = small.filter(col("id").isin(13L, 77L))
      .select(col("id").as("qid"), col("vector").as("qvec"))
    val adc = Pq.searchBatchedFastPqResidual(index, centRows, cbArrays, q,
        k = 5, nProbe = centRows.length)
      .select(col("qid"), col("id"), col("distance"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (qq, a) =>
        qq -> a.sortBy(t => (t._3, t._2)).map(_._2).toSeq }
    val truth = {
      val rows = small.select(col("id"), col("vector"))
        .as[(Long, Array[Float])].collect()
      Seq(13L, 77L).map { qid =>
        val qv = rows.find(_._1 == qid).get._2
        qid -> rows.map { case (id, v) =>
          var d = 0.0; var j = 0
          while (j < v.length) {
            val x = v(j).toDouble - qv(j); d += x * x; j += 1
          }
          (d, id)
        }.sortBy(t => (t._1, t._2)).take(5).map(_._2).toSeq
      }.toMap
    }
    assert(adc(13L) == truth(13L), s"${adc(13L)} vs ${truth(13L)}")
    assert(adc(77L) == truth(77L), s"${adc(77L)} vs ${truth(77L)}")
    small.unpersist(); assigned.unpersist()
  }
}
