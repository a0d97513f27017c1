package graft.search

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions._

/** Brute-force oracle property check, mirroring the reference's
  * `clients/python/stress_test_recall.py` (NumPy exact neighbors) and
  * `pkg/core/distance/distance_test.go` cross-checks.
  */
class VectorSearchSpec extends SparkSpec {

  private val dim = 16
  private val n = 200
  private lazy val rnd = new scala.util.Random(42)
  private lazy val data: Seq[(Long, Array[Float])] =
    (0L until n).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))

  private lazy val df = {
    import spark.implicits._
    data.toDF("id", "vector")
  }

  private def bruteForce(q: Array[Float], k: Int, metric: String): Seq[Long] = {
    def distE(a: Array[Float], b: Array[Float]): Double = {
      var s = 0f; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s.toDouble
    }
    def norm(a: Array[Float]): Array[Float] = {
      var s = 0f; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      if (s == 0f) a else { val inv = (1.0 / math.sqrt(s.toDouble)).toFloat; a.map(_ * inv) }
    }
    def distC(a: Array[Float], b: Array[Float]): Double = {
      val (x, y) = (norm(a), norm(b))
      var s = 0f; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      1.0 - s.toDouble
    }
    val d: (Array[Float], Array[Float]) => Double =
      if (metric == "euclidean") distE else distC
    data.map { case (id, v) => (id, d(v, q)) }
      .sortBy { case (id, dist) => (dist, id) }.take(k).map(_._1)
  }

  test("topK euclidean matches brute force") {
    val q = data(7)._2
    val got = VectorSearch.topK(df, q.toSeq, 10, "euclidean")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteForce(q, 10, "euclidean"))
  }

  test("topK cosine (normalize-at-query) matches brute force") {
    val q = data(3)._2
    val got = VectorSearch.topK(df, q.toSeq, 10, "cosine")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteForce(q, 10, "cosine"))
  }

  test("topKBatch matches per-query topK") {
    import spark.implicits._
    val queries = Seq((0L, data(0)._2), (5L, data(5)._2), (9L, data(9)._2))
      .toDF("qid", "qvec")
    val got = VectorSearch.topKBatch(df, queries, 5, "euclidean")
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, rows) => q -> rows.sortBy(_._3).map(_._2).toSeq }
    for ((qid, expect) <- Seq(0L, 5L, 9L).map(q => q -> bruteForce(data(q.toInt)._2, 5, "euclidean")))
      assert(got(qid) == expect, s"qid=$qid")
  }

  test("filtered topK respects allow-list before scoring") {
    val q = data(0)._2
    val got = VectorSearch.topK(df, q.toSeq, 5, "euclidean",
        filter = Some(col("id") % 2 === 0))
      .select("id").collect().map(_.getLong(0)).toSeq
    val expect = data.filter(_._1 % 2 == 0).map { case (id, v) =>
      var s = 0f; var i = 0
      while (i < v.length) { val d = v(i) - q(i); s += d * d; i += 1 }
      (id, s.toDouble)
    }.sortBy { case (id, dist) => (dist, id) }.take(5).map(_._1)
    assert(got == expect)
  }

  test("distance kernels: squared L2, cosine = 1 - dot, float accumulation") {
    import spark.implicits._
    val two = Seq((Array(1f, 2f, 3f), Array(2f, 4f, 6f))).toDF("a", "b")
    val row = two.select(
      euclideanSq(col("a"), col("b")),
      dotProduct(col("a"), col("b")),
      cosineDistance(normalize(col("a")), normalize(col("b")))).head
    assert(row.getDouble(0) == (1f * 1f + 2f * 2f + 3f * 3f).toDouble)
    assert(row.getDouble(1) == (2f + 8f + 18f).toDouble)
    assert(math.abs(row.getDouble(2)) < 1e-6) // parallel vectors
  }

  test("normalize: zero vector passes through (hnsw_index.go:3023)") {
    import spark.implicits._
    val z = Seq(Tuple1(Array(0f, 0f))).toDF("v")
      .select(normalize(col("v"))).head.getSeq[Float](0)
    assert(z == Seq(0f, 0f))
  }

  test("batch knn ranks via partial bounded-top-k aggregate (no sort)") {
    import spark.implicits._
    val queries = Seq((0L, data(0)._2)).toDF("qid", "qvec")
    val plan = VectorSearch.topKBatch(df, queries, 5, "euclidean")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_by_distance"),
      s"plan missing partial top-k aggregate:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("WindowGroupLimit"))
  }

  test("binary quantization: pack/hamming kernels exact; self-match ranks first") {
    import graft.functions.VectorFunctions
    import spark.implicits._

    // Kernel ground truth on a hand-packed pattern: dims 0,33,63 positive
    // → word0 bit0, word1 bits 1 and 31.
    val v = Array.tabulate(64)(i => if (i == 0 || i == 33 || i == 63) 1f else -1f)
    val packed = Seq(Tuple1(v)).toDF("v")
      .select(VectorFunctions.packSignBits(col("v")).as("s"))
      .collect()(0).getSeq[Long](0)
    assert(packed == Seq(1L, (1L << 1) | (1L << 31)))

    val ham = Seq((v, Array.fill(64)(-1f))).toDF("a", "b")
      .select(VectorFunctions.hammingPacked(
        VectorFunctions.packSignBits(col("a")),
        VectorFunctions.packSignBits(col("b"))).as("h"))
      .collect()(0).getInt(0)
    assert(ham == 3)

    // Self-match: each query is in the table, Hamming 0 to itself, exact
    // distance 0 → rank 1 for its own id.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = VectorSearch.binaryTopKBatch(emb, q, k = 10, rerank = 50,
        idCol = "vec_id", vecCol = "embedding")
      .filter(col("rank") === 1).collect()
    assert(top.length == 5)
    top.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("binary serving path (primitive blocks + treeReduce) equals distributed path") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val idx = VectorSearch.servingIndexBinary(emb, "vec_id", "embedding")
    val fast = VectorSearch.searchBatchedFastBinary(idx, emb, q,
      k = 10, rerank = 50, idCol = "vec_id", vecCol = "embedding")
    val dist = VectorSearch.binaryTopKBatch(emb, q, k = 10, rerank = 50,
      idCol = "vec_id", vecCol = "embedding")
    // Both stages tie-break by id, so the candidate sets — and therefore
    // the reranked results — are bit-identical.
    assert(fast.exceptAll(dist).isEmpty && dist.exceptAll(fast).isEmpty)
    assert(fast.count() == 50)
  }

  test("pairFilter mines hard negatives: no same-label or self results") {
    import spark.implicits._
    val emb = data.toDF("id", "vector")
      .withColumn("label", (col("id") % 3).cast("int"))
    val q = emb.filter(col("id") < 4)
      .select(col("id").as("qid"), col("vector").as("qvec"),
        col("label").as("qlabel"))
    val out = VectorSearch.topKBatch(emb, q, k = 7, metric = "cosine",
        idCol = "id", vecCol = "vector", wide = true,
        pairFilter = Some(col("label") =!= col("qlabel") &&
          col("id") =!= col("qid")))
      .collect()
    assert(out.length === 4 * 7)
    out.foreach { r =>
      val qid = r.getAs[Long]("qid"); val id = r.getAs[Long]("id")
      assert(id != qid)
      assert(id % 3 != qid % 3, s"same label leaked: q=$qid id=$id")
    }
    // rank 1 per query is the true nearest among different-label candidates
    val byQ = out.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("id")).toMap
    byQ.foreach { case (qid, got) =>
      val qv = data(qid.toInt)._2
      val expected = data.filter { case (i, _) => i != qid && i % 3 != qid % 3 }
        .minBy { case (i, v) =>
          val dot = v.lazyZip(qv).map(_.toDouble * _.toDouble).sum
          val n = (a: Array[Float]) => math.sqrt(a.map(x => x.toDouble * x).sum)
          (1.0 - dot / (n(v) * n(qv)), i)
        }._1
      assert(got === expected, s"q=$qid")
    }
  }

  /** A 64-d binary serving index (two sign words per vector), cached. */
  private lazy val binIndex64 = {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val idx = VectorSearch.servingIndexBinary(
      (0L until 40L).map(i => (i, Array.fill(64)(r.nextFloat() - 0.5f)))
        .toDF("id", "vector"))
    idx.cache(); idx.count()
    idx
  }

  private def binQueries(qs: (Long, Array[Float])*) = {
    import spark.implicits._
    qs.toDF("qid", "qvec")
  }

  test("binary serving rejects rerank below 1 before any scan") {
    val q = binQueries((7L, Array.fill(64)(0.5f)))
    for (r <- Seq(0, -1))
      assert(intercept[IllegalArgumentException](
        VectorSearch.binaryServingCandidates(binIndex64, q, r)).getMessage
        .contains(s"binaryServingCandidates: rerank = $r, must be at least 1"))
  }

  test("binary serving rejects a null query vector on the driver") {
    val q = binQueries((7L, null: Array[Float]))
    assert(intercept[IllegalArgumentException](
      VectorSearch.binaryServingCandidates(binIndex64, q, 3)).getMessage
      .contains("binaryServingCandidates: query 7 has no query vector"))
  }

  // 4 dims pack one word (the scan used to read past it), 200 pack seven
  // (the scan used to score their first two).
  for ((dim, words) <- Seq((4, 1), (200, 7)))
    test(s"binary serving rejects a $dim-d query on a 64-d index") {
      val q = binQueries((7L, Array.fill(dim)(0.5f)))
      val e = intercept[Exception](
        VectorSearch.binaryServingCandidates(binIndex64, q, 3).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains(
        s"binaryServingCandidates: query 7 packs $words sign words, the index 2"),
        msgs)
    }
}
