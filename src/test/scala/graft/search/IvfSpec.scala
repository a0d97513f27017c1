package graft.search

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** IVF ANN properties mirrored from the reference's recall oracle
  * (`clients/python/stress_test_recall.py`: exact neighbors vs index
  * results, average recall must clear a bar).
  */
class IvfSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf())
    .select(col("vec_id").cast("long").as("id"), col("embedding").as("vector"))

  private lazy val queries = emb.filter(col("id") < 20)
    .select(col("id").as("qid"), col("vector").as("qvec"))

  test("full probe (nProbe = numCentroids) reproduces exact top-k") {
    val cents = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("cid"), col("vector").as("cvec"))
    val assigned = Ivf.assign(emb, cents)
    val nCents = cents.count().toInt
    val approx = Ivf.search(assigned, cents, queries, k = 10, nProbe = nCents)
    val exact = VectorSearch.topKBatch(emb, queries, k = 10, metric = "cosine",
      idCol = "id", vecCol = "vector", wide = true)
    assert(Ivf.recallAt(approx, exact, 10) === 1.0)
  }

  test("KMeans IVF with nProbe=8/16 reaches recall@10 >= 0.9") {
    val cents = Ivf.trainKMeans(emb, k = 16, iters = 3)
    val assigned = Ivf.assign(emb, cents)
    val approx = Ivf.search(assigned, cents, queries, k = 10, nProbe = 8)
    val exact = VectorSearch.topKBatch(emb, queries, k = 10, metric = "cosine",
      idCol = "id", vecCol = "vector", wide = true)
    val recall = Ivf.recallAt(approx, exact, 10)
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("every vector lands in exactly one bucket") {
    val cents = Ivf.trainKMeans(emb, k = 8, iters = 2)
    val assigned = Ivf.assign(emb, cents)
    assert(assigned.count() === emb.count())
    assert(assigned.select("id").distinct().count() === emb.count())
    val buckets = assigned.select("bucket").distinct().collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 1 && b <= 8))
  }

  test("fast serving paths agree with the DataFrame plan (ids per rank)") {
    // Normalized corpus: the fast paths assume cosine over normalized
    // vectors, like the reference's ingest-time normalization.
    import graft.functions.VectorFunctions
    val nemb = emb.select(col("id"), VectorFunctions.normalize(col("vector")).as("vector"))
    val nq = nemb.filter(col("id") < 20)
      .select(col("id").as("qid"), col("vector").as("qvec"))
    val cents = Ivf.trainKMeansArrays(nemb, k = 16, iters = 2)
    val centsDF = Ivf.centroidsDF(spark, cents)
    val assigned = Ivf.assignFast(nemb, cents)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rank"), col("id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaPlan = Ivf.search(assigned, centsDF, nq, k = 5, nProbe = 4,
      normalized = true)
    val viaLocal = Ivf.searchBatchedLocal(assigned, cents, nq, k = 5, nProbe = 4)
    val viaFast = Ivf.searchBatchedFast(Ivf.servingIndex(assigned), cents, nq,
      k = 5, nProbe = 4)
    assert(key(viaLocal) == key(viaPlan))
    assert(key(viaFast) == key(viaPlan))
  }

  test("compressed (int8) serving path: deterministic, high agreement with float") {
    import graft.functions.VectorFunctions
    val nemb = emb.select(col("id"), VectorFunctions.normalize(col("vector")).as("vector"))
    val nq = nemb.filter(col("id") < 20)
      .select(col("id").as("qid"), col("vector").as("qvec"))
    val cents = Ivf.trainKMeansArrays(nemb, k = 16, iters = 2)
    val assigned = Ivf.assignFast(nemb, cents)
    val am = Quantizer.train(nemb, "vector", idCol = "id")
      .collect().head.getDouble(0)
    val idx = Ivf.servingIndexInt8(assigned, am)
    def run() = Ivf.searchBatchedFastInt8(idx, cents, nq, k = 5, nProbe = 8,
      absMax = am)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rank"), col("id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val a = key(run())
    assert(a == key(run()), "int8 serving path must be deterministic")
    // Agreement with the float path: quantization may swap near-ties but
    // the id overlap must stay high (the reference's Compress recall story).
    val floatIds = Ivf.searchBatchedFast(Ivf.servingIndex(assigned), cents, nq,
        k = 5, nProbe = 8)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val int8Ids = a.map { case (q, _, i) => (q, i) }
    val overlap = int8Ids.intersect(floatIds).size.toDouble / floatIds.size
    assert(overlap >= 0.8, s"int8/float agreement $overlap")
  }

  test("l2 metric: full probe reproduces exact top-k; fast path agrees with plan") {
    // Raw (unnormalized) vectors — L2 must not assume unit norms.
    val cents = Ivf.trainKMeansArrays(emb, k = 16, iters = 2, metric = "l2")
    val centsDF = Ivf.centroidsDF(spark, cents)
    val assigned = Ivf.assignFast(emb, cents, metric = "l2")
    val exact = VectorSearch.topKBatch(emb, queries, k = 10, metric = "euclidean",
      idCol = "id", vecCol = "vector", wide = true)
    val full = Ivf.search(assigned, centsDF, queries, k = 10, nProbe = 16,
      metric = "l2")
    assert(Ivf.recallAt(full, exact, 10) === 1.0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rank"), col("id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaPlan = Ivf.search(assigned, centsDF, queries, k = 5, nProbe = 4,
      metric = "l2")
    val viaFast = Ivf.searchBatchedFast(Ivf.servingIndex(assigned), cents,
      queries, k = 5, nProbe = 4, metric = "l2")
    assert(key(viaFast) == key(viaPlan))
  }

  test("query-tiled kernels: batch sizes off the tile boundary agree with the plan") {
    // The serving scans process probing queries in tiles of 4 with a
    // scalar remainder loop; 7 cosine / 5 L2 queries force every bucket's
    // probing list through a tile AND a 1-3-query remainder. Full probe so
    // every query hits every bucket (probing lists of exactly 7 / 5).
    import graft.functions.VectorFunctions
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rank"), col("id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val nemb = emb.select(col("id"), VectorFunctions.normalize(col("vector")).as("vector"))
    val nq7 = nemb.filter(col("id") < 7)
      .select(col("id").as("qid"), col("vector").as("qvec"))
    val centsC = Ivf.trainKMeansArrays(nemb, k = 8, iters = 2)
    val assignedC = Ivf.assignFast(nemb, centsC)
    assert(key(Ivf.searchBatchedFast(Ivf.servingIndex(assignedC), centsC, nq7,
        k = 5, nProbe = 8)) ==
      key(Ivf.search(assignedC, Ivf.centroidsDF(spark, centsC), nq7, k = 5,
        nProbe = 8, normalized = true)))
    val q5 = queries.filter(col("qid") < 5)
    val centsL = Ivf.trainKMeansArrays(emb, k = 8, iters = 2, metric = "l2")
    val assignedL = Ivf.assignFast(emb, centsL, metric = "l2")
    assert(key(Ivf.searchBatchedFast(Ivf.servingIndex(assignedL), centsL, q5,
        k = 5, nProbe = 8, metric = "l2")) ==
      key(Ivf.search(assignedL, Ivf.centroidsDF(spark, centsL), q5, k = 5,
        nProbe = 8, metric = "l2")))
  }

  test("query-tiled int8/f16 kernels: off-boundary batch equals per-query singles") {
    // A 6-query batch exercises one 4-tile + a 2-query remainder; each
    // 1-query batch runs the scalar remainder loop only. Equality pins
    // that no tile lane reads another query's codes/norms (scores are
    // bit-deterministic on both sides, so the comparison is exact).
    import graft.functions.VectorFunctions
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rank"), col("id"), col("distance")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val nemb = emb.select(col("id"), VectorFunctions.normalize(col("vector")).as("vector"))
    val q6 = nemb.filter(col("id") < 6)
      .select(col("id").as("qid"), col("vector").as("qvec")).cache()
    val centsC = Ivf.trainKMeansArrays(nemb, k = 8, iters = 2)
    val assignedC = Ivf.assignFast(nemb, centsC)
    val am = Quantizer.train(nemb, "vector", idCol = "id").collect().head.getDouble(0)
    val idx8 = Ivf.servingIndexInt8(assignedC, am)
    val batch8 = rows(Ivf.searchBatchedFastInt8(idx8, centsC, q6, k = 5,
      nProbe = 8, absMax = am))
    val singles8 = (0L until 6L).flatMap { q =>
      rows(Ivf.searchBatchedFastInt8(idx8, centsC, q6.filter(col("qid") === q),
        k = 5, nProbe = 8, absMax = am))
    }.toSet
    assert(batch8 == singles8)
    val q6l2 = emb.filter(col("id") < 6)
      .select(col("id").as("qid"), col("vector").as("qvec")).cache()
    val centsL = Ivf.trainKMeansArrays(emb, k = 8, iters = 2, metric = "l2")
    val idx16 = Ivf.servingIndexF16(Ivf.assignFast(emb, centsL, metric = "l2"))
    val batch16 = rows(Ivf.searchBatchedFastF16(idx16, centsL, q6l2, k = 5,
      nProbe = 8))
    val singles16 = (0L until 6L).flatMap { q =>
      rows(Ivf.searchBatchedFastF16(idx16, centsL,
        q6l2.filter(col("qid") === q), k = 5, nProbe = 8))
    }.toSet
    assert(batch16 == singles16)
  }

  test("f16 serving path: high agreement with float; matches the f16 kernel plan") {
    // Reference Float16 precision mode backs the index (euclidean-only —
    // distance_go.go:139-141): same probes as the float path, candidates
    // ranked by the f16 diff² formula over the packed blocks.
    import graft.functions.F16
    val cents = Ivf.trainKMeansArrays(emb, k = 16, iters = 2, metric = "l2")
    val assigned = Ivf.assignFast(emb, cents, metric = "l2")
    val exact = VectorSearch.topKBatch(emb, queries, k = 10, metric = "euclidean",
      idCol = "id", vecCol = "vector", wide = true)
    val f16Full = Ivf.searchBatchedFastF16(Ivf.servingIndexF16(assigned), cents,
      queries, k = 10, nProbe = 16)
    // Full probe: only f16 rounding separates it from exact — recall stays
    // near-perfect on real embeddings.
    val recall = Ivf.recallAt(f16Full, exact, 10)
    assert(recall >= 0.95, s"f16 full-probe recall@10 = $recall")

    // Arithmetic parity with the DataFrame f16 kernel (float accumulation,
    // same sequential loop): distances must match BIT-FOR-BIT on the probed
    // candidates, so ids-per-rank agree exactly.
    val qdf = queries.filter(col("qid") === 7)
      .select(col("qid"), col("qvec"))
    val servedOne = Ivf.searchBatchedFastF16(Ivf.servingIndexF16(assigned),
      cents, qdf, k = 5, nProbe = 16)
      .select(col("id"), col("distance")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val q16 = qdf.select(F16.pack(col("qvec")).as("qf16"))
    val viaKernel = assigned
      .crossJoin(broadcast(q16))
      .withColumn("distance",
        F16.euclideanSq(F16.pack(col("vector")), col("qf16")))
      .orderBy(col("distance"), col("id")).limit(5)
      .select(col("id"), col("distance")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(servedOne == viaKernel, s"served=$servedOne kernel=$viaKernel")
  }

  test("l2 assignment minimizes true squared distance (spot check)") {
    val cents = Ivf.trainKMeansArrays(emb, k = 8, iters = 2, metric = "l2")
    val assigned = Ivf.assignFast(emb, cents, metric = "l2")
      .filter(col("id") < 50).collect()
    assigned.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val b = r.getLong(2).toInt
      def d2(c: Array[Float]): Double = {
        var s = 0.0; var j = 0
        while (j < c.length) { val d = c(j) - v(j); s += d * d; j += 1 }
        s
      }
      val chosen = d2(cents(b))
      val best = cents.map(d2).min
      assert(chosen <= best + 1e-3, s"id=${r.getLong(0)} bucket=$b")
    }
  }

  test("single-query frames are detected and rank without any window") {
    // VERDICT r06 #1: a literal qid constant-folds out of a qid-partitioned
    // window, leaving a single-partition WindowExec funnel. Both
    // single-query shapes must take the orderBy/limit path instead — and
    // return exactly what the batched path returns for that query.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windowExecs(df: org.apache.spark.sql.DataFrame): Seq[WindowExec] = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
      def walk(p: SparkPlan): Unit = {
        acc += p
        p match { case a: AdaptiveSparkPlanExec => walk(a.executedPlan); case _ => () }
        p.children.foreach(walk); p.subqueries.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      acc.collect { case w: WindowExec => w }.toSeq
    }

    val litQ = emb.filter(col("id") === 3)
      .select(lit(0L).as("qid"), col("vector").as("qvec"))   // foldable qid
    val oneRowQ = spark.range(1).toDF("qid")
      .crossJoin(emb.filter(col("id") === 3).limit(1).select(col("vector").as("qvec")))
    assert(Ivf.isSingleQuery(litQ) && Ivf.isSingleQuery(oneRowQ))
    assert(!Ivf.isSingleQuery(queries))                       // 20 real qids

    val cents = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("cid"), col("vector").as("cvec"))
    val assigned = Ivf.assign(emb, cents)
    val single = Ivf.search(assigned, cents, litQ, k = 10, nProbe = 2)
    assert(windowExecs(single).isEmpty,
      "single-query IVF search must not plan any window")

    // Same answers as the batched path restricted to this query.
    val batched = Ivf.search(assigned, cents,
        queries.filter(col("qid") === 3), k = 10, nProbe = 2)
      .select(col("id"), col("distance"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    val got = single.select(col("id"), col("distance"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    assert(got == batched, s"single=$got batched=$batched")
  }

  test("search never returns a vector from an unprobed bucket") {
    val cents = emb.filter(col("id") % 100 === 0)
      .select(col("id").as("cid"), col("vector").as("cvec"))
    val assigned = Ivf.assign(emb, cents)
    val res = Ivf.search(assigned, cents, queries, k = 10, nProbe = 1)
    // With nProbe=1 every result must share the query's own best bucket.
    val withBucket = res.join(assigned.select(col("id"), col("bucket")), Seq("id"))
    val qBucket = Ivf.assign(
      queries.select(col("qid").as("id"), col("qvec").as("vector")), cents)
      .select(col("id").as("qid"), col("bucket").as("qbucket"))
    val bad = withBucket.join(qBucket, Seq("qid"))
      .filter(col("bucket") =!= col("qbucket")).count()
    assert(bad === 0)
  }

  /** A small local corpus (40 4-d vectors, 4 centroids) and its f32, int8
    * and f16 serving indexes, cached. Local query frames collect without a
    * job, so a search's only broadcasts are its own.
    */
  private lazy val small = {
    val s = spark
    import s.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * 1.3 + j * 0.7).toFloat))
    }
    val cents = Array.tabulate(4)(c => vecs(c * 10)._2)
    val assigned = Ivf.assignFast(vecs.toDF("id", "vector"), cents).cache()
    def cached[T](r: org.apache.spark.rdd.RDD[T]) = { r.cache(); r.count(); r }
    (cents, assigned, cached(Ivf.servingIndex(assigned)),
      cached(Ivf.servingIndexInt8(assigned, 1.0)),
      cached(Ivf.servingIndexF16(assigned)))
  }

  private def localQueries(qs: (Long, Array[Float])*) = {
    val s = spark
    import s.implicits._
    qs.toDF("qid", "qvec")
  }

  private val codecSearches
      : Seq[(String, org.apache.spark.sql.DataFrame => Any)] = Seq(
    "f32" -> (q => Ivf.searchBatchedFast(small._3, small._1, q, k = 3,
      nProbe = 2)),
    "int8" -> (q => Ivf.searchBatchedFastInt8(small._4, small._1, q, k = 3,
      nProbe = 2, absMax = 1.0)),
    "f16" -> (q => Ivf.searchBatchedFastF16(small._5, small._1, q, k = 3,
      nProbe = 2)))

  for ((codec, search) <- codecSearches)
    test(s"$codec batched search rejects a null or wrong-length query vector") {
      def rejected(q: org.apache.spark.sql.DataFrame): String =
        intercept[IllegalArgumentException](search(q)).getMessage
      for (dim <- Seq(3, 5))
        assert(rejected(localQueries((7L, Array.fill(dim)(0.5f))))
          .contains(s"query 7 has $dim dimensions, the centroids 4"))
      assert(rejected(localQueries((7L, null: Array[Float])))
        .contains("query 7 has no query vector"))
    }

  test("f32 batched search rejects a metric other than cosine or l2") {
    val (cents, _, f32, _, _) = small
    val q = localQueries((7L, Array.fill(4)(0.5f)))
    for (m <- Seq("euclidean", "dot", "L2"))
      assert(intercept[IllegalArgumentException](Ivf.searchBatchedFast(f32,
        cents, q, k = 3, nProbe = 2, metric = m)).getMessage
        .contains(s"unknown metric '$m'"))
  }

  test("batched searches destroy their query broadcast") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val (cents, assigned, _, _, _) = small
    val sc = spark.sparkContext
    val q = localQueries((1L, Array(0.1f, 0.9f, -0.3f, 0.2f)),
      (2L, Array(-0.5f, 0.4f, 0.6f, -0.1f)))
    // m = 2 sub-spaces of 2 dims, 4 codes each.
    val cb = Array.tabulate(2, 4)((s, c) => Array(c * 0.1f - s, s * 0.2f))
    val pq = Pq.servingIndexPqResidual(assigned, cents, cb).cache()
    val bin = VectorSearch.servingIndexBinary(assigned).cache()
    pq.count(); bin.count()
    val searches = codecSearches ++ Seq[(String, org.apache.spark.sql.DataFrame => Any)](
      "residual pq" -> (q => Pq.searchBatchedFastPqResidual(pq, cents, cb, q,
        k = 3, nProbe = 2)),
      "binary" -> (q => VectorSearch.binaryServingCandidates(bin, q,
        rerank = 3)))
    for ((name, search) <- searches) {
      val before = org.apache.spark.TestBroadcasts.live(sc)
      search(q)
      eventually(timeout(10.seconds), interval(50.millis)) {
        val left = org.apache.spark.TestBroadcasts.live(sc) -- before
        assert(left.isEmpty, s"$name left broadcasts $left")
      }
    }
    pq.unpersist(); bin.unpersist()
  }

  test("batched searches reject k below 1 before any scan") {
    val (cents, assigned, f32, int8, f16) = small
    val cb = Array.tabulate(2, 4)((s, c) => Array(c * 0.1f - s, s * 0.2f))
    val pq = Pq.servingIndexPqResidual(assigned, cents, cb)
    val q = localQueries((7L, Array.fill(4)(0.5f)))
    val searches: Seq[(String, Int => Any)] = Seq(
      "searchBatchedFast" -> (k => Ivf.searchBatchedFast(f32, cents, q, k, 2)),
      "searchBatchedFastInt8" -> (k => Ivf.searchBatchedFastInt8(int8, cents,
        q, k, 2, absMax = 1.0)),
      "searchBatchedFastF16" -> (k => Ivf.searchBatchedFastF16(f16, cents, q,
        k, 2)),
      "searchBatchedFastPqResidual" -> (k => Pq.searchBatchedFastPqResidual(pq,
        cents, cb, q, k, 2)))
    for ((op, search) <- searches; k <- Seq(0, -1)) {
      val (msg, jobs) = graft.JobCount(spark)(
        intercept[IllegalArgumentException](search(k)).getMessage)
      assert(msg.contains(s"$op: k = $k, must be at least 1"), msg)
      assert(jobs === 0, op)
    }
  }

  test("batched searches reject nProbe below 1 before any scan") {
    val (cents, assigned, f32, int8, f16) = small
    val cb = Array.tabulate(2, 4)((s, c) => Array(c * 0.1f - s, s * 0.2f))
    val pq = Pq.servingIndexPqResidual(assigned, cents, cb)
    val q = localQueries((7L, Array.fill(4)(0.5f)))
    val searches: Seq[(String, Int => Any)] = Seq(
      "searchBatchedFast" -> (np => Ivf.searchBatchedFast(f32, cents, q, 3, np)),
      "searchBatchedFastInt8" -> (np => Ivf.searchBatchedFastInt8(int8, cents,
        q, 3, np, absMax = 1.0)),
      "searchBatchedFastF16" -> (np => Ivf.searchBatchedFastF16(f16, cents, q,
        3, np)),
      "searchBatchedFastPqResidual" -> (np => Pq.searchBatchedFastPqResidual(
        pq, cents, cb, q, 3, np)),
      "searchBatchedLocal" -> (np => Ivf.searchBatchedLocal(assigned, cents,
        q, 3, np)))
    for ((op, search) <- searches; np <- Seq(0, -1)) {
      val (msg, jobs) = graft.JobCount(spark)(
        intercept[IllegalArgumentException](search(np)).getMessage)
      assert(msg.contains(s"$op: nProbe = $np, must be at least 1"), msg)
      assert(jobs === 0, op)
    }
  }
}
