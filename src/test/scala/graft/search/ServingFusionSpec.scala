package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.FusionQueries
import graft.text.{Analyzer, Bm25}

/** Combined hybrid serving ([[ServingFusion.fusedTopKCombined]]) pinned
  * against the DataFrame plan it serves at query time:
  * [[Fusion.searchWithFusionBatchPlan]] given the same IVF vector leg
  * ([[Ivf.searchBatchedFast]] as `prebuiltVecTopK`) — decay enabled and
  * disabled, vector-only and text-only candidates, a zero-token query, and
  * `k` at corpus size so every text hit is compared. Tolerance 1e-9: the
  * serving pass sums a doc's term scores in sorted query-token order while
  * the plan's aggregate sums in shuffle order.
  */
class ServingFusionSpec extends SparkSpec {
  import spark.implicits._

  private val Corpus = Seq(
    // (doc_id, text) — overlapping vocabulary so queries hit several
    // docs with different tf/df mixes; doc 9 has no query-token overlap;
    // doc 10 is empty (no postings at all, still needs a decay factor).
    (0L, "spark shuffle join plan spark"),
    (1L, "join order and broadcast join"),
    (2L, "window agg stream state"),
    (3L, "vector scan filter scan scan"),
    (4L, "hash join probe build side"),
    (5L, "plan codegen stage whole"),
    (6L, "stream window watermark late"),
    (7L, "filter pushdown scan parquet"),
    (8L, "broadcast plan shuffle exchange"),
    (9L, "zebra quokka lemur"),
    (10L, ""))

  /** Corpus frame with embeddings + the decay metadata columns the
    * fused plan reads.
    */
  private def table: DataFrame = {
    val base = FusionQueries.Now.toDouble - 86400.0
    Corpus.toDF("doc_id", "text")
      .withColumn("embedding",
        array((0 until 4).map(j =>
          (sin(col("doc_id") * (j + 1)) + lit(1.5)).cast("float")): _*))
      .withColumn("_created_at", lit(base) - col("doc_id") * 3600.0)
      .withColumn("_last_accessed", lit(base) - col("doc_id") * 1800.0)
      .withColumn("_pinned", col("doc_id") % 5 === 0)
      .withColumn("memory_layer",
        element_at(array(lit("episodic"), lit("semantic"), lit("procedural")),
          (col("doc_id") % 3 + 1).cast("int")))
      .withColumn("_decay_model",
        element_at(array(lit("exponential"), lit("linear"), lit("step"),
          lit("ebbinghaus")), (col("doc_id") % 4 + 1).cast("int")))
      .withColumn("_access_count", (col("doc_id") % 4).cast("double"))
  }

  private def queries: DataFrame = Seq(
    (0L, "spark join plan"),
    (1L, "scan filter"),
    (2L, "broadcast join join"),   // duplicated token: qn = 2
    (3L, "the and of"),            // all stopwords -> zero tokens
    (4L, "window stream state watermark"))
    .toDF("qid", "qtext")

  private def qTokens(qs: DataFrame): DataFrame =
    Analyzer.tokensDF(qs.select(col("qid"), col("qtext")), "qtext", "english")
      .groupBy(col("qid"), col("token")).agg(count(lit(1)).as("qn"))

  private val params = Fusion.FusionParams(alpha = 0.6, k = 4,
    metric = "cosine", memory = FusionQueries.memCfg, now = FusionQueries.Now)

  /** Queries with the vectors both legs use: (qid, qtext, qvec). */
  private def queriesWithVec: DataFrame =
    queries.withColumn("qvec", array((0 until 4).map(j =>
      (cos(col("qid") * (j + 2)) + lit(1.2)).cast("float")): _*))

  /** Served and plan rows `(qid, doc_id, score)` for one fusion setting:
    * a combined index over normalized vectors, and the plan fed that
    * index's IVF leg (`kVec` per query) as its `prebuiltVecTopK`. Also
    * returns the vector leg `(qid, doc_id, distance)`.
    */
  private def servedAndPlan(p: Fusion.FusionParams, kVec: Int = 3): (
      Array[(Long, Long, Double)], Array[(Long, Long, Double)],
      Array[(Long, Long, Double)]) = {
    import graft.functions.VectorFunctions
    val t = table
    val post = Bm25.postings(t, "doc_id", "text")
    val tableN = t.select(col("doc_id").cast("long").as("id"),
      VectorFunctions.normalize(col("embedding")).as("vector"))
    val cents = Ivf.trainKMeansArrays(tableN, 3, iters = 2)
    val assigned = Ivf.assignFast(tableN, cents).cache()
    val serving = Ivf.servingIndex(assigned).cache()
    serving.count()
    val qs = queriesWithVec
    val qsN = qs.select(col("qid"),
      VectorFunctions.normalize(col("qvec")).as("qvec")).cache()
    val qt = qTokens(qs).cache()
    val vecTop = Ivf.searchBatchedFast(serving, cents, qsN, k = kVec,
        nProbe = 2)
      .select(col("qid"), col("id").as("doc_id"), col("distance"))
      .localCheckpoint(true)
    val plan = Fusion.searchWithFusionBatchPlan(
        t, "doc_id", "embedding", "text", qs, p,
        prebuiltVecTopK = Some(vecTop))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val combined = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      Fusion.decayFrame(t, "doc_id", p), numShards = 3).cache()
    combined.count()
    val served = ServingFusion.fusedTopKCombined(combined, cents,
      ServingFusion.collectServedQueries(qsN, qt), p.alpha, p.k, nProbe = 2,
      kVec = kVec)
    val vec = vecTop.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    combined.unpersist(); serving.unpersist(); assigned.unpersist()
    qsN.unpersist(); qt.unpersist()
    (served, plan, vec)
  }

  /** Per query, served scores equal the plan's within 1e-9. The plan's
    * aggregate sums in SHUFFLE-FETCH order, which is not deterministic
    * run-to-run — near-tied docs can swap ranks or flip at the k-boundary
    * between the two paths (~1 ulp of jitter). So the comparison is
    * score-principled, not rank-sequence-literal: per-id scores agree
    * within tolerance, and any id present on one side only must sit within
    * tolerance of the other side's k-th score (a boundary near-tie) —
    * exactly the freedom ulp jitter grants, nothing more.
    */
  private def assertMatchesPlan(served: Array[(Long, Long, Double)],
      plan: Array[(Long, Long, Double)]): Unit = {
    val planByQ = plan.groupBy(_._1)
    val servedByQ = served.groupBy(_._1)
    assert(servedByQ.keySet === planByQ.keySet)
    assert(planByQ.nonEmpty)
    def tol(x: Double): Double = 1e-9 * math.max(1.0, math.abs(x))
    servedByQ.foreach { case (qid, sRows) =>
      val pMap = planByQ(qid).map(r => r._2 -> r._3).toMap
      val sMap = sRows.map(r => r._2 -> r._3).toMap
      assert(sMap.size === pMap.size, s"qid=$qid sizes: ${sMap.size} vs ${pMap.size}")
      for ((id, s) <- sMap; p <- pMap.get(id))
        assert(math.abs(s - p) <= tol(p), s"qid=$qid id=$id: served=$s plan=$p")
      val pMin = pMap.values.min
      val sMin = sMap.values.min
      for (id <- sMap.keySet.diff(pMap.keySet))
        assert(math.abs(sMap(id) - pMin) <= tol(pMin),
          s"qid=$qid served-only id=$id score=${sMap(id)} not at plan k-th $pMin")
      for (id <- pMap.keySet.diff(sMap.keySet))
        assert(math.abs(pMap(id) - sMin) <= tol(sMin),
          s"qid=$qid plan-only id=$id score=${pMap(id)} not at served k-th $sMin")
    }
  }

  test("fused serving top-k equals searchWithFusionBatch with the same legs") {
    assert(Fusion.decayFrame(table, "doc_id", params).nonEmpty) // decay on
    val (served, plan, _) = servedAndPlan(params)
    assertMatchesPlan(served, plan)
    // The zero-token query (qid 3) fuses to alpha * vscore * dec — its
    // three vector-only candidates, no text contribution.
    assert(served.count(_._1 == 3L) === 3)
  }

  test("with k at corpus size every text hit scores like the plan") {
    val kAll = Corpus.length
    val (served, plan, _) = servedAndPlan(params.copy(k = kAll))
    assertMatchesPlan(served, plan)
    def idsByQ(rows: Array[(Long, Long, Double)]): Map[Long, Set[Long]] =
      rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val servedIds = idsByQ(served)
    assert(servedIds === idsByQ(plan))
    // Every raw BM25 hit of the stored-postings plan is among them.
    val t = table
    val hits = Bm25.searchPostingsBatch(t.select(col("doc_id")),
        Bm25.postings(t, "doc_id", "text"), "doc_id", qTokens(queries))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.nonEmpty)
    hits.foreach { case (q, id) =>
      assert(servedIds(q).contains(id), s"qid=$q text hit $id not served")
    }
  }

  test("decay-disabled build defaults every factor to 1.0") {
    val p0 = params.copy(memory = params.memory.copy(enabled = false))
    assert(Fusion.decayFrame(table, "doc_id", p0).isEmpty)
    val (served, plan, vec) = servedAndPlan(p0)
    assertMatchesPlan(served, plan)
    // The zero-token query's candidates (qid 3) are vector-only, so each
    // scores alpha/(1+d) exactly — the factor fell back to 1.0.
    val dist = vec.filter(_._1 == 3L).map(r => r._2 -> r._3).toMap
    val q3 = served.filter(_._1 == 3L)
    assert(q3.length === 3)
    q3.foreach { case (_, id, score) =>
      assert(math.abs(score - p0.alpha / (1.0 + dist(id))) <= 1e-12,
        s"id=$id score=$score distance=${dist(id)}")
    }
  }
}
