package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.FusionQueries
import graft.text.{Analyzer, Bm25}

/** The BM25/fusion serving leg ([[ServingFusion]]) pinned against the
  * plan paths it replaces at serving time: shard-served raw BM25 scores
  * == [[Bm25.searchPostingsBatch]] (the t6_bm25_stored math), and the
  * fused one-pass top-k == [[Fusion.searchWithFusionBatch]] with the
  * same prebuilt legs — decay enabled, vector-only and text-only
  * candidates, zero-token queries. Tolerance 1e-9: the serving pass sums
  * a doc's term scores in sorted query-token order while the plan's
  * aggregate sums in partition order (doc scaladoc).
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

  test("shard-served raw BM25 scores equal the stored-postings plan") {
    val t = table
    val post = Bm25.postings(t, "doc_id", "text")
    val shards = ServingFusion.buildShards(
      t.select(col("doc_id")), post, "doc_id", dec = None, numShards = 3).cache()
    val qt = qTokens(queries).cache()
    val served = ServingFusion.textScores(shards, qt, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val plan = Bm25.searchPostingsBatch(
      t.select(col("doc_id")), post, "doc_id", qt)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(served.keySet === plan.keySet)
    assert(served.nonEmpty)
    served.foreach { case (k, v) =>
      assert(math.abs(v - plan(k)) <= 1e-9 * math.max(1.0, math.abs(v)),
        s"score mismatch at $k: served=$v plan=${plan(k)}")
    }
    shards.unpersist(); qt.unpersist()
  }

  test("fused serving top-k equals searchWithFusionBatch with the same legs") {
    val t = table
    val post = Bm25.postings(t, "doc_id", "text")
    val dec = Fusion.decayFrame(t, "doc_id", params)
    assert(dec.nonEmpty) // memCfg has decay enabled — the test must exercise it
    val shards = ServingFusion.buildShards(
      t.select(col("doc_id")), post, "doc_id", dec, numShards = 3).cache()
    val qs = queries
    val qt = qTokens(qs).cache(); qt.count()

    // Shared vector leg: brute-force top-3 per query (distinct ids) —
    // includes docs 9/10, which have no text hits for any query.
    val vecTop = VectorSearch.topKBatch(
        t.select(col("doc_id"), col("embedding")),
        qs.select(col("qid"),
          array((0 until 4).map(j =>
            (cos(col("qid") * (j + 2)) + lit(1.2)).cast("float")): _*).as("qvec")),
        3, "cosine", "doc_id", "embedding")
      .select(col("qid"), col("doc_id"), col("distance"))
      .localCheckpoint(true)

    val raw = Bm25.searchPostingsBatch(
      t.select(col("doc_id")), post, "doc_id", qt).localCheckpoint(true)
    val plan = Fusion.searchWithFusionBatch(
        t, "doc_id", "embedding", "text", qs, params,
        prebuiltVecTopK = Some(vecTop), prebuiltTextScores = Some(raw))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val served = ServingFusion.fusedTopK(shards, qt, vecTop,
        params.alpha, params.k, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val planByQ = plan.groupBy(_._1)
    val servedByQ = served.groupBy(_._1)
    assert(servedByQ.keySet === planByQ.keySet)
    assert(planByQ.nonEmpty)
    // The plan's aggregate sums in SHUFFLE-FETCH order, which is not
    // deterministic run-to-run — near-tied docs can swap ranks or flip at
    // the k-boundary between the two paths (~1 ulp of jitter). So the
    // comparison is score-principled, not rank-sequence-literal: per-id
    // scores agree within tolerance, and any id present on one side only
    // must sit within tolerance of the other side's k-th score (a
    // boundary near-tie) — exactly the freedom ulp jitter grants, nothing
    // more.
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
    // The zero-token query (qid 3) must fuse to alpha * vscore * dec —
    // vector-only candidates, no text contribution.
    assert(servedByQ(3L).length === 3)
    shards.unpersist(); qt.unpersist()
  }

  test("decay-disabled build defaults every factor to 1.0") {
    val t = table
    val post = Bm25.postings(t, "doc_id", "text")
    val p0 = params.copy(memory = params.memory.copy(enabled = false))
    val shards = ServingFusion.buildShards(
      t.select(col("doc_id")), post, "doc_id",
      Fusion.decayFrame(t, "doc_id", p0), numShards = 2).cache()
    val qt = qTokens(queries)
    val vecTop = Seq((0L, 9L, 0.25), (0L, 10L, 0.5)).toDF("qid", "doc_id", "distance")
    val served = ServingFusion.fusedTopK(shards, qt.filter(col("qid") === 0),
        vecTop, p0.alpha, 4, "doc_id")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    // Docs 9 (no matching tokens) and 10 (no postings at all) score
    // alpha/(1+d) exactly — dec fell back to 1.0 through the build.
    assert(math.abs(served(9L) - 0.6 / 1.25) <= 1e-12)
    assert(math.abs(served(10L) - 0.6 / 1.5) <= 1e-12)
    shards.unpersist()
  }

  test("fused serving rejects k below 1 before any scan") {
    val t = table
    val shards = ServingFusion.buildShards(t.select(col("doc_id")),
      Bm25.postings(t, "doc_id", "text"), "doc_id", dec = None, numShards = 2)
    val vecTop = Seq((0L, 9L, 0.25)).toDF("qid", "doc_id", "distance")
    val qt = Seq((0L, "spark", 1L)).toDF("qid", "token", "qn")
    for (k <- Seq(0, -1))
      assert(intercept[IllegalArgumentException](ServingFusion.fusedTopK(
        shards, qt, vecTop, params.alpha, k, "doc_id")).getMessage
        .contains(s"fusedTopK: k = $k, must be at least 1"))
  }
}
