package graft.search

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.search.Decay.MemoryConfig

/** Mirrors the reference's `decay_models_test.go` / `memory_layer_test.go`
  * semantics and checks fusion math end-to-end.
  */
class DecayFusionSpec extends SparkSpec {

  private val hl = 604800.0 // 7 days
  private val cfg = MemoryConfig(enabled = true, halfLifeSeconds = hl,
    model = "exponential",
    layers = Map("episodic" -> hl, "semantic" -> 4.0 * hl, "procedural" -> 0.0))

  private def factorFor(createdAgo: Double, model: String = "exponential",
                        accessCount: Int = 0, pinned: Boolean = false,
                        layer: String = "episodic",
                        lastAccessedAgo: Option[Double] = None): Double = {
    import spark.implicits._
    val now = 2000000000.0
    val df = Seq((now - createdAgo, lastAccessedAgo.map(now - _),
        pinned, layer, model, accessCount))
      .toDF("created", "accessed", "pinned", "layer", "model", "ac")
    df.select(Decay.factor(cfg, lit(now), col("created"),
        col("accessed").cast("double"), col("pinned"), col("layer"),
        col("model"), col("ac")).as("f"))
      .head().getDouble(0)
  }

  test("exponential: age == half-life halves the score") {
    assert(math.abs(factorFor(hl) - 0.5) < 1e-12)
    assert(math.abs(factorFor(2 * hl) - 0.25) < 1e-12)
  }

  test("linear decay clamps at zero") {
    assert(math.abs(factorFor(hl / 2, "linear") - 0.5) < 1e-12)
    assert(factorFor(3 * hl, "linear") == 0.0)
  }

  test("step: cliff at half-life") {
    assert(factorFor(hl - 1, "step") == 1.0)
    assert(factorFor(hl + 1, "step") == 0.0)
  }

  test("ebbinghaus: reinforcement slows decay") {
    val fresh = factorFor(hl, "ebbinghaus", accessCount = 0)
    val reinforced = factorFor(hl, "ebbinghaus", accessCount = 10)
    assert(reinforced > fresh)
    assert(math.abs(fresh - math.exp(-1.0)) < 1e-12) // S = hl*(1+ln 1) = hl
  }

  test("pinned rows skip decay") {
    assert(factorFor(100 * hl, pinned = true) == 1.0)
  }

  test("future/zero reference time → no decay (ops.go:1144-1153)") {
    assert(factorFor(-3600) == 1.0) // created in the future
  }

  test("last_accessed overrides created_at when newer") {
    val f = factorFor(10 * hl, lastAccessedAgo = Some(hl))
    assert(math.abs(f - 0.5) < 1e-12)
  }

  test("per-layer half-life; procedural (hl=0) never decays") {
    assert(factorFor(4 * hl, layer = "semantic") == factorFor(hl, layer = "episodic"))
    assert(factorFor(100 * hl, layer = "procedural") == 1.0)
  }

  test("unknown model falls back to exponential") {
    assert(factorFor(hl, model = "banana") == factorFor(hl, "exponential"))
  }

  test("fusion: alpha weighting and full-outer semantics") {
    import spark.implicits._
    // 3 docs; doc 1 strong vector match, doc 3 strong text match.
    val table = Seq(
      (1L, Array(1f, 0f), "alpha beta"),
      (2L, Array(0.9f, 0.1f), "gamma delta"),
      (3L, Array(0f, 1f), "searchterm searchterm searchterm")
    ).toDF("id", "vector", "text")
    val qvec = Seq(Tuple1(Array(1f, 0f))).toDF("qvec")
    val res = Fusion.searchWithFusionDF(table, "id", "vector", "text",
        Some(qvec), "searchterm",
        Fusion.FusionParams(alpha = 0.5, k = 3, metric = "cosine"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc1: vscore = 1/(1+0) = 1, tscore 0 → 0.5
    assert(math.abs(res(1L) - 0.5) < 1e-9)
    // doc3: vector distance 1 → vscore 0.5 (in top-3), tscore 1 (max) → 0.75
    assert(math.abs(res(3L) - (0.5 * 0.5 + 0.5 * 1.0)) < 1e-9)
  }

  test("fusion: text-only path returns raw BM25 scores") {
    import spark.implicits._
    val table = Seq(
      (1L, Array(0f, 0f), "foo bar"),
      (2L, Array(0f, 0f), "foo foo baz")
    ).toDF("id", "vector", "text")
    val viaFusion = Fusion.searchWithFusionDF(table, "id", "vector", "text",
        None, "foo", Fusion.FusionParams(k = 2))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val direct = graft.text.Bm25.search(table, "id", "text", "foo")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaFusion == direct)
  }

  test("fusion: index-served vector branch equals scan; filter/allowList apply") {
    import spark.implicits._
    val table = Seq(
      (1L, Array(1f, 0f), "alpha beta", "a"),
      (2L, Array(0.9f, 0.1f), "gamma delta", "b"),
      (3L, Array(0f, 1f), "searchterm searchterm searchterm", "a")
    ).toDF("id", "vector", "text", "tag")
    val qdf = spark.range(1)
      .select(lit(Array(1f, 0f)).cast("array<float>").as("qvec"))
    val params = Fusion.FusionParams(alpha = 0.5, k = 3, metric = "cosine",
      wide = true)
    val scan = Fusion.searchWithFusionDF(table, "id", "vector", "text",
      Some(qdf), "searchterm", params)

    // Prebuilt candidates = the exact per-table top-k the scan computes.
    val topk = table.select(col("id"),
        VectorSearch.distCol("cosine", col("vector"),
          lit(Array(1f, 0f)).cast("array<float>"), wide = true).as("distance"))
      .orderBy(col("distance"), col("id")).limit(3)
    val served = Fusion.searchWithFusionDF(table, "id", "vector", "text",
      None, "searchterm", params, prebuiltVecTopK = Some(topk))
    val a = scan.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val b = served.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9, s"doc $k") }

    // Metadata filter semi-joins the candidate ids: doc 1 (tag a) keeps its
    // vscore, doc 2 (tag b) is excluded from the vector branch.
    val filtered = Fusion.searchWithFusionDF(table, "id", "vector", "text",
        None, "searchterm", params, filter = Some(col("tag") === "a"),
        prebuiltVecTopK = Some(topk))
      .collect().map(r => r.getLong(0)).toSet
    assert(filtered.contains(1L) && !filtered.contains(2L))

    // Allow-list restricts the vector branch the same way.
    val allowed = Fusion.searchWithFusionDF(table, "id", "vector", "text",
        None, "searchterm", params,
        allowList = Some(Seq(3L).toDF("id")),
        prebuiltVecTopK = Some(topk))
      .collect().map(r => r.getLong(0)).toSet
    assert(allowed == Set(3L))
  }

  test("fusion: duplicate ids in prebuiltVecTopK fail loudly (contract guard)") {
    import spark.implicits._
    val table = Seq(
      (1L, Array(1f, 0f), "alpha beta"),
      (2L, Array(0f, 1f), "searchterm searchterm")
    ).toDF("id", "vector", "text")
    // A multi-query top-k whose qid column was dropped: id 1 appears twice.
    val dupes = Seq((1L, 0.0), (1L, 0.2), (2L, 0.5)).toDF("id", "distance")
    val ex = intercept[Exception] {
      Fusion.searchWithFusionDF(table, "id", "vector", "text",
          None, "searchterm",
          Fusion.FusionParams(alpha = 0.5, k = 3, metric = "cosine"),
          prebuiltVecTopK = Some(dupes))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("distinct ids")), ex.toString)
  }
}
