package graft.memory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.VectorFunctions
import graft.graph.GraphOps

/** Epistemic belief assessment — reference `VBeliefState`
  * (`pkg/engine/epistemic.go:22-184`) and the three pillar calculations
  * (`pkg/engine/epistemic_types.go:126-283`).
  *
  * One aggregation job over the k-NN candidate set:
  *   - Consensus (vector density): centroid + variance vs max pairwise
  *     distance — `1 - min(variance / maxVar², 1)`;
  *   - Stability (temporal): decay-model average over node ages, with
  *     access count extending the ebbinghaus half-life;
  *   - Friction (topological): incoming `contradicts` (×0.20) and
  *     `invalidates` (×0.50) edges across the candidates;
  *   - Confidence = weighted sum, clamped to [0,1]; state machine at
  *     crystallized ≥ 0.85 / volatile ≤ 0.40 / contested / stable
  *     (`epistemic_types.go:256-283`, defaults `:31-46`).
  *
  * Scale shape: the candidate set is k ≤ 50 rows (persisted once), so the
  * centroid/pairwise/decay math is a handful of tiny aggregations; the only
  * large-input stages are the initial top-k scan (TakeOrderedAndProject —
  * per-partition top-k, no full shuffle) and the friction edge count, which
  * is a semi-join of `edges` against k ids (broadcast).
  */
object Epistemic {

  final case class Weights(
      consensus: Double = 0.40, stability: Double = 0.30, friction: Double = 0.30)
  final case class Thresholds(crystallized: Double = 0.85, volatile: Double = 0.40)

  val ContradictionWeight = 0.20
  val InvalidationWeight = 0.50
  /** 30 days in seconds — the base half-life (`epistemic_types.go:200`). */
  val BaseHalfLife: Double = 30.0 * 24 * 3600

  /** Double-precision dot over double arrays (higher-order fn: fine on k-row
    * inputs; the hot full-scan path uses the codegen kernels instead).
    */
  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Clamped cosine distance (`epistemic_types.go` CosineDistance): zero
    * norms → max distance 1; similarity clamped to [0,1] before 1-sim.
    */
  def clampedCosDist(a: Column, b: Column): Column = {
    val na = dotD(a, a)
    val nb = dotD(b, b)
    when(na === 0.0 || nb === 0.0, lit(1.0))
      .otherwise(lit(1.0) -
        greatest(lit(0.0), least(lit(1.0), dotD(a, b) / (sqrt(na) * sqrt(nb)))))
  }

  /** Materialize a small, caller-bounded result (one row per seed) into a
    * local relation so the persisted candidate frame can be released before
    * returning — no cached RDD outlives the call (VERDICT r03 leak). The
    * collect is bounded by the seed count, which is broadcast by contract.
    */
  private def materialized(df: DataFrame): DataFrame =
    graft.core.Local.materialized(df)

  /** Per-node decay stability (`CalculateStability`, `epistemic_types.go:182`).
    * `age` in seconds; ebbinghaus extends the half-life by access count.
    */
  def stabilityCol(model: String, age: Column, accessCount: Column): Column =
    model match {
      case "ebbinghaus" =>
        exp(-age / (lit(BaseHalfLife) * (lit(1.0) + log1p(accessCount.cast("double")))))
      case "linear" => greatest(lit(0.0), lit(1.0) - age / lit(BaseHalfLife))
      case _        => pow(lit(2.0), -age / lit(BaseHalfLife)) // exponential
    }

  /** H6 — full belief assessment. `nodes` needs (id, vector, created_at,
    * access_count, is_historical); `edges` needs (dst, rel, created_at,
    * deleted_at) with dst joinable to id. Returns one row.
    */
  def beliefState(
      nodes: DataFrame,
      edges: DataFrame,
      queryVecDF: DataFrame,
      k: Int,
      now: Double,
      w: Weights = Weights(),
      th: Thresholds = Thresholds(),
      decayModel: String = "ebbinghaus"): DataFrame = {

    // Step 1-2: top-k by exact cosine, then drop historical (obsolete
    // evolved versions must not skew the score — epistemic.go:104-117).
    val cand = nodes
      .crossJoin(broadcast(queryVecDF.select(col("qvec"))))
      .withColumn("d",
        lit(1.0) - VectorFunctions.cosineSimilarityWide(col("vector"), col("qvec")))
      .orderBy(col("d"), col("id"))
      .limit(k)
      .filter(!col("is_historical"))
      .select(col("id"), col("vector").cast("array<double>").as("v"),
        col("created_at"), col("access_count"))
      .persist()

    // Pillar 1 — consensus.
    val centroid = cand.select(posexplode(col("v")))
      .groupBy("pos").agg(avg(col("col")).as("c"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("centroid"))
    val varAgg = cand.crossJoin(broadcast(centroid))
      .withColumn("dc", clampedCosDist(col("v"), col("centroid")))
      .agg(avg(col("dc") * col("dc")).as("variance"), count(lit(1)).as("n"))
    val a = cand.alias("a")
    val b = cand.alias("b")
    val pairAgg = a.join(b, col("a.id") < col("b.id"))
      .agg(max(clampedCosDist(col("a.v"), col("b.v"))).as("maxvar"))
    val consensus = varAgg.crossJoin(pairAgg)
      .withColumn("consensus",
        when(col("n") === 1, lit(1.0))
          .when(coalesce(col("maxvar"), lit(0.0)) < 1e-10, lit(1.0))
          .otherwise(lit(1.0) -
            least(col("variance") / (col("maxvar") * col("maxvar")), lit(1.0))))

    // Pillar 2 — stability.
    val stab = cand
      .withColumn("age", lit(now) - col("created_at"))
      .agg(avg(stabilityCol(decayModel, col("age"), col("access_count")))
        .as("stability"),
        avg(col("age") / lit(86400.0)).as("avg_age_days"))

    // Pillar 3 — friction (incoming negative edges, active now).
    val activeNeg = edges.filter(
      col("rel").isin("contradicts", "invalidates") &&
        col("created_at") <= now &&
        (col("deleted_at").isNull || col("deleted_at") > now))
    val fric = activeNeg
      .join(broadcast(cand.select(col("id"))), activeNeg("dst") === col("id"))
      .agg(
        sum(when(col("rel") === "contradicts", 1L).otherwise(0L)).as("contradictions"),
        sum(when(col("rel") === "invalidates", 1L).otherwise(0L)).as("invalidations"))
      .select(coalesce(col("contradictions"), lit(0L)).as("contradictions"),
        coalesce(col("invalidations"), lit(0L)).as("invalidations"))
      .withColumn("friction", greatest(lit(0.0),
        lit(1.0) - col("contradictions") * ContradictionWeight -
          col("invalidations") * InvalidationWeight))

    // Steps 6-7: confidence + state machine.
    val out = consensus.crossJoin(stab).crossJoin(fric)
      .withColumn("confidence", greatest(lit(0.0), least(lit(1.0),
        col("consensus") * w.consensus + col("stability") * w.stability +
          col("friction") * w.friction)))
      .withColumn("state",
        when((col("contradictions") > 0 || col("invalidations") > 0) &&
          col("confidence") < th.crystallized, lit("contested"))
          .when(col("confidence") >= th.crystallized, lit("crystallized"))
          .when(col("confidence") <= th.volatile, lit("volatile"))
          .otherwise(lit("stable")))
      .select(col("n").as("n_sources"), col("consensus"), col("variance"),
        col("stability"), col("avg_age_days"), col("friction"),
        col("contradictions"), col("invalidations"), col("confidence"),
        col("state"))
    val result = materialized(out)
    cand.unpersist(blocking = false)
    result
  }

  /** C12 (deterministic core) — BATCHED belief assessment: the per-seed
    * pillars of [[beliefState]] computed for a whole seed set in ONE plan.
    * The reference loops `VBeliefState` per reflection
    * (`resolveVolatileBeliefs`, gardener.go:3277); here every stage is a
    * window/groupBy keyed by seed, so assessing 10 or 10 million beliefs is
    * the same job shape. Returns one row per seed with confidence, state,
    * and the resolution action (volatile → consolidate, contested →
    * escalate, else none).
    */
  def beliefStateBatch(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame, // (seed, qvec)
      k: Int,
      now: Double,
      w: Weights = Weights(),
      th: Thresholds = Thresholds()): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val cand = nodes.crossJoin(broadcast(seeds))
      .withColumn("d",
        lit(1.0) - VectorFunctions.cosineSimilarityWide(col("vector"), col("qvec")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("seed").orderBy(col("d"), col("id"))))
      .filter(col("rn") <= k && !col("is_historical"))
      .select(col("seed"), col("id"), col("vector").cast("array<double>").as("v"),
        col("created_at"), col("access_count"))
      .persist()

    val centroid = cand.select(col("seed"), posexplode(col("v")))
      .groupBy("seed", "pos").agg(avg(col("col")).as("c"))
      .groupBy("seed")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("centroid"))
    val varAgg = cand.join(centroid, Seq("seed"))
      .withColumn("dc", clampedCosDist(col("v"), col("centroid")))
      .groupBy("seed").agg(avg(col("dc") * col("dc")).as("variance"),
        count(lit(1)).as("n"))
    val pairAgg = cand.alias("a")
      .join(cand.alias("b"),
        col("a.seed") === col("b.seed") && col("a.id") < col("b.id"))
      .groupBy(col("a.seed").as("seed"))
      .agg(max(clampedCosDist(col("a.v"), col("b.v"))).as("maxvar"))
    val stab = cand.withColumn("age", lit(now) - col("created_at"))
      .groupBy("seed")
      .agg(avg(stabilityCol("ebbinghaus", col("age"), col("access_count")))
        .as("stability"))
    val activeNeg = edges.filter(
      col("rel").isin("contradicts", "invalidates") &&
        col("created_at") <= now &&
        (col("deleted_at").isNull || col("deleted_at") > now))
    val fric = cand.select(col("seed"), col("id"))
      .join(activeNeg, cand("id") === activeNeg("dst"), "left")
      .groupBy("seed")
      .agg(sum(when(col("rel") === "contradicts", 1L).otherwise(0L)).as("contradictions"),
        sum(when(col("rel") === "invalidates", 1L).otherwise(0L)).as("invalidations"))
      .withColumn("friction", greatest(lit(0.0),
        lit(1.0) - col("contradictions") * ContradictionWeight -
          col("invalidations") * InvalidationWeight))

    val out = varAgg
      .join(pairAgg, Seq("seed"), "left")
      .join(stab, Seq("seed"))
      .join(fric, Seq("seed"))
      .withColumn("consensus",
        when(col("n") === 1, lit(1.0))
          .when(coalesce(col("maxvar"), lit(0.0)) < 1e-10, lit(1.0))
          .otherwise(lit(1.0) -
            least(col("variance") / (col("maxvar") * col("maxvar")), lit(1.0))))
      .withColumn("confidence", greatest(lit(0.0), least(lit(1.0),
        col("consensus") * w.consensus + col("stability") * w.stability +
          col("friction") * w.friction)))
      .withColumn("state",
        when((col("contradictions") > 0 || col("invalidations") > 0) &&
          col("confidence") < th.crystallized, lit("contested"))
          .when(col("confidence") >= th.crystallized, lit("crystallized"))
          .when(col("confidence") <= th.volatile, lit("volatile"))
          .otherwise(lit("stable")))
      .withColumn("action",
        when(col("state") === "volatile", "consolidate")
          .when(col("state") === "contested", "escalate")
          .otherwise("none"))
    val result = materialized(out)
    cand.unpersist(blocking = false)
    result
  }

  /** H7 — per-node friction: the effect of `invalidates`/`contradicts`
    * in-edges (`CalculateFriction` applied per target). Feeding new
    * invalidation edges in (`POST /graph/actions/invalidate`) lowers the
    * target's friction score on the next read.
    */
  def frictionPerNode(edges: DataFrame, now: Double): DataFrame =
    edges.filter(
      col("rel").isin("contradicts", "invalidates") &&
        col("created_at") <= now &&
        (col("deleted_at").isNull || col("deleted_at") > now))
      .groupBy(col("dst"))
      .agg(
        sum(when(col("rel") === "contradicts", 1L).otherwise(0L)).as("contradictions"),
        sum(when(col("rel") === "invalidates", 1L).otherwise(0L)).as("invalidations"))
      .withColumn("friction", greatest(lit(0.0),
        lit(1.0) - col("contradictions") * ContradictionWeight -
          col("invalidations") * InvalidationWeight))

  /** H8 — evolution chain read (`VEvolve` `ops.go:842-895` + `get-evolution`):
    * follow `superseded_by` forward from each root, `maxDepth` levels.
    * Returns (root, node, pos): `root` keeps its input type, `node` is the
    * root cast to string at pos 0. Every level emits one row per matching
    * edge, so duplicate edges multiply rows, as a join does.
    *
    * Two regimes (see the `GraphOps` scale notes). Small — at most
    * `GraphOps.InlineFrontierLimit` roots and at most
    * `GraphOps.LocalEdgeLimit` live `superseded_by` edges: one bounded
    * fetch, then the walk on the driver. Otherwise `maxDepth` unrolled
    * joins with no driver-side iteration; each level is persisted, and the
    * returned handle releases those blocks once the result is consumed.
    *
    * Choosing a regime costs the distributed one up to two jobs that the
    * unrolled joins alone do not run: collecting up to
    * `InlineFrontierLimit` + 1 roots, and the fetch, which is skipped only
    * when the roots overflow. A fetch that overflows can cost a full scan
    * of the edges: `superseded_by` is a selective filter, so a split
    * holding fewer live ones than its share is read to its end.
    */
  def evolutionChainT(edges: DataFrame, roots: DataFrame,
                      maxDepth: Int = 5): GraphOps.Traversal = {
    val sb = edges.filter(col("rel") === "superseded_by" && col("deleted_at").isNull)
      .select(col("src"), col("dst"))
    val start = roots.select(col("root"), col("root").cast("string").as("node"),
      lit(0L).as("pos"))
    val rootRows = start.limit(GraphOps.InlineFrontierLimit + 1).collect()
    val small = if (rootRows.length > GraphOps.InlineFrontierLimit) None
      else GraphOps.fetchSmall(sb)
    if (small.isDefined) {
      val next = GraphOps.adjacency(small.get, "out")
      val rows = rootRows.toSeq.flatMap { r =>
        Iterator.iterate(Seq(r.getString(1)))(_.flatMap(n =>
            if (n == null) Nil else next.getOrElse(n, Nil)))
          .take(maxDepth + 1).zipWithIndex
          .flatMap { case (level, pos) => level.map(n => Row(r.get(0), n, pos.toLong)) }
      }
      val schema = StructType(Seq(start.schema("root"),
        StructField("node", StringType), StructField("pos", LongType, nullable = false)))
      return GraphOps.Traversal(
        edges.sparkSession.createDataFrame(rows.asJava, schema), () => ())
    }

    var frontier = start
    var acc = frontier
    var levels = List.empty[DataFrame]
    for (d <- 1 to maxDepth) {
      // Each level is cached (r19): level d is consumed by level d+1's
      // join AND the final union, so without a mark the unrolled plan
      // re-evaluates every prefix per union branch — the edges scan
      // appeared 1+2+…+maxDepth = 15 times in h8's physical plan. The
      // mark is lazy (no extra job); frontiers are root-bounded.
      frontier = frontier.join(sb, frontier("node") === sb("src"))
        .select(col("root"), col("dst").as("node"), lit(d.toLong).as("pos"))
        .persist()
      levels ::= frontier
      acc = acc.unionByName(frontier)
    }
    // Deepest level first, so no released level still has a cached
    // dependent that the cache manager would re-plan.
    GraphOps.Traversal(acc, () => levels.foreach(_.unpersist(blocking = false)))
  }

  /** [[evolutionChainT]] without the release handle; prefer the handle
    * when the chain may leave the small regime.
    */
  def evolutionChain(edges: DataFrame, roots: DataFrame, maxDepth: Int = 5): DataFrame =
    evolutionChainT(edges, roots, maxDepth).result
}
