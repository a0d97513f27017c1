package graft.rag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** RAG retrieval operators — reference `pkg/rag/adaptive_retriever.go`,
  * `pipeline.go:505` (basic retrieve), `internal/server/provenance.go`,
  * `pkg/proxy/proxy.go` (semantic cache + firewall).
  *
  * Scale shape: seed search is the k-NN top-k plan; graph expansion is one
  * join per hop; scoring is pure column math; the token-budget pack runs
  * over the ≤ (k × fanout) candidate rows — a per-query constant, packed
  * in-plan with a single HOF fold (no driver loop, no collect).
  */
object Rag {

  /** R3 — information density: unique-token ratio
    * (`calculateInformationDensity`, adaptive_retriever.go:478-499).
    */
  def density(content: Column): Column = {
    val toks = split(content, " ")
    size(array_distinct(toks)).cast("double") / size(toks)
  }

  /** Normalized density — assembleContext's (d-0.3)/0.6 clamp. */
  def normDensity(d: Column): Column =
    least(lit(1.0), greatest(lit(0.0), (d - 0.3) / 0.6))

  /** Depth penalty max(0.3, 1 - 0.15·depth) (adaptive_retriever.go:318). */
  def depthPenalty(depth: Column): Column =
    greatest(lit(0.3), lit(1.0) - depth * 0.15)

  /** Final blended score (adaptive_retriever.go:324-326). */
  def finalScore(derived: Column, depth: Column, dens: Column,
      wSem: Double = 0.6, wGraph: Double = 0.2, wDensity: Double = 0.2): Column =
    lit(wSem) * derived + lit(wGraph) * depthPenalty(depth) +
      lit(wDensity) * normDensity(dens)

  /** Token estimate int(chars / charsPerToken) (provenance.go:169-180). */
  def estTokens(content: Column, charsPerToken: Double = 4.0): Column =
    floor(length(content) / charsPerToken).cast("long")

  /** R2 — greedy 1-hop graph expansion of the seed set
    * (adaptive_retriever.go:144-195): neighbors inherit
    * `derived = seed.derived × decay` at depth 1; nodes already seeded are
    * not re-added; multiple parents → max derived.
    * seeds: (id, derived); edges: (src, dst).
    */
  def expandSeeds(seeds: DataFrame, edges: DataFrame, decay: Double = 0.7): DataFrame = {
    val expanded = seeds
      .join(edges, seeds("id") === edges("src"))
      .select(col("dst").as("id"), (col("derived") * decay).as("derived"))
      .join(seeds.select(col("id")), Seq("id"), "left_anti")
      .groupBy(col("id")).agg(max(col("derived")).as("derived"))
      .withColumn("depth", lit(1))
    seeds.withColumn("depth", lit(0)).unionByName(expanded)
  }

  /** The reference's default graph-expansion config
    * (`DefaultAdaptiveConfig`, config.go:93-116): relation allow-list and
    * per-relation score weights (sequential strong → associative weak),
    * 0.3 for a relation with no configured weight.
    */
  val DefaultGraphRelations: Seq[String] =
    Seq("next", "prev", "parent", "child", "mentions", "related_to")
  val DefaultEdgeWeights: Map[String, Double] = Map(
    "next" -> 0.95, "prev" -> 0.95, "parent" -> 0.80, "child" -> 0.70,
    "mentions" -> 0.50, "related_to" -> 0.40)
  val DefaultEdgeWeight: Double = 0.3

  /** R2 — the reference's DEFAULT expansion strategy: weighted graph BFS
    * (`expandGraphBFS`, adaptive_retriever.go:213-297; `ExpansionStrategy:
    * "graph"`). Per level: frontier × allowed edges, score = parent score ×
    * relation weight, shortest-depth dedup (a node keeps the depth it was
    * first reached at), capped at `maxNodes` total discovered nodes.
    *
    * Determinism deviations from the queue-order reference, both documented
    * because Go map iteration makes its tie outcomes unstable anyway:
    * multiple same-depth parents → MAX derived (the reference keeps
    * whichever dequeued first and only upgrades on strictly-shorter paths,
    * `updateChunkScore` :449-457); the node cap truncates the OVERFLOWING
    * LEVEL by (derived desc, id) instead of discovery order.
    *
    * Scale shape: one keyed join + keyed max per level, depth ≤ 2-3 by
    * config; the edge table is never shuffled more than once per level and
    * the frontier/visited joins follow the same keyed anti-join discipline
    * as [[graft.graph.GraphOps.bfs]].
    *
    * seeds: (id, derived); edges: (src, dst, rel).
    * Returns (id, depth, derived).
    */
  def expandGraphBfs(
      seeds: DataFrame,
      edges: DataFrame,
      depth: Int = 2,
      edgeWeights: Map[String, Double] = DefaultEdgeWeights,
      allowedRels: Seq[String] = DefaultGraphRelations,
      maxNodes: Int = 200): DataFrame = {
    val weightCol = edgeWeights
      .map { case (r, wt) => when(col("rel") === r, lit(wt)) }
      .reduceOption(coalesce(_, _))
      .map(c => coalesce(c, lit(DefaultEdgeWeight)))
      .getOrElse(lit(DefaultEdgeWeight))
    val e = edges.filter(col("rel").isin(allowedRels: _*))
      .select(col("src"), col("dst"), weightCol.as("_w"))
    var visited = seeds.select(col("id"), lit(0).as("depth"),
      col("derived")).localCheckpoint(true)
    var frontier = visited
    var total = visited.count()
    var d = 1
    while (d <= depth && total < maxNodes && !frontier.isEmpty) {
      val next = frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id"), (col("derived") * col("_w")).as("derived"))
        .groupBy(col("id")).agg(max(col("derived")).as("derived"))
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .withColumn("depth", lit(d))
        .select(col("id"), col("depth"), col("derived"))
        .localCheckpoint(true)
      val n = next.count()
      val room = maxNodes - total
      frontier =
        if (n > room)
          next.orderBy(col("derived").desc, col("id")).limit(room.toInt)
            .localCheckpoint(true)
        else next
      visited = visited.unionByName(frontier)
      total += math.min(n, room)
      d += 1
    }
    visited
  }

  /** R2 — token-budget context packing (assembleContext,
    * adaptive_retriever.go:300-414). Documents ordered by the max depth-0
    * derived score (ties by parent id), chunks within a document by
    * chunk_index; a chunk that would overflow the budget stops ITS document
    * but later documents keep packing (the reference's inner-loop break).
    *
    * The sequential walk folds over ONE collected array in-plan (candidate
    * sets are per-query constants), so no driver-side iteration.
    *
    * `cand`: (id, parent, chunk_index, derived, depth, tokens).
    * Returns cand + (final kept).
    */
  def packContext(cand: DataFrame, budget: Long): DataFrame = {
    val prio = cand
      .groupBy(col("parent"))
      .agg(max(when(col("depth") === 0, col("derived")).otherwise(lit(0.0)))
        .as("prio"))
    val ordered = cand.join(prio, Seq("parent"))
    val packed = ordered
      .agg(sort_array(collect_list(struct(
        (-col("prio")).as("nprio"), col("parent"), col("chunk_index"),
        col("id"), col("tokens")))).as("cs"))
      .select(explode(expr(
        s"""aggregate(
           |  cs,
           |  struct(cast(0 as long) as total, cast(null as string) as broken,
           |         cast(array() as array<bigint>) as kept),
           |  (acc, c) -> case
           |    when c.parent <=> acc.broken then acc
           |    when acc.total + c.tokens > $budget
           |      then named_struct('total', acc.total, 'broken', c.parent,
           |                        'kept', acc.kept)
           |    else named_struct('total', acc.total + c.tokens,
           |                      'broken', acc.broken,
           |                      'kept', array_append(acc.kept, c.id))
           |  end,
           |  acc -> acc.kept)""".stripMargin)).as("id"))
      .withColumn("kept", lit(true))
    ordered.join(packed, Seq("id"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(false)))
      .drop("prio")
  }

  /** R6 — semantic cache lookup (`checkCache`, proxy.go:408-432): nearest
    * cache entry per query; hit when cosine distance < threshold.
    * cache: (cache_id, cvec, answer); queries: (qid, qvec).
    */
  def cacheLookup(cache: DataFrame, queries: DataFrame, threshold: Double): DataFrame = {
    val scored = queries.crossJoin(broadcast(cache))
      .withColumn("d", lit(1.0) -
        VectorFunctions.cosineSimilarityWide(col("qvec"), col("cvec")))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d"), col("cache_id"))))
      .filter(col("rn") === 1)
      .withColumn("hit", col("d") < threshold)
      .select(col("qid"), when(col("hit"), col("cache_id")).as("cache_id"),
        col("d"), col("hit"),
        when(col("hit"), col("answer")).as("answer"))
  }

  /** R7 — semantic firewall (`checkFirewallWithVec`, proxy.go:396): block
    * when max similarity to the guard set ≥ threshold or a literal deny
    * phrase is contained. guards: (gid, gvec).
    */
  def firewall(queries: DataFrame, guards: DataFrame, threshold: Double,
      denyList: Seq[String], textCol: String = "text"): DataFrame = {
    val maxSim = queries.crossJoin(broadcast(guards))
      .withColumn("sim", VectorFunctions.cosineSimilarityWide(col("qvec"), col("gvec")))
      .groupBy(col("qid")).agg(max(col("sim")).as("max_sim"))
    val denied = denyList
      .map(p => lower(col(textCol)).contains(p))
      .reduceOption(_ || _).getOrElse(lit(false))
    queries.join(maxSim, Seq("qid"))
      .withColumn("deny_hit", denied)
      .withColumn("blocked", col("max_sim") >= threshold || col("deny_hit"))
      .select(col("qid"), col("max_sim"), col("deny_hit"), col("blocked"))
  }
}
