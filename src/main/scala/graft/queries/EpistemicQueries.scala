package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.memory.Epistemic

/** H6-H8 queries: belief assessment, invalidation friction, evolution chains.
  *
  * Synthetic epistemic views derived deterministically from `embeddings`
  * (Base/Now shared with FusionQueries):
  *   nodes: created_at = Base + v*3600, access_count = v%7,
  *          is_historical = v%19==0
  *   friction edges (active unless noted):
  *     v%9==0  → 'c:v'  -contradicts->  v
  *     v%27==0 → 'cx:v' -contradicts->  v   (soft-deleted at Base+100 —
  *                                           must NOT count at `now`)
  *     v%23==0 → 'i:v'  -invalidates->  v
  *   evolution edges: v%25==0 → v -superseded_by-> 'e1:v' (Base+1000);
  *                    v%50==0 → 'e1:v' -superseded_by-> 'e2:v' (Base+2000)
  */
object EpistemicQueries {

  val Now: Long = FusionQueries.Now
  val Base: Long = FusionQueries.Base

  def nodesView(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id").as("id"), col("embedding").as("vector"),
      (lit(Base) + col("vec_id") * 3600).cast("double").as("created_at"),
      (col("vec_id") % 7).cast("int").as("access_count"),
      (col("vec_id") % 19 === 0).as("is_historical"))

  def frictionEdges(s: SparkSession, dir: String): DataFrame = {
    val v = col("vec_id")
    val e = Tables.embeddings(s, dir)
    def edge(cond: org.apache.spark.sql.Column, pfx: String, rel: String,
        del: org.apache.spark.sql.Column) =
      e.filter(cond).select(
        concat(lit(pfx + ":"), v).as("src"), v.cast("long").as("dst"),
        lit(rel).as("rel"), lit(Base).as("created_at"),
        del.cast("long").as("deleted_at"))
    edge(v % 9 === 0, "c", "contradicts", lit(null))
      .unionByName(edge(v % 27 === 0, "cx", "contradicts", lit(Base + 100)))
      .unionByName(edge(v % 23 === 0, "i", "invalidates", lit(null)))
  }

  def evolutionEdges(s: SparkSession, dir: String): DataFrame = {
    val v = col("vec_id")
    val e = Tables.embeddings(s, dir)
    val g1 = e.filter(v % 25 === 0).select(
      v.cast("string").as("src"), concat(lit("e1:"), v).as("dst"),
      lit("superseded_by").as("rel"), lit(Base + 1000).as("created_at"),
      lit(null).cast("long").as("deleted_at"))
    val g2 = e.filter(v % 50 === 0).select(
      concat(lit("e1:"), v).as("src"), concat(lit("e2:"), v).as("dst"),
      lit("superseded_by").as("rel"), lit(Base + 2000).as("created_at"),
      lit(null).cast("long").as("deleted_at"))
    g1.unionByName(g2)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // H6: full belief assessment around the vec_id=0 query point.
    "h6_belief_state" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      Epistemic.beliefState(
          nodesView(s, dir), frictionEdges(s, dir), q, k = 10, now = Now.toDouble)
        .select(col("n_sources").cast("long").as("n_sources"),
          round(col("consensus"), 6).as("consensus"),
          round(col("variance"), 6).as("variance"),
          round(col("stability"), 6).as("stability"),
          round(col("avg_age_days"), 6).as("avg_age_days"),
          round(col("friction"), 6).as("friction"),
          col("contradictions"), col("invalidations"),
          round(col("confidence"), 6).as("confidence"), col("state"))
    }),

    // H7: invalidation — new `invalidates` edges land, per-node friction
    // drops; soft-deleted edges are excluded at `now`.
    "h7_invalidation" -> ((s, dir) => {
      val v = col("vec_id")
      val newInval = Tables.embeddings(s, dir).filter(v % 40 === 0).select(
        concat(lit("n:"), v).as("src"), v.cast("long").as("dst"),
        lit("invalidates").as("rel"), lit(Now).as("created_at"),
        lit(null).cast("long").as("deleted_at"))
      Epistemic.frictionPerNode(
          frictionEdges(s, dir).unionByName(newInval), Now.toDouble)
        .select(col("dst").cast("long").as("id"),
          col("contradictions"), col("invalidations"),
          round(col("friction"), 6).as("friction"))
        .orderBy(col("id"))
    }),

    // C12: batched volatile-belief resolution — belief state per seed in
    // one plan, with the consolidate/escalate/none action.
    "c12_volatile_beliefs" -> ((s, dir) => {
      val seeds = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .select(col("vec_id").cast("long").as("seed"), col("embedding").as("qvec"))
      Epistemic.beliefStateBatch(
          nodesView(s, dir), frictionEdges(s, dir), seeds, k = 5, now = Now.toDouble)
        .select(col("seed"), col("n").cast("long").as("n_sources"),
          round(col("consensus"), 6).as("consensus"),
          round(col("stability"), 6).as("stability"),
          round(col("friction"), 6).as("friction"),
          col("contradictions"), col("invalidations"),
          round(col("confidence"), 6).as("confidence"),
          col("state"), col("action"))
        .orderBy(col("seed"))
    }),

    // H8: evolution chains — follow superseded_by from each original node;
    // the chain head (max pos) is the current record, the rest historical.
    "h8_evolution_chain" -> ((s, dir) => {
      val roots = Tables.embeddings(s, dir).filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("root"))
      // The roots are 1 in 25 embeddings, so outside the small regime
      // the chain is data-sized: it keeps a distributed sort, and its
      // per-level blocks stay cached until a query-scoped release exists
      // (ROADMAP direction 5) — releasing them here, before the result is
      // written, would only make the write recompute every level.
      val chain = Epistemic.evolutionChain(evolutionEdges(s, dir), roots, maxDepth = 4)
      val w = Window.partitionBy("root")
      chain.withColumn("is_current", col("pos") === max(col("pos")).over(w))
        .select(col("root").cast("long").as("root"),
          col("pos").cast("long").as("pos"), col("node"), col("is_current"))
        .transform(Ordered.byRegime(chain)(_)(col("root"), col("pos")))
    })
  )

  private def nodesSql =
    s"""nodes AS (
       |  SELECT vec_id AS id, embedding,
       |    CAST($Base + vec_id * 3600 AS DOUBLE) AS created_at,
       |    vec_id % 7 AS access_count, vec_id % 19 = 0 AS hist
       |  FROM embeddings
       |)""".stripMargin

  private def fedgesSql =
    s"""fedges AS (
       |  SELECT vec_id AS dst, 'contradicts' AS rel, CAST(NULL AS BIGINT) AS deleted_at
       |  FROM embeddings WHERE vec_id % 9 = 0
       |  UNION ALL
       |  SELECT vec_id, 'contradicts', $Base + 100 FROM embeddings WHERE vec_id % 27 = 0
       |  UNION ALL
       |  SELECT vec_id, 'invalidates', NULL FROM embeddings WHERE vec_id % 23 = 0
       |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "h6_belief_state" ->
      s"""WITH $nodesSql, $fedgesSql,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |scored AS (
         |  SELECT n.*, 1.0 - list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
         |                                           CAST(q.qv AS DOUBLE[])) AS d
         |  FROM nodes n CROSS JOIN q),
         |cand AS (
         |  SELECT id, CAST(embedding AS DOUBLE[]) AS v, created_at, access_count
         |  FROM (SELECT *, row_number() OVER (ORDER BY d, id) AS rn FROM scored)
         |  WHERE rn <= 10 AND NOT hist),
         |cent AS (
         |  SELECT list(avg_e ORDER BY pos) AS c FROM (
         |    SELECT pos, avg(e) AS avg_e FROM (
         |      SELECT unnest(v) AS e, generate_subscripts(v, 1) AS pos FROM cand)
         |    GROUP BY pos)),
         |dists AS (
         |  SELECT 1.0 - greatest(0.0, least(1.0, list_cosine_similarity(cand.v, cent.c))) AS dc
         |  FROM cand CROSS JOIN cent),
         |cons AS (SELECT avg(dc * dc) AS variance, count(*) AS n FROM dists),
         |pair AS (
         |  SELECT max(1.0 - greatest(0.0, least(1.0, list_cosine_similarity(x.v, y.v)))) AS maxvar
         |  FROM cand x JOIN cand y ON x.id < y.id),
         |stab AS (
         |  SELECT avg(exp(-($Now - created_at) / (2592000.0 * (1.0 + ln(1.0 + access_count))))) AS stability,
         |         avg(($Now - created_at) / 86400.0) AS avg_age FROM cand),
         |fric AS (
         |  SELECT CAST(count(CASE WHEN rel = 'contradicts' THEN 1 END) AS BIGINT) AS contr,
         |         CAST(count(CASE WHEN rel = 'invalidates' THEN 1 END) AS BIGINT) AS inval
         |  FROM fedges f JOIN cand ON f.dst = cand.id
         |  WHERE deleted_at IS NULL OR deleted_at > $Now),
         |calc AS (
         |  SELECT cons.n,
         |    CASE WHEN cons.n = 1 THEN 1.0
         |         WHEN coalesce(pair.maxvar, 0) < 1e-10 THEN 1.0
         |         ELSE 1.0 - least(cons.variance / (pair.maxvar * pair.maxvar), 1.0) END AS consensus,
         |    cons.variance, stab.stability, stab.avg_age AS avg_age_days,
         |    greatest(0.0, 1.0 - fric.contr * 0.20 - fric.inval * 0.50) AS friction,
         |    fric.contr, fric.inval
         |  FROM cons CROSS JOIN pair CROSS JOIN stab CROSS JOIN fric),
         |conf AS (
         |  SELECT *, greatest(0.0, least(1.0,
         |    consensus * 0.40 + stability * 0.30 + friction * 0.30)) AS confidence
         |  FROM calc)
         |SELECT CAST(n AS BIGINT) AS n_sources,
         |  round(consensus, 6) AS consensus, round(variance, 6) AS variance,
         |  round(stability, 6) AS stability, round(avg_age_days, 6) AS avg_age_days,
         |  round(friction, 6) AS friction,
         |  contr AS contradictions, inval AS invalidations,
         |  round(confidence, 6) AS confidence,
         |  CASE WHEN (contr > 0 OR inval > 0) AND confidence < 0.85 THEN 'contested'
         |       WHEN confidence >= 0.85 THEN 'crystallized'
         |       WHEN confidence <= 0.40 THEN 'volatile'
         |       ELSE 'stable' END AS state
         |FROM conf""".stripMargin,

    "c12_volatile_beliefs" ->
      s"""WITH $nodesSql, $fedgesSql,
         |seeds AS (SELECT vec_id AS seed, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT s.seed, n.id, CAST(n.embedding AS DOUBLE[]) AS v,
         |    n.created_at, n.access_count, n.hist,
         |    1.0 - list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
         |                                 CAST(s.qv AS DOUBLE[])) AS d
         |  FROM nodes n CROSS JOIN seeds s),
         |cand AS (
         |  SELECT seed, id, v, created_at, access_count FROM (
         |    SELECT *, row_number() OVER (PARTITION BY seed ORDER BY d, id) AS rn
         |    FROM scored)
         |  WHERE rn <= 5 AND NOT hist),
         |cent AS (
         |  SELECT seed, list(avg_e ORDER BY pos) AS c FROM (
         |    SELECT seed, pos, avg(e) AS avg_e FROM (
         |      SELECT seed, unnest(v) AS e, generate_subscripts(v, 1) AS pos FROM cand)
         |    GROUP BY seed, pos) GROUP BY seed),
         |vr AS (
         |  SELECT seed, avg(dc * dc) AS variance, count(*) AS n FROM (
         |    SELECT cand.seed,
         |      1.0 - greatest(0.0, least(1.0, list_cosine_similarity(cand.v, cent.c))) AS dc
         |    FROM cand JOIN cent USING (seed)) GROUP BY seed),
         |pr AS (
         |  SELECT a.seed,
         |    max(1.0 - greatest(0.0, least(1.0, list_cosine_similarity(a.v, b.v)))) AS maxvar
         |  FROM cand a JOIN cand b ON a.seed = b.seed AND a.id < b.id GROUP BY a.seed),
         |st AS (
         |  SELECT seed, avg(exp(-($Now - created_at) /
         |    (2592000.0 * (1.0 + ln(1.0 + access_count))))) AS stability
         |  FROM cand GROUP BY seed),
         |fr AS (
         |  SELECT cand.seed,
         |    CAST(count(CASE WHEN f.rel = 'contradicts'
         |      AND (f.deleted_at IS NULL OR f.deleted_at > $Now) THEN 1 END) AS BIGINT) AS contr,
         |    CAST(count(CASE WHEN f.rel = 'invalidates'
         |      AND (f.deleted_at IS NULL OR f.deleted_at > $Now) THEN 1 END) AS BIGINT) AS inval
         |  FROM cand LEFT JOIN fedges f ON f.dst = cand.id GROUP BY cand.seed),
         |calc AS (
         |  SELECT vr.seed, vr.n,
         |    CASE WHEN vr.n = 1 THEN 1.0
         |         WHEN coalesce(pr.maxvar, 0) < 1e-10 THEN 1.0
         |         ELSE 1.0 - least(vr.variance / (pr.maxvar * pr.maxvar), 1.0) END AS consensus,
         |    st.stability,
         |    greatest(0.0, 1.0 - fr.contr * 0.20 - fr.inval * 0.50) AS friction,
         |    fr.contr, fr.inval
         |  FROM vr LEFT JOIN pr ON vr.seed = pr.seed
         |  JOIN st ON vr.seed = st.seed JOIN fr ON vr.seed = fr.seed),
         |conf AS (
         |  SELECT *, greatest(0.0, least(1.0,
         |    consensus * 0.40 + stability * 0.30 + friction * 0.30)) AS confidence
         |  FROM calc),
         |fin AS (
         |  SELECT *, CASE
         |    WHEN (contr > 0 OR inval > 0) AND confidence < 0.85 THEN 'contested'
         |    WHEN confidence >= 0.85 THEN 'crystallized'
         |    WHEN confidence <= 0.40 THEN 'volatile'
         |    ELSE 'stable' END AS state
         |  FROM conf)
         |SELECT CAST(seed AS BIGINT) AS seed, CAST(n AS BIGINT) AS n_sources,
         |  round(consensus, 6) AS consensus, round(stability, 6) AS stability,
         |  round(friction, 6) AS friction, contr AS contradictions,
         |  inval AS invalidations, round(confidence, 6) AS confidence, state,
         |  CASE state WHEN 'volatile' THEN 'consolidate'
         |             WHEN 'contested' THEN 'escalate' ELSE 'none' END AS action
         |FROM fin ORDER BY seed""".stripMargin,

    "h7_invalidation" ->
      s"""WITH $fedgesSql,
         |all_edges AS (
         |  SELECT dst, rel, deleted_at FROM fedges
         |  UNION ALL
         |  SELECT vec_id, 'invalidates', NULL FROM embeddings WHERE vec_id % 40 = 0
         |),
         |agg AS (
         |  SELECT dst AS id,
         |    CAST(count(CASE WHEN rel = 'contradicts' THEN 1 END) AS BIGINT) AS contradictions,
         |    CAST(count(CASE WHEN rel = 'invalidates' THEN 1 END) AS BIGINT) AS invalidations
         |  FROM all_edges WHERE deleted_at IS NULL OR deleted_at > $Now
         |  GROUP BY dst)
         |SELECT CAST(id AS BIGINT) AS id, contradictions, invalidations,
         |  round(greatest(0.0, 1.0 - contradictions * 0.20 - invalidations * 0.50), 6) AS friction
         |FROM agg ORDER BY id""".stripMargin,

    "h8_evolution_chain" ->
      """WITH roots AS (SELECT vec_id AS v FROM embeddings WHERE vec_id % 25 = 0),
        |chain AS (
        |  SELECT v AS root, 0 AS pos, CAST(v AS VARCHAR) AS node FROM roots
        |  UNION ALL
        |  SELECT v, 1, 'e1:' || v FROM roots
        |  UNION ALL
        |  SELECT v, 2, 'e2:' || v FROM roots WHERE v % 50 = 0
        |),
        |m AS (SELECT root, max(pos) AS mx FROM chain GROUP BY root)
        |SELECT CAST(c.root AS BIGINT) AS root, CAST(c.pos AS BIGINT) AS pos,
        |  c.node, c.pos = m.mx AS is_current
        |FROM chain c JOIN m ON c.root = m.root
        |ORDER BY root, pos""".stripMargin
  )
}
