package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.filter.FilterDsl
import graft.functions.VectorFunctions
import graft.search.VectorSearch

/** M0/M1 queries: filter DSL, projection/hydration, exact k-NN.
  *
  * Every query has a DuckDB oracle (SQL over the same parquet tables).
  * Conventions for hash-stable parity:
  *   - aggregate money math in DECIMAL (exact, order-independent), cast the
  *     result to DOUBLE;
  *   - distances computed in double on both sides, rounded to 6 decimals;
  *   - ORDER BY a unique key everywhere;
  *   - counts / ranks cast to BIGINT to match DuckDB's integer widths.
  */
object CoreQueries {

  /** The MMR greedy-selection CTE chain (cv/sims/sel1..selK + final
    * SELECT), appended after a `cand(qid, id, rel)` CTE — shared by the
    * exact-pool (v25) and IVF-pool (v26, AnnQueries) oracles. Mirrors
    * [[graft.search.Mmr.select]]: wide cosine ≡ list_cosine_similarity,
    * parsed 0.7/0.3 literals, (score DESC, id) argmax per round.
    */
  private[queries] def mmrSqlTail(steps: Int): String = {
    def round(j: Int): String =
      s"""ms$j AS (
         |  SELECT c.qid, c.id, c.rel, max(s.sim) AS ms
         |  FROM cand c
         |  JOIN sims s ON s.qid = c.qid AND s.id = c.id
         |  JOIN sel${j - 1} t ON t.qid = s.qid AND t.id = s.sid
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${j - 1} x
         |                    WHERE x.qid = c.qid AND x.id = c.id)
         |  GROUP BY c.qid, c.id, c.rel),
         |sel$j AS (
         |  SELECT qid, id, score, rank FROM sel${j - 1}
         |  UNION ALL
         |  SELECT qid, id, score, $j AS rank FROM (
         |    SELECT qid, id, 0.7 * rel - 0.3 * ms AS score,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY 0.7 * rel - 0.3 * ms DESC, id) AS rn
         |    FROM ms$j) WHERE rn = 1)""".stripMargin
    s"""cv AS (SELECT c.qid, c.id, e.embedding AS v
       |       FROM cand c JOIN embeddings e ON c.id = e.vec_id),
       |sims AS (
       |  SELECT a.qid, a.id, b.id AS sid,
       |    list_cosine_similarity(CAST(a.v AS DOUBLE[]),
       |                           CAST(b.v AS DOUBLE[])) AS sim
       |  FROM cv a JOIN cv b ON a.qid = b.qid AND a.id <> b.id),
       |sel1 AS (
       |  SELECT qid, id, score, 1 AS rank FROM (
       |    SELECT qid, id, 0.7 * rel AS score,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY 0.7 * rel DESC, id) AS rn
       |    FROM cand) WHERE rn = 1),
       |${(2 to steps).map(round).mkString(",\n")}
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
       |  CAST(id AS BIGINT) AS id, round(score, 6) AS score
       |FROM sel$steps ORDER BY qid, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pricing-summary style aggregation (exercises partial aggregation +
    // single shuffle on the group keys; decimal math for exactness).
    "q1_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val dec = DecimalType(18, 6)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast(dec)), 2).cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast(dec)), 2).cast("double").as("sum_base_price"),
          round(sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec))), 2).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        // Bounded group count (flag x status): single-partition sort, no
        // range exchange (guide 2.4; see Ordered.small).
        .transform(Ordered.small(_)(col("l_returnflag"), col("l_linestatus")))
    }),

    // F1: filter-DSL compiled to a Catalyst Column (OR of AND-blocks, no
    // parens — reference core.go:1695). The predicate lands in PushedFilters.
    "f1_filter_dsl" -> ((s, dir) => {
      val part = Tables.part(s, dir)
      val pred = FilterDsl.compile(
        "p_size >= 30 AND p_type = 'ECONOMY' OR p_brand = 'Brand#7' AND p_size < 10",
        part.schema)
      part.filter(pred)
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),

    // F4: != with the reference's missing-field semantics (numeric equality
    // tried first for numeric-looking values — core.go:1879-1917).
    "f4_neq_numeric" -> ((s, dir) => {
      val part = Tables.part(s, dir)
      val pred = FilterDsl.compile("p_size != 5 AND p_size <= 20", part.schema)
      part.filter(pred)
        .select(col("p_partkey"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),

    // F6: filter-only search with limit (VFilter — ops.go:1769); made
    // deterministic by ordering on the key before the limit.
    "f6_filter_limit" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val pred = FilterDsl.compile(
        "o_orderstatus = 'O' AND o_totalprice > 150000", orders.schema)
      orders.filter(pred)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .limit(50)
    }),

    // F7: hydration join — fetch full records for an id list (GetVectors,
    // core.go:623). Broadcast hash join: the id list is tiny by contract.
    // A real `orderBy`, not Ordered.small: its coalesce(1) is narrow, so
    // right above the join it would fold the whole embeddings scan into
    // one task; the range exchange keeps the scan parallel.
    "f7_hydrate" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ids = emb.select(col("vec_id")).filter(col("vec_id") % 97 === 0)
      emb.join(broadcast(ids), Seq("vec_id"))
        .select(col("vec_id"), col("label"), size(col("embedding")).cast("long").as("dim"))
        .orderBy(col("vec_id"))
    }),

    // V2: batched exact k-NN, euclidean. dist = sqrt of the squared-L2 the
    // engine ranks by, so the oracle can use list_distance.
    "v2_knn_euclidean" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      VectorSearch.topKBatch(emb, q, k = 10, metric = "euclidean",
          idCol = "vec_id", vecCol = "embedding", wide = true)
        .select(col("qid"), col("vec_id").as("id"),
          round(sqrt(col("distance")), 6).as("dist"),
          col("rank").cast("long").as("rank"))
        .transform(Ordered.small(_)(col("qid"), col("rank"))) // nq x k rows
    }),

    // V2 cosine: 1 - cosine similarity, double precision (oracle formula).
    "v2_knn_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      VectorSearch.topKBatch(emb, q, k = 10, metric = "cosine",
          idCol = "vec_id", vecCol = "embedding", wide = true)
        .select(col("qid"), col("vec_id").as("id"),
          round(col("distance"), 6).as("dist"),
          col("rank").cast("long").as("rank"))
        .transform(Ordered.small(_)(col("qid"), col("rank"))) // nq x k rows
    }),

    // V2 + F1: filtered k-NN — the allow-list path (bitmap pushed into
    // traversal in the reference; a pre-scoring predicate here).
    "v2_knn_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val pred = FilterDsl.compile("label >= 3 AND label != 7", emb.schema)
      VectorSearch.topKBatch(emb, q, k = 5, metric = "cosine",
          idCol = "vec_id", vecCol = "embedding", filter = Some(pred), wide = true)
        .select(col("qid"), col("vec_id").as("id"),
          round(col("distance"), 6).as("dist"),
          col("rank").cast("long").as("rank"))
        .transform(Ordered.small(_)(col("qid"), col("rank"))) // nq x k rows
    }),

    // V22: hard-negative mining for contrastive embedding training — for
    // each query, the k nearest candidates by cosine whose label DIFFERS
    // from the query's (the classic "hard negative": semantically close,
    // known-different class). Same broadcast-cross-join + bounded-TopK
    // shape as v2; the label predicate prunes pairs before the aggregate,
    // so 100 TB cost is one corpus scan per query batch regardless of k.
    "v22_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      VectorSearch.topKBatch(emb, q, k = 5, metric = "cosine",
          idCol = "vec_id", vecCol = "embedding", wide = true,
          pairFilter = Some(col("label") =!= col("qlabel") &&
            col("vec_id") =!= col("qid")))
        .select(col("qid"), col("vec_id").as("neg_id"),
          round(col("distance"), 6).as("dist"),
          col("rank").cast("long").as("rank"))
        .transform(Ordered.small(_)(col("qid"), col("rank"))) // nq x k rows
    }),

    // V25: MMR diversity re-ranking (Carbonell & Goldstein 1998) — the
    // step between ANN retrieval and context assembly that trades
    // relevance against redundancy: greedily pick k results maximizing
    // λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s). Near-duplicate
    // passages (which d1–d12 remove OFFLINE) are suppressed at QUERY
    // time. Fully declarative: one corpus scan for the top-24 candidate
    // pool (bounded TopK), candidate-pair sims as a qid-keyed self-join
    // of the nq×24 pool (hash join, partitions by query — never touches
    // the corpus again), then the k=5 greedy rounds unrolled as
    // anti-join → max-sim agg → argmax. Cross-engine determinism: rel is
    // 1.0 − distance computed IDENTICALLY on both sides, pair sims use
    // the wide cosine ≡ list_cosine_similarity identity (v2/d5
    // precedent), λ-blend is two IEEE ops on bit-identical inputs, ties
    // break by id.
    "v25_mmr_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cand = VectorSearch.topKBatch(emb, q, k = 24, metric = "cosine",
          idCol = "vec_id", vecCol = "embedding", wide = true)
        .select(col("qid"), col("vec_id").as("id"),
          (lit(1.0) - col("distance")).as("rel"))
      // λ = 0.7 / (1−λ) = 0.3 as PARSED literals on both sides: Scala's
      // computed 1.0 − 0.7 is 0.30000000000000004, one ulp off the parsed
      // 0.3 the SQL text carries (see graft.search.Mmr).
      graft.search.Mmr.select(cand,
          emb.select(col("vec_id").as("id"), col("embedding")),
          k = 5, lam = lit(0.7), oneMinusLam = lit(0.3))
        .select(col("qid"), col("rank"), col("id"),
          round(col("score"), 6).as("score"))
        .transform(Ordered.small(_)(col("qid"), col("rank"))) // nq x k rows
    }),

    // H5: search-with-scores — 1/(1+d) absolute normalization
    // (search_utils.go:48; deliberately not min-max).
    "h5_search_scores" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      VectorSearch.topKBatch(emb, q, k = 20, metric = "cosine",
          idCol = "vec_id", vecCol = "embedding", wide = true)
        .select(col("qid"), col("vec_id").as("id"),
          round(lit(1.0) / (lit(1.0) + col("distance")), 6).as("score"),
          col("rank").cast("long").as("rank"))
        .transform(Ordered.small(_)(col("qid"), col("rank"))) // nq x k rows
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "f1_filter_dsl" ->
      """SELECT p_partkey, p_brand, p_type, p_size FROM part
        |WHERE (p_size >= 30 AND p_type = 'ECONOMY') OR (p_brand = 'Brand#7' AND p_size < 10)
        |ORDER BY p_partkey""".stripMargin,

    "f4_neq_numeric" ->
      """SELECT p_partkey, p_size FROM part
        |WHERE p_size <> 5 AND p_size <= 20
        |ORDER BY p_partkey""".stripMargin,

    "f6_filter_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 150000
        |ORDER BY o_orderkey LIMIT 50""".stripMargin,

    "f7_hydrate" ->
      """SELECT vec_id, label, len(embedding) AS dim FROM embeddings
        |WHERE vec_id % 97 = 0 ORDER BY vec_id""".stripMargin,

    "v2_knn_euclidean" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id AS id,
        |        list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS d
        |      FROM embeddings e CROSS JOIN q),
        |r AS (SELECT qid, id, d, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
        |SELECT qid, id, round(d, 6) AS dist, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    "v2_knn_cosine" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.qid, e.vec_id AS id,
        |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS d
        |      FROM embeddings e CROSS JOIN q),
        |r AS (SELECT qid, id, d, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
        |SELECT qid, id, round(d, 6) AS dist, rank FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    "v22_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
        |           FROM embeddings WHERE vec_id % 97 = 0),
        |s AS (SELECT q.qid, e.vec_id AS neg_id,
        |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS d
        |      FROM embeddings e CROSS JOIN q
        |      WHERE e.label <> q.qlabel AND e.vec_id <> q.qid),
        |r AS (SELECT qid, neg_id, d, row_number() OVER (PARTITION BY qid ORDER BY d, neg_id) AS rank FROM s)
        |SELECT qid, neg_id, round(d, 6) AS dist, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // The greedy rounds unrolled; rel = 1.0 − d mirrors the Spark side's
    // 1.0 − distance (bit-identical: same two IEEE ops on the same wide
    // cosine), λ/(1−λ) are the PARSED literals 0.7/0.3 on both sides.
    "v25_mmr_rerank" -> {
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |           WHERE vec_id < 4),
         |s0 AS (SELECT q.qid, e.vec_id AS id,
         |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                     CAST(q.qv AS DOUBLE[])) AS d
         |      FROM embeddings e CROSS JOIN q),
         |cand AS (
         |  SELECT qid, id, 1.0 - d AS rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rn
         |    FROM s0) WHERE rn <= 24),
         |${mmrSqlTail(5)}""".stripMargin
    },

    "v2_knn_filtered" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |s AS (SELECT q.qid, e.vec_id AS id,
        |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS d
        |      FROM embeddings e CROSS JOIN q
        |      WHERE e.label >= 3 AND e.label <> 7),
        |r AS (SELECT qid, id, d, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
        |SELECT qid, id, round(d, 6) AS dist, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    "h5_search_scores" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT q.qid, e.vec_id AS id,
        |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS d
        |      FROM embeddings e CROSS JOIN q),
        |r AS (SELECT qid, id, d, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
        |SELECT qid, id, round(1.0 / (1.0 + d), 6) AS score, rank FROM r WHERE rank <= 20
        |ORDER BY qid, rank""".stripMargin
  )
}
