package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 full-text scoring — reference `pkg/core/core.go:1955-2071`.
  *
  * k1 = 1.2, b = 0.75, IDF = ln(1 + (N - df + 0.5)/(df + 0.5));
  * candidate set = union of query-token posting lists; score = sum over
  * query tokens (duplicated query tokens count multiply).
  *
  * Derived tables (the reference maintains these incrementally on write —
  * `core.go:1413-1462`; here they are one aggregation each and would be
  * materialized/bucketed by `token` in a persistent deployment):
  *   - postings(id, token, tf)
  *   - doc_lengths(id, dl)      — post-analysis token count, zero included
  *   - stats(total_docs, avg_dl)
  *
  * Scale shape: the corpus is analyzed ONCE — doc lengths (`sum(tf)`) and
  * per-query-token document frequencies both derive from the postings
  * aggregate, so the tokenize/stem scan appears a single time and Catalyst's
  * ReuseExchange serves the shared subtree to every consumer. Scoring joins a
  * broadcast query-token list against postings (map-side), then one
  * aggregation on id. For a persistent deployment call `searchPostings`
  * directly with pre-materialized (token-bucketed) postings and skip the
  * analysis scan entirely. No driver-side loops.
  */
object Bm25 {
  val k1 = 1.2
  val b = 0.75

  /** postings: one row per (id, token) with term frequency. */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               lang: String = "english"): DataFrame =
    Analyzer.tokensDF(docs.select(col(idCol), col(textCol)), textCol, lang)
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** Per-document analyzed length derived from postings (`dl = sum(tf)`),
    * including zero-token docs (`stats.DocLengths[nodeID] = len(tokens)`
    * even when 0) via a left join against the full id set.
    */
  def docLengthsFromPostings(allIds: DataFrame, post: DataFrame,
                             idCol: String): DataFrame =
    allIds.join(post.groupBy(col(idCol)).agg(sum(col("tf")).as("dl")),
        Seq(idCol), "left")
      .na.fill(0L, Seq("dl"))

  /** Per-document analyzed length, including zero-token docs. */
  def docLengths(docs: DataFrame, idCol: String, textCol: String,
                 lang: String = "english"): DataFrame =
    docLengthsFromPostings(docs.select(col(idCol)),
      postings(docs, idCol, textCol, lang), idCol)

  /** Score all documents matching `queryText`; returns (id, score).
    * Candidates = union of posting lists of the analyzed query tokens.
    * `limit = Some(k)` keeps the top k sorted by score descending (ties
    * broken by id); `None` returns every hit in no particular order.
    */
  def search(docs: DataFrame, idCol: String, textCol: String, queryText: String,
             lang: String = "english", limit: Option[Int] = None): DataFrame =
    // Postings materialized once (r19): [[searchPostings]] consumes them
    // three ways (doc lengths, query-token df, the scoring join) — without
    // a checkpoint the analyze/stem corpus scan re-inlines per consumer.
    searchPostings(docs.select(col(idCol)),
      postings(docs, idCol, textCol, lang).localCheckpoint(), idCol,
      Analyzer.analyze(queryText, lang), limit)

  /** BM25 over pre-built postings — the deployment entry point (postings
    * materialized + bucketed by token; only this plan runs per query batch).
    *
    * An empty analyzed query (e.g. all stopwords) returns a typed empty
    * (id, score) result — mirrors `FindIDsByTextSearch` returning nil so
    * hybrid fusion can degrade gracefully (`core.go:1965`).
    *
    * @param limit `Some(k)`: the top k by (score desc, id asc), sorted.
    *   `None`: the full hit set, UNSORTED.
    */
  def searchPostings(allIds: DataFrame, post: DataFrame, idCol: String,
                     queryTokens: Seq[String],
                     limit: Option[Int] = None): DataFrame = {
    val spark = allIds.sparkSession
    import spark.implicits._

    if (queryTokens.isEmpty)
      return allIds.limit(0).withColumn("score", lit(0.0))

    // Repeated query tokens score multiply (ops iterate raw query tokens).
    val q = queryTokens.groupBy(identity).map { case (t, xs) => (t, xs.size) }
      .toSeq.toDF("token", "qn")

    val dls = docLengthsFromPostings(allIds, post, idCol)
    val stats = dls.agg(
      count(lit(1)).as("total_docs"),
      avg(col("dl")).as("avg_dl"))

    // df(token) over the full postings, but only for query tokens.
    val dfreq = post.join(broadcast(q.select("token")), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))

    val idf = log(lit(1.0) +
      (col("total_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfPart = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avg_dl")))

    val scored = post
      .join(broadcast(q), Seq("token"))
      .join(broadcast(dfreq), Seq("token"))
      .join(dls, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("term_score", col("qn") * idf * tfPart)
      .groupBy(col(idCol))
      .agg(sum(col("term_score")).as("score"))
    // An unlimited call wants the full hit set, not a presentation order —
    // the fusion paths re-rank/normalize downstream, so sorting here was a
    // range exchange (sampling job + shuffle + sort) in the middle of every
    // ad-hoc text branch for nothing (guide §2.4: an orderBy that only
    // makes output deterministic). Ranked callers (a real `limit`) keep the
    // top-k contract via TakeOrderedAndProject.
    limit.fold(scored)(k => scored.orderBy(col("score").desc, col(idCol)).limit(k))
  }

  /** Batched BM25: score every query in `queryTokens` `(qid, token, qn)`
    * against the SAME postings in ONE plan — the corpus-side tables
    * (doc lengths, stats, per-token document frequencies) are computed once
    * and shared across all queries; per-query work is the broadcast
    * token-join plus one (qid, id) aggregation. Returns (qid, id, score),
    * score identical to [[searchPostings]] run per query.
    *
    * Scale shape: the postings scan appears once regardless of batch size;
    * the only per-batch shuffle is the final (qid, id) aggregation, whose
    * width is (query hits), not (corpus × queries). (A flipped build side —
    * broadcast postings, stream qid-partitioned queries — was measured
    * slower on the degenerate-vocabulary bench corpus and doesn't scale to
    * large postings; the query-broadcast shape is kept as the only path.)
    */
  /** All-token document frequencies `(token, df)` — the third corpus-side
    * derived table (after postings and doc lengths) a persistent deployment
    * materializes; the reference maintains it incrementally on write
    * (`core.go:1413-1462`).
    */
  def tokenDf(post: DataFrame): DataFrame =
    post.groupBy(col("token")).agg(count(lit(1)).as("df"))

  /** The full query-independent term-weight expression: everything in a
    * BM25 term score except the query-side multiplicity `qn`. ONE
    * definition shared by the batch plan and the serving-index build, so
    * the two paths' per-(token, doc) contributions are bit-identical
    * ([[termWeightOf]] is its plain-value twin for the one-pass segment
    * build; `SegmentBuildSpec` pins the two bit-for-bit).
    * Expects `df`, `dl`, `total_docs`, `avg_dl`, `tf` in scope.
    */
  private[graft] def termWeight: org.apache.spark.sql.Column = {
    val idf = log(lit(1.0) +
      (col("total_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfPart = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avg_dl")))
    idf * tfPart
  }

  /** [[termWeight]] for one (token, doc) on plain values — the same
    * operations in the same order (long `total_docs - df`, doubles from
    * there on, `StrictMath.log` as Catalyst's `Log` evaluates), so the
    * result is bit-identical to the Column expression. Used by the
    * one-pass segment build ([[graft.search.ServingFusion.buildSegment]]),
    * which weighs postings inside a partition instead of through joins.
    */
  def termWeightOf(tf: Long, df: Long, dl: Long, n: Long, avgDl: Double): Double = {
    val idf = StrictMath.log(1.0 + ((n - df).toDouble + 0.5) / (df.toDouble + 0.5))
    val tfPart = (tf.toDouble * (k1 + 1.0)) /
      (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / avgDl))
    idf * tfPart
  }

  /** Fully-weighted postings `(token, idCol, w)` over the WHOLE
    * vocabulary — the corpus-side artifact a text-serving index is built
    * from ([[graft.search.ServingFusion.buildShards]]). Offline build
    * shape: plain shuffles, no broadcasts (`tokenDf` is
    * vocabulary-sized).
    *
    * @param frozenStats `(total_docs, avg_dl)` pinned at an offline
    *   stats-refresh instead of derived from `dls` — the incremental-
    *   ingest contract ([[graft.search.ServingFusion.appendCombined]]):
    *   a new segment's weights must use the SAME corpus scalars the base
    *   index was built with, or every already-served doc's score drifts
    *   per micro-batch. None (the default) derives them from `dls`.
    */
  def weightedPostings(post: DataFrame, dls: DataFrame, tdf: DataFrame,
                       idCol: String,
                       frozenStats: Option[(Long, Double)] = None): DataFrame = {
    val stats = frozenStats match {
      case Some((n, avgDl)) =>
        dls.sparkSession.range(1)
          .select(lit(n).as("total_docs"), lit(avgDl).as("avg_dl"))
      case None =>
        dls.agg(
          count(lit(1)).as("total_docs"),
          avg(col("dl")).as("avg_dl"))
    }
    post
      .join(tdf, Seq("token"))
      .join(dls, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col("token"), col(idCol), termWeight.as("w"))
  }

  /** The frozen-stats scalars for [[weightedPostings]]: `(total_docs,
    * avg_dl)` over a doc-lengths frame — computed once at build/refresh
    * time and carried as a serving artifact.
    */
  def corpusStats(dls: DataFrame): (Long, Double) = {
    val r = dls.agg(count(lit(1)), avg(col("dl"))).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** @param prebuiltDocLengths materialized [[docLengthsFromPostings]]
    *   output; without it every batch re-scans the postings to derive it.
    * @param prebuiltTokenDf materialized [[tokenDf]] output (same reason).
    */
  def searchPostingsBatch(allIds: DataFrame, post: DataFrame, idCol: String,
                          queryTokens: DataFrame,
                          prebuiltDocLengths: Option[DataFrame] = None,
                          prebuiltTokenDf: Option[DataFrame] = None): DataFrame = {
    val dls = prebuiltDocLengths.getOrElse(
      docLengthsFromPostings(allIds, post, idCol))
    val stats = dls.agg(
      count(lit(1)).as("total_docs"),
      avg(col("dl")).as("avg_dl"))

    // df(token) once per distinct token across the whole batch — document
    // frequency is query-independent.
    val dfreq = prebuiltTokenDf match {
      case Some(tdf) => tdf.join(
        broadcast(queryTokens.select(col("token")).distinct()), Seq("token"))
      case None => tokenDf(post.join(
        broadcast(queryTokens.select(col("token")).distinct()), Seq("token")))
    }

    // Everything in the term score except the query-side multiplicity `qn`
    // is a function of (token, doc): precompute `w = idf * tfPart`
    // ([[termWeight]]) on the postings subtree (its size is the postings',
    // not the hit set's), so the (queries × postings) hot stage is ONE
    // thin hash join + aggregate — few operators (stays inside whole-stage
    // codegen), narrow rows.
    val wPost = post
      .join(broadcast(dfreq), Seq("token"))
      .join(dls, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col("token"), col(idCol), termWeight.as("w"))

    wPost.join(broadcast(queryTokens), Seq("token"))
      .withColumn("term_score", col("qn") * col("w"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("term_score")).as("score"))
  }

  /** Max-normalization of text scores for fusion —
    * `normalizeTextScores` (`search_utils.go:55-69`).
    */
  def maxNormalized(scored: DataFrame, scoreCol: String = "score"): DataFrame = {
    val mx = scored.agg(max(col(scoreCol)).as("_mx"))
    scored.crossJoin(broadcast(mx))
      .withColumn(scoreCol,
        when(col("_mx") > 0, col(scoreCol) / col("_mx")).otherwise(col(scoreCol)))
      .drop("_mx")
  }
}
