package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.{Analyzer, Bm25}

/** Hybrid search fusion — reference `searchWithFusion`
  * (`pkg/engine/ops.go:896-1211`).
  *
  * Shape: the two score sub-plans are independent DataFrames (the
  * reference's two goroutines become two plan branches executed in one job),
  * joined full-outer on id, then
  * `alpha * coalesce(vec, 0) + (1-alpha) * coalesce(text, 0)`, decay
  * multiplier, sort desc, top-k.
  *
  * Semantics replicated:
  *   - vector scores normalized `1/(1+distance)` (absolute, NOT min-max);
  *   - text scores max-normalized per batch;
  *   - the VECTOR side contributes only its own top-k; the text side
  *     contributes every BM25 match (reference fuses the k vector results
  *     with all text results);
  *   - the allow-list predicate is pushed below vector scoring but applied
  *     AFTER text scoring (the reference filters BM25 results post-hoc, so
  *     corpus statistics are unaffected by the filter);
  *   - text-only queries (zero/absent query vector) return raw BM25 scores
  *     (`ops.go:976-996` — no normalization);
  *   - a text query that analyzes to zero tokens (all stopwords) degrades
  *     to vector-only, mirroring `FindIDsByTextSearch` returning nil;
  *   - alpha outside [0,1] falls back to 0.5.
  *
  * Query construction in [[searchWithFusionDF]] is fully lazy: the query
  * vector is a one-row DataFrame broadcast-joined in-plan — no driver
  * action. The batched form, [[searchWithFusionBatch]], runs its default
  * path eagerly as one scoring pass.
  */
object Fusion {

  final case class FusionParams(
      alpha: Double = 0.5,
      k: Int = 10,
      metric: String = "cosine",
      memory: Decay.MemoryConfig = Decay.MemoryConfig(),
      now: Long = 0L,
      wide: Boolean = false,
      lang: String = "english")

  /** Hybrid search with the query vector supplied as a one-row DataFrame
    * `(qvec)` (e.g. selected from a vector table) — stays lazy end-to-end.
    * `None` is a text-only query: raw BM25 scores, allow-list post-filter,
    * top-k.
    *
    * @param allowList optional id allow-list DataFrame (one `idCol` column)
    *   — the reference's graph-filter ∩ bitmap intersection
    *   (`ops.go:941-962`): restricts the VECTOR branch before scoring and
    *   the TEXT branch after (corpus statistics stay unfiltered).
    * @param prebuiltPostings materialized (id, token, tf) postings — the
    *   deployment layout; when provided the text branch skips the
    *   analyze/stem corpus scan entirely.
    * @param prebuiltVecTopK index-served vector candidates `(idCol,
    *   distance)`, already top-k — e.g. [[Ivf.search]] over the
    *   bucket-partitioned layout. When provided the vector branch skips the
    *   full table scan entirely (at scale the hybrid path should ride the
    *   ANN index, not rescan the corpus per query).
    *
    *   CONTRACT: the frame is ONE query's top-k with DISTINCT ids. A
    *   multi-query top-k with its qid column dropped would silently fuse
    *   duplicate ids; an in-plan guard asserts uniqueness and fails the job
    *   loudly instead.
    *
    *   FILTER SEMANTICS differ from the scan branch: here `filter` and
    *   `allowList` are applied AFTER top-k (they semi-join the k index
    *   candidates, so a selective predicate can leave far fewer than k
    *   vector contributions), while the scan branch filters BEFORE scoring
    *   and still returns k. Callers combining the index path with a
    *   selective filter should over-fetch (ask the index for k' > k, e.g.
    *   k/selectivity) — the same rule as the reference's filtered HNSW
    *   search, which widens its beam when a bitmap filter is active.
    */
  def searchWithFusionDF(
      table: DataFrame,
      idCol: String,
      vecCol: String,
      textCol: String,
      queryVecDF: Option[DataFrame],
      textQuery: String,
      params: FusionParams,
      filter: Option[Column] = None,
      allowList: Option[DataFrame] = None,
      prebuiltPostings: Option[DataFrame] = None,
      prebuiltVecTopK: Option[DataFrame] = None): DataFrame = {

    val alpha = if (params.alpha < 0 || params.alpha > 1) 0.5 else params.alpha
    val qTokens = Analyzer.analyze(textQuery, params.lang)

    def allowed(df: DataFrame): DataFrame =
      allowList.fold(df)(a => df.join(a.select(col(idCol)), Seq(idCol), "left_semi"))

    // Memory-view shared slim materialization (r20, VERDICT r19 #7): the
    // plan otherwise consumes `table` once for the doc-length id list and
    // once more for the decay metadata — for a memory view that is itself
    // a join, each consumer re-runs the join + both scans. When both
    // consumers are live, ONE narrow (id + metadata) projection is
    // checkpointed and feeds them. The vector branch keeps its own scan
    // (it needs the vectors; materializing the wide columns would copy the
    // corpus — guide §8: move the heavy bytes once, decide on slim rows).
    val metaCols = Seq("_created_at", "_last_accessed", "_pinned",
      "memory_layer", "_decay_model", "_access_count")
    def slimProjected(df: DataFrame): DataFrame = {
      val present = df.columns.toSet
      def c(name: String, default: Column): Column =
        if (present(name)) col(name) else default
      df.select(
        col(idCol),
        c("_created_at", lit(null).cast("double")).as("_created_at"),
        c("_last_accessed", lit(null).cast("double")).as("_last_accessed"),
        c("_pinned", lit(false)).as("_pinned"),
        c("memory_layer", lit(null).cast("string")).as("memory_layer"),
        c("_decay_model", lit(null).cast("string")).as("_decay_model"),
        c("_access_count", lit(0)).as("_access_count"))
    }
    val slim: Option[DataFrame] =
      if (qTokens.nonEmpty && textQuery.nonEmpty && params.memory.enabled &&
        (queryVecDF.nonEmpty || prebuiltVecTopK.nonEmpty))
        Some(slimProjected(table).localCheckpoint())
      else None
    def tableIds: DataFrame =
      slim.map(_.select(col(idCol))).getOrElse(table.select(col(idCol)))

    def textScored(): DataFrame = {
      // Ad-hoc postings materialized ONCE (r19, guide §2.4): searchPostings
      // consumes its postings three ways (doc lengths, query-token df, the
      // scoring join) and maxNormalized doubles the whole text subtree —
      // without a checkpoint the analyze/stem corpus scan was re-inlined
      // up to 6× per query (measured: 58 parquet scans in one h1 plan,
      // zero ReusedExchange). Deployments pass prebuiltPostings and skip
      // this entirely.
      val scored = Bm25.searchPostings(
        tableIds,
        prebuiltPostings.getOrElse(
          Bm25.postings(table, idCol, textCol, params.lang).localCheckpoint()),
        idCol, qTokens)
      val metaFiltered = filter match {
        case Some(pred) =>
          scored.join(table.filter(pred).select(col(idCol)), Seq(idCol), "left_semi")
        case None => scored
      }
      allowed(metaFiltered)
    }

    // CASE A: text only — raw BM25 scores, allow-list post-filter, top-k.
    if (queryVecDF.isEmpty && prebuiltVecTopK.isEmpty) {
      require(textQuery.nonEmpty, "empty hybrid query")
      return textScored().orderBy(col("score").desc, col(idCol)).limit(params.k)
        .select(col(idCol), col("score"))
    }

    // CASE B: hybrid / vector.
    val vecScores = prebuiltVecTopK match {
      // Index-served branch: candidates came from the ANN index; score and
      // post-filter them, never rescan the table. The distinct-id contract
      // is asserted in-plan over the ≤k candidate rows (tiny aggregation):
      // assert_true raises on the first duplicate id; the isNull filter is
      // always-true on success and only exists to keep the assertion
      // referenced through column pruning.
      case Some(v) =>
        val scored = v
          .groupBy(col(idCol))
          .agg(min(col("distance")).as("distance"), count(lit(1)).as("_nid"))
          .select(col(idCol),
            (lit(1.0) / (lit(1.0) + col("distance"))).as("vscore"),
            assert_true(col("_nid") === 1,
              lit("prebuiltVecTopK must be a single query's top-k " +
                "with distinct ids")).as("_chk"))
          .filter(col("_chk").isNull)
          .drop("_chk")
        allowed(filter match {
          case Some(pred) => scored.join(
            table.filter(pred).select(col(idCol)), Seq(idCol), "left_semi")
          case None => scored
        })
      // Scan branch: broadcast the one-row query, score map-side, top-k via
      // TakeOrderedAndProject (per-partition top-k, no full shuffle).
      // Cardinality guard (in-plan, stays lazy): a zero-row query DF would
      // silently degrade to (1-alpha)-scaled text scores and a multi-row
      // one would duplicate ids — fail loudly instead. limit(2) bounds the
      // check.
      case None =>
        val qOne = queryVecDF.get.select(col("qvec")).limit(2)
          .agg(count(lit(1)).as("qn"), first(col("qvec")).as("qvec"))
          .select(col("qvec"),
            assert_true(col("qn") === 1,
              lit("queryVecDF must have exactly one row")).as("qchk"))
        val base = allowed(filter.fold(table)(table.filter))
        base
          .crossJoin(broadcast(qOne))
          .drop("qchk")
          .withColumn("distance",
            VectorSearch.distCol(params.metric, col(vecCol), col("qvec"), wide = params.wide))
          .orderBy(col("distance"), col(idCol))
          .limit(params.k)
          .select(col(idCol),
            (lit(1.0) / (lit(1.0) + col("distance"))).as("vscore"))
    }

    val fusedBase =
      // Pure-vector request (no text query at all): fused = vscore.
      if (textQuery.isEmpty) vecScores.withColumn("fused", col("vscore"))
      // Text query present but analyzes to zero tokens (all stopwords):
      // the reference's Case B with nil text results scores alpha*vscore
      // (ops.go:1078) — keep absolute scores aligned, ranking unchanged.
      else if (qTokens.isEmpty)
        vecScores.withColumn("fused", lit(alpha) * col("vscore"))
      else {
        // Raw hit-set scores materialized before max-normalization: the
        // normalizer's max-aggregate and the fused join would otherwise
        // each re-run the whole text branch (the batch path's
        // prebuiltTextScores contract, applied to the single-query path).
        val tNorm = Bm25.maxNormalized(textScored().localCheckpoint())
          .withColumnRenamed("score", "tscore")
        vecScores.join(tNorm, Seq(idCol), "full_outer")
          .withColumn("fused",
            lit(alpha) * coalesce(col("vscore"), lit(0.0)) +
              lit(1.0 - alpha) * coalesce(col("tscore"), lit(0.0)))
      }

    val withDecay =
      if (!params.memory.enabled) fusedBase.withColumn("score", col("fused"))
      else {
        val meta = slim.getOrElse(slimProjected(table))
        fusedBase.join(meta, Seq(idCol), "left")
          .withColumn("score", col("fused") * Decay.factor(
            params.memory, lit(params.now.toDouble),
            col("_created_at"), col("_last_accessed"), col("_pinned"),
            col("memory_layer"), col("_decay_model"), col("_access_count")))
          .drop(metaCols: _*)
      }

    withDecay
      .orderBy(col("score").desc, col(idCol))
      .limit(params.k)
      .select(col(idCol), col("score"))
  }

  /** The per-doc decay factor over `table`'s memory metadata — None when
    * decay is disabled. Missing metadata columns default exactly as the
    * fused plan always defaulted them.
    */
  private def decayFactor(table: DataFrame, params: FusionParams): Option[Column] =
    if (!params.memory.enabled) None
    else {
      val present = table.columns.toSet
      def c(name: String, default: Column): Column =
        if (present(name)) col(name) else default
      Some(Decay.factor(
        params.memory, lit(params.now.toDouble),
        c("_created_at", lit(null).cast("double")),
        c("_last_accessed", lit(null).cast("double")),
        c("_pinned", lit(false)),
        c("memory_layer", lit(null).cast("string")),
        c("_decay_model", lit(null).cast("string")),
        c("_access_count", lit(0))))
    }

  /** The per-doc decay-factor frame `(idCol, _dec)` — None when decay is
    * disabled. [[decayFactor]] is the ONE definition both batch paths and
    * the serving-index build ([[ServingFusion.buildCombined]]) evaluate, so
    * their factors are bit-identical.
    */
  def decayFrame(table: DataFrame, idCol: String,
                 params: FusionParams): Option[DataFrame] =
    decayFactor(table, params).map(f => table.select(col(idCol), f.as("_dec")))

  /** Batched hybrid fusion: run MANY hybrid queries at once — the serving
    * shape that matches the reference's per-request `searchWithFusion`
    * throughput (`ops.go:896-1211` serves ~1k QPS; a per-query Spark job
    * pays a fixed multi-stage floor, so batch is the only route to parity).
    *
    * @param queries frame `(qid, qvec, qtext)` — one row per hybrid query.
    *   Driver-bounded batch (collected or broadcast). Every row must have a
    *   real (non-zero) query vector and a distinct qid; text-only queries
    *   go through [[searchWithFusionDF]] CASE A instead. A qtext that
    *   analyzes to zero tokens contributes no text rows, so its fused score
    *   degrades to `alpha * vscore` (times decay) — the reference's
    *   Case-B-with-nil-text semantics (`ops.go:1078`), same as the
    *   single-query path.
    *
    * Per-query semantics are IDENTICAL to [[searchWithFusionDF]] (vector
    * top-k `1/(1+d)` ⨝ per-query max-normalized BM25, alpha-weighted, decay,
    * top-k by (score desc, id asc)); `BatchFusionSpec` pins batch ==
    * per-query loop.
    *
    * Scale shape. Without a `prebuilt*` argument the batch runs eagerly as
    * three Spark jobs, with no shuffle of its own and no checkpoint:
    *   1. collect the queries: qid, query vector (normalized in-plan for
    *      narrow cosine) and analyzed tokens (no job for a local frame);
    *   2. [[Bm25.tokenStats]]: N, Σdl and the df of the batch's distinct
    *      tokens over the UNFILTERED table (skipped when no query has a
    *      token);
    *   3. one scoring pass over the filtered, allow-listed table with the
    *      batch broadcast. Per doc it computes the BM25 raw score of every
    *      query ([[Bm25.termWeightOf]], query tokens summed in sorted
    *      order), the distance to every query vector
    *      ([[graft.functions.VectorKernels]], the kernels' plain-value
    *      twins) and the decay factor, and feeds the serving core's
    *      [[ServingFusion.CombinedPartial]]: per query the text top-k by
    *      `-(raw·dec)`, the raw max over the kept hits, and the vector top-k
    *      whose entries carry their raw score, decay and has-text flag.
    *      Partials merge through [[Ivf.reducePartials]]; the driver blends
    *      them with [[ServingFusion.blendCombined]].
    * Executor state is O(nq·k) per partition; the result is a driver-built
    * frame of at most nq·k rows. A table that is itself a join (a memory
    * view) is planned once by job 2 and once by job 3.
    *
    * Scores match the DataFrame plan within summation order (the plan's
    * aggregate adds a doc's term scores in shuffle order), so near-tied
    * docs may swap at the k boundary. A zero-norm vector under wide cosine
    * has no distance and never enters the vector top-k (the plan divides by
    * zero there).
    *
    * With any `prebuilt*` argument the DataFrame plan
    * ([[searchWithFusionBatchPlan]]) runs instead; it is also the oracle
    * the one-pass path is specified against (`BatchFusionPropertySpec`).
    *
    * @param prebuiltVecTopK per-query index-served candidates
    *   `(qid, idCol, distance)` — the batch analogue of the single-query
    *   contract: each qid's rows must be that query's top-k with distinct
    *   ids (asserted in-plan).
    * @param prebuiltTextScores raw batched BM25 scores `(qid, idCol,
    *   score)` (i.e. [[Bm25.searchPostingsBatch]] output), typically
    *   PERSISTED by the caller. The fused plan consumes the text hit set
    *   several times (per-query max, top-k prune, vector-candidate
    *   lookup); Catalyst re-evaluates an inline subtree once per consumer,
    *   so a serving deployment materializes the batch's scores once and
    *   passes them here — the difference is ~3× on the text branch.
    */
  def searchWithFusionBatch(
      table: DataFrame,
      idCol: String,
      vecCol: String,
      textCol: String,
      queries: DataFrame,
      params: FusionParams,
      filter: Option[Column] = None,
      allowList: Option[DataFrame] = None,
      prebuiltPostings: Option[DataFrame] = None,
      prebuiltVecTopK: Option[DataFrame] = None,
      prebuiltTextScores: Option[DataFrame] = None): DataFrame =
    if (prebuiltPostings.isEmpty && prebuiltVecTopK.isEmpty &&
        prebuiltTextScores.isEmpty)
      fusionBatchOnePass(table, idCol, vecCol, textCol, queries, params,
        filter, allowList)
    else
      searchWithFusionBatchPlan(table, idCol, vecCol, textCol, queries,
        params, filter, allowList, prebuiltPostings, prebuiltVecTopK,
        prebuiltTextScores)

  /** The default path of [[searchWithFusionBatch]]: three jobs, one scoring
    * pass (see its scaladoc).
    */
  private def fusionBatchOnePass(
      table: DataFrame,
      idCol: String,
      vecCol: String,
      textCol: String,
      queries: DataFrame,
      params: FusionParams,
      filter: Option[Column],
      allowList: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{VectorFunctions, VectorKernels}
    val spark = table.sparkSession
    import spark.implicits._

    val alpha = if (params.alpha < 0 || params.alpha > 1) 0.5 else params.alpha
    val k = params.k
    // The plan's kernels (VectorSearch.topKBatch with normalized = preNorm).
    val preNorm = params.metric == "cosine" && !params.wide
    val distance: (ArrayData, ArrayData) => Double = (params.metric, params.wide) match {
      case ("euclidean", w) => VectorKernels.euclideanSq(_, _, w)
      case ("cosine", false) => VectorKernels.cosineDistance(_, _, wide = false)
      case ("cosine", true) => (a, b) => 1.0 - VectorKernels.cosineSimilarityWide(a, b)
      case (m, _) => throw new IllegalArgumentException(s"unsupported metric: $m")
    }
    def vec(c: Column): Column = {
      val v = c.cast("array<float>")
      if (preNorm) VectorFunctions.normalize(v) else v
    }

    // Job 1: the query batch.
    val qrows = queries.select(col("qid").cast("long"), vec(col("qvec")),
      Analyzer.analyzedTokens(col("qtext"), params.lang)).collect()
    val nq = qrows.length
    require(qrows.forall(!_.isNullAt(0)), "searchWithFusionBatch: null qid")
    val qids = qrows.map(_.getLong(0))
    require(qids.distinct.length == nq,
      "searchWithFusionBatch: duplicate qids in the batch")
    val qvecs: Array[Array[Float]] =
      qrows.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
    val qtoks: Array[Seq[String]] =
      qrows.map(r => if (r.isNullAt(2)) Seq.empty else r.getSeq[String](2))
    // The batch's distinct tokens, sorted; each query's terms as
    // (token index, multiplicity) in that order, which fixes every doc's
    // term-summation order.
    val vocab = qtoks.flatten.distinct.sorted
    val tokIx = vocab.zipWithIndex.toMap
    val qTerms: Array[Array[(Int, Int)]] = qtoks.map(_.groupBy(identity).toArray
      .map { case (t, xs) => (tokIx(t), xs.size) }.sortBy(_._1))

    // Job 2: corpus statistics for the batch's tokens.
    val stats =
      if (vocab.isEmpty) Bm25.TokenStats(0L, 0L, Array.emptyLongArray)
      else Bm25.tokenStats(table, textCol, vocab, params.lang)

    // Job 3: one scoring pass over the kept docs.
    val filtered = filter.fold(table)(table.filter)
    val kept = allowList.fold(filtered)(a =>
      filtered.join(a.select(col(idCol)), Seq(idCol), "left_semi"))
    val rows = kept.select(col(idCol).cast("long"),
        Analyzer.analyzedTokens(col(textCol), params.lang),
        vec(col(vecCol)),
        decayFactor(table, params).fold(lit(1.0))(coalesce(_, lit(1.0))))
      .queryExecution.toRdd
    val bc = spark.sparkContext.broadcast((vocab, qTerms, qvecs, stats))
    val partials = rows.mapPartitions { it =>
      val (voc, terms, qvs, st) = bc.value
      val ix = new java.util.HashMap[UTF8String, Integer]()
      voc.indices.foreach(i => ix.put(UTF8String.fromString(voc(i)), i))
      val qa: Array[ArrayData] =
        qvs.map(v => if (v == null) null else ArrayData.toArrayData(v))
      val tf = new Array[Long](voc.length)
      val w = new Array[Double](voc.length)
      val touched = new Array[Int](voc.length)
      val p = new ServingFusion.CombinedPartial(terms.length, k, k)
      it.foreach { r =>
        if (!r.isNullAt(0)) {
          val id = r.getLong(0)
          val dec = r.getDouble(3)
          var nt = 0
          if (!r.isNullAt(1)) {
            val toks = r.getArray(1)
            val dl = toks.numElements()
            var i = 0
            while (i < dl) {
              val t = ix.get(toks.getUTF8String(i))
              if (t != null) {
                if (tf(t) == 0) { touched(nt) = t; nt += 1 }
                tf(t) += 1
              }
              i += 1
            }
            i = 0
            while (i < nt) {
              val t = touched(i)
              w(t) = Bm25.termWeightOf(tf(t), st.df(t), dl, st.n, st.avgDl)
              i += 1
            }
          }
          val v = if (r.isNullAt(2)) null else r.getArray(2)
          var qi = 0
          while (qi < terms.length) {
            var raw = 0.0
            var hit = false
            val qt = terms(qi)
            var j = 0
            while (j < qt.length) {
              val t = qt(j)._1
              if (tf(t) > 0) { raw += qt(j)._2.toDouble * w(t); hit = true }
              j += 1
            }
            if (hit) {
              if (raw > p.text.maxRaw(qi)) p.text.maxRaw(qi) = raw
              p.text.insert(qi, -(raw * dec), id, raw, dec)
            }
            if (v != null && qa(qi) != null) {
              val d = distance(v, qa(qi))
              if (!d.isNaN) p.insertVec(qi, d, id, if (hit) raw else 0.0, dec, hit)
            }
            qi += 1
          }
          var i = 0
          while (i < nt) { tf(touched(i)) = 0; i += 1 }
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials,
      new ServingFusion.CombinedPartial(nq, k, k),
      (a: ServingFusion.CombinedPartial, b: ServingFusion.CombinedPartial) =>
        a.merge(b))
    bc.destroy()
    ServingFusion.blendCombined(qids, merged, alpha, k).toSeq
      .toDF("qid", idCol, "score")
      .select(col("qid").cast(queries.schema("qid").dataType),
        col(idCol).cast(table.schema(idCol).dataType), col("score"))
  }

  /** [[searchWithFusionBatch]] as one DataFrame plan — the path for the
    * `prebuilt*` arguments and the oracle of the one-pass default path.
    *
    * Scale shape: the corpus is scanned ONCE for the text branch (postings
    * + doc stats shared across the batch; per-query text work is a
    * broadcast token join) and ONCE for the vector branch (broadcast
    * queries + per-partition partial top-k before the qid exchange —
    * `prebuiltVecTopK` from [[Ivf.search]] replaces even that with
    * probed-bucket reads). All ranking windows are qid-partitioned, never
    * global. Without `prebuiltPostings`/`prebuiltTextScores` the ad-hoc
    * postings and the batch's raw scores are each `localCheckpoint`ed.
    */
  private[search] def searchWithFusionBatchPlan(
      table: DataFrame,
      idCol: String,
      vecCol: String,
      textCol: String,
      queries: DataFrame,
      params: FusionParams,
      filter: Option[Column] = None,
      allowList: Option[DataFrame] = None,
      prebuiltPostings: Option[DataFrame] = None,
      prebuiltVecTopK: Option[DataFrame] = None,
      prebuiltTextScores: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val alpha = if (params.alpha < 0 || params.alpha > 1) 0.5 else params.alpha

    def allowed(df: DataFrame): DataFrame =
      allowList.fold(df)(a => df.join(a.select(col(idCol)), Seq(idCol), "left_semi"))
    def metaFiltered(df: DataFrame): DataFrame = filter match {
      case Some(pred) =>
        df.join(table.filter(pred).select(col(idCol)), Seq(idCol), "left_semi")
      case None => df
    }

    // ---- text branch: one corpus scan, per-qid scores ----
    // Analyze query texts in-plan (same tokenizer/stemmer expressions as the
    // corpus side); duplicated query tokens score multiply, like the
    // single-query path.
    val rawText = allowed(metaFiltered(prebuiltTextScores.getOrElse {
      val qTokens = graft.text.Analyzer
        .tokensDF(queries.select(col("qid"), col("qtext")), "qtext", params.lang)
        .groupBy(col("qid"), col("token")).agg(count(lit(1)).as("qn"))
      // Ad-hoc postings + batch scores materialized ONCE (r19): the fused
      // plan consumes the hit set several times (per-query max, top-k
      // prune, fused join) and searchPostingsBatch consumes its postings
      // three ways — this is exactly the prebuiltTextScores persistence
      // the docstring asks serving callers for, applied to the ad-hoc
      // path (measured: 140 parquet scans in the h1_fusion_batch plan).
      val post = prebuiltPostings.getOrElse(
        Bm25.postings(table, idCol, textCol, params.lang).localCheckpoint())
      Bm25.searchPostingsBatch(table.select(col(idCol)), post, idCol, qTokens)
        .localCheckpoint()
    }))
    // Per-query max-normalization (normalizeTextScores, search_utils.go:55)
    // via groupBy + broadcast join back: the partial aggregation collapses
    // the hit set map-side (one row per qid per partition), where a per-qid
    // max WINDOW would shuffle and sort every hit row.
    val mx = rawText.groupBy(col("qid")).agg(max(col("score")).as("_mx"))
    val tNorm = rawText.join(broadcast(mx), Seq("qid"))
      .withColumn("tscore",
        when(col("_mx") > 0, col("score") / col("_mx")).otherwise(col("score")))
      .select(col("qid"), col(idCol), col("tscore"))

    // ---- vector branch: per-qid top-k ----
    val vecScores = prebuiltVecTopK match {
      case Some(v) =>
        val scored = v
          .groupBy(col("qid"), col(idCol))
          .agg(min(col("distance")).as("distance"), count(lit(1)).as("_nid"))
          .select(col("qid"), col(idCol),
            (lit(1.0) / (lit(1.0) + col("distance"))).as("vscore"),
            assert_true(col("_nid") === 1,
              lit("prebuiltVecTopK must hold per-qid top-k rows with " +
                "distinct ids")).as("_chk"))
          .filter(col("_chk").isNull)
          .drop("_chk")
        allowed(metaFiltered(scored))
      case None =>
        val base = allowed(filter.fold(table)(table.filter))
        // Cosine + narrow kernels: normalize each side ONCE in its own
        // projection, then score with the normalized kernel — the generic
        // path re-normalizes BOTH vectors per (query, doc) pair, i.e.
        // nq×N array allocations that dwarf the dot products. (The wide
        // path keeps raw-vector math for bit-exact oracle parity.)
        val preNorm = params.metric == "cosine" && !params.wide
        val (scanTable, scanQueries) =
          if (!preNorm) (base, queries.select(col("qid"), col("qvec")))
          else (
            base.withColumn(vecCol,
              graft.functions.VectorFunctions.normalize(col(vecCol))),
            queries.select(col("qid"),
              graft.functions.VectorFunctions.normalize(col("qvec")).as("qvec")))
        VectorSearch.topKBatch(
            scanTable, scanQueries, params.k,
            params.metric, idCol, vecCol, wide = params.wide,
            normalized = preNorm)
          .select(col("qid"), col(idCol),
            (lit(1.0) / (lit(1.0) + col("distance"))).as("vscore"))
    }

    // Per-doc decay factor computed ONCE as a (id, _dec) frame and joined
    // into both branches BEFORE fusion — it's needed early because the
    // text-side pruning below must rank by decayed contribution.
    val dec: Option[DataFrame] = decayFrame(table, idCol, params)
    def withDec(df: DataFrame, as: String): DataFrame = dec match {
      case Some(d) => df
        .join(d.withColumnRenamed("_dec", as), Seq(idCol), "left")
        .withColumn(as, coalesce(col(as), lit(1.0)))
      case None => df.withColumn(as, lit(1.0))
    }

    // EXACT text-side pruning. The text branch semantically contributes
    // every BM25 match, but a text-only row beaten by k text-only rows on
    // decayed contribution `(1-alpha)*tscore*_dec` can never reach the
    // final top-k (every vscore >= 0 only lifts the rows above it; ties
    // fall to the same id-ascending order the final rank uses). So the
    // full-outer fusion only needs, per qid: (a) the top-k text rows by
    // (tscore*_dec desc, id) and (b) any text row whose (qid, id) is in
    // the vector top-k (those carry their tscore into the fused sum).
    // Identical results, candidate set k+k instead of every match.
    // Mechanics: (a) ranks through the bounded [[graft.functions.TopK]]
    // aggregate on the NEGATED contribution (ascending -x ≡ descending x,
    // ties by id — the same total order as the window it replaces) —
    // k-sized buffers per qid, map-side partial merge, no sort of the hit
    // set; its keys union the vector keys into ONE broadcast semi-join
    // back into the hit set (map-side, no shuffle, no dropDuplicates).
    // The bm25 subtree below both consumers is identical, so ReuseExchange
    // serves its aggregation exchange once.
    val tWithDec = withDec(tNorm, "_dect")
    val vWithDec = withDec(vecScores, "_decv")
    val vecKeys = vWithDec.select(col("qid"), col(idCol))
    val tTopKeys = tWithDec
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topK(
        col(idCol).cast("long"), -(col("tscore") * col("_dect")),
        params.k).as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_e"))
      .select(col("qid"), col("_e.id").as(idCol))
    val keys = tTopKeys.unionByName(vecKeys).distinct()
    val tPruned = tWithDec.join(broadcast(keys), Seq("qid", idCol), "left_semi")

    vWithDec
      .join(tPruned, Seq("qid", idCol), "full_outer")
      .withColumn("fused",
        lit(alpha) * coalesce(col("vscore"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("tscore"), lit(0.0)))
      .withColumn("score",
        col("fused") * coalesce(col("_decv"), col("_dect"), lit(1.0)))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col(idCol))))
      .filter(col("_rk") <= params.k)
      .select(col("qid"), col(idCol), col("score"))
  }
}
