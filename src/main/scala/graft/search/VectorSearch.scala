package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Exact k-NN — the reference's correctness surface
  * (`BruteForceIndex.SearchWithScores`, `pkg/core/vector_index.go:104`;
  * HNSW is an approximation of exactly this ranking).
  *
  * Scale design:
  *   - Single query: `orderBy(dist).limit(k)` plans as
  *     `TakeOrderedAndProject` — per-partition top-k, merge on driver, NO
  *     shuffle of the scored set.
  *   - Batched queries: broadcast the (small) query table, cross-join against
  *     the (huge) vector table so scoring is map-side only, then rank with
  *     the bounded [[graft.functions.TopK]] aggregate — a k-sized insertion
  *     buffer per query with map-side partial merge, so only ~k rows per
  *     (query, input-partition) are shuffled and NOTHING is sorted (the
  *     previous `row_number` window's WindowGroupLimit still sorted every
  *     scored partition). This survives a 1000-executor 100 TB scan.
  *
  * Ties broken by id ascending for determinism (the reference's sort is
  * stable on insertion order; any fixed total order matches its recall
  * oracle).
  */
object VectorSearch {

  /** Distance column per metric over possibly-raw vectors. `normalized` says
    * whether stored+query vectors were already normalized at ingest (the
    * reference normalizes at insert AND query for cosine —
    * `hnsw_index.go:3023`, `:410-417`).
    */
  def distCol(metric: String, v: Column, q: Column, normalized: Boolean = false,
              wide: Boolean = false): Column =
    (metric, wide) match {
      case ("euclidean", false)            => euclideanSq(v, q)
      case ("euclidean", true)             => euclideanSqWide(v, q)
      case ("cosine", false) if normalized => cosineDistance(v, q)
      case ("cosine", false)               => cosineDistance(normalize(v), normalize(q))
      case ("cosine", true)                => lit(1.0) - cosineSimilarityWide(v, q)
      case (m, _) => throw new IllegalArgumentException(s"unsupported metric: $m")
    }

  /** Single-query exact top-k with optional allow-list filter pushed BELOW
    * scoring (the reference pushes its bitmap into HNSW traversal; Catalyst
    * pushes the predicate into the scan).
    */
  def topK(
      vectors: DataFrame,
      query: Seq[Float],
      k: Int,
      metric: String = "euclidean",
      idCol: String = "id",
      vecCol: String = "vector",
      filter: Option[Column] = None,
      wide: Boolean = false): DataFrame = {
    val q = lit(query.toArray).cast("array<float>")
    val base = filter.fold(vectors)(vectors.filter)
    base
      .withColumn("distance", distCol(metric, col(vecCol), q, normalized = false, wide = wide))
      .orderBy(col("distance"), col(idCol))
      .limit(k)
  }

  /** Batched exact top-k: one row per (query id, neighbor rank).
    *
    * @param queries small DataFrame `(qid, qvec)` — broadcast.
    * @param wide    double-precision accumulation (oracle parity).
    */
  def topKBatch(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String = "euclidean",
      idCol: String = "id",
      vecCol: String = "vector",
      qidCol: String = "qid",
      qvecCol: String = "qvec",
      filter: Option[Column] = None,
      wide: Boolean = false,
      normalized: Boolean = false,
      pairFilter: Option[Column] = None): DataFrame = {
    val base = filter.fold(vectors)(vectors.filter)
    val d: Column = (metric, wide) match {
      case ("euclidean", false)            => euclideanSq(col(vecCol), col(qvecCol))
      case ("euclidean", true)             => euclideanSqWide(col(vecCol), col(qvecCol))
      case ("cosine", false) if normalized => cosineDistance(col(vecCol), col(qvecCol))
      case ("cosine", false)    => cosineDistance(normalize(col(vecCol)), normalize(col(qvecCol)))
      case ("cosine", true)     => lit(1.0) - cosineSimilarityWide(col(vecCol), col(qvecCol))
      case (m, _) => throw new IllegalArgumentException(s"unsupported metric: $m")
    }
    // pairFilter sees both sides of the broadcast cross join — the
    // per-(query, candidate) predicate filtered-kNN can't express (e.g.
    // hard-negative mining's label(candidate) != label(query)). It prunes
    // BEFORE the TopK aggregate, so the map-side partial state stays k.
    val scored = pairFilter.foldLeft(
        base.crossJoin(broadcast(queries)))((df, p) => df.filter(p))
      .withColumn("distance", d)
    scored
      .groupBy(col(qidCol))
      .agg(graft.functions.TopK.topK(
        col(idCol).cast("long"), col("distance"), k).as("_tk"))
      .select(col(qidCol), explode(col("_tk")).as("_e"))
      .select(col(qidCol), col("_e.id").as(idCol),
        col("_e.distance").as("distance"), col("_e.rank").as("rank"))
  }

  /** Binary-quantized batched search: 1-bit sign codes (32x smaller than
    * f32 — the far end of the precision ladder after f16/int8/PQ) generate
    * candidates by packed-word Hamming distance, then the top `rerank`
    * candidates per query rerank by exact double-precision cosine.
    *
    * Scale shape: the Hamming scan streams the CODES column only (8 bytes
    * per 64d vector) through a broadcast cross join + the bounded TopK
    * aggregate — same map-side-partial discipline as [[topKBatch]], but
    * over 1/32 the bytes. The rerank hydrates only nq x rerank full
    * vectors via a BROADCAST candidate list, so the f32 table is streamed
    * map-side too (no shuffle of either table at any stage). Ties break by
    * id at both stages for engine-independent determinism.
    */
  /** Stage 1 of the binary path standalone: top-`rerank` candidates per
    * query by packed-word Hamming distance, from the CODES table alone —
    * the scan a deployment actually pays per query (the f32 table stays
    * cold). Same broadcast + bounded-TopK shape as [[topKBatch]], over
    * 1/32 the bytes. Output: (qid, id, hamming).
    */
  def binaryCandidates(
      codes: DataFrame,
      queries: DataFrame,
      rerank: Int,
      idCol: String = "id",
      qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val qcodes = queries.select(col(qidCol),
      packSignBits(col(qvecCol)).as("_qsigns"))
    codes.crossJoin(broadcast(qcodes))
      .withColumn("_h", hammingPacked(col("_signs"), col("_qsigns")))
      .groupBy(col(qidCol))
      .agg(graft.functions.TopK.topK(
        col(idCol), col("_h").cast("double"), rerank).as("_tk"))
      .select(col(qidCol), explode(col("_tk")).as("_e"))
      .select(col(qidCol), col("_e.id").as(idCol),
        col("_e.distance").cast("int").as("hamming"))
  }

  def binaryTopKBatch(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int,
      idCol: String = "id",
      vecCol: String = "vector",
      qidCol: String = "qid",
      qvecCol: String = "qvec",
      prebuiltCodes: Option[DataFrame] = None): DataFrame = {
    // Serving keeps the packed codes materialized (8 bytes per 64d vector;
    // the f32 table stays cold until rerank) — `prebuiltCodes` is that
    // layout: (idCol, _signs).
    val codes = prebuiltCodes.getOrElse(
      vectors.select(col(idCol).cast("long").as(idCol),
        packSignBits(col(vecCol)).as("_signs")))
    val cand = binaryCandidates(codes, queries, rerank, idCol, qidCol, qvecCol)
      .select(col(qidCol), col(idCol))
    exactCosineRerank(vectors, cand, queries, k, idCol, vecCol, qidCol, qvecCol)
  }

  /** Driver-side sign packing — the scalar twin of
    * [[graft.functions.ShingleUtil.packSignBits]] (same 32-bits-per-word
    * layout), for query vectors already collected to the driver.
    */
  private[search] def packSignsLocal(v: Array[Float]): Array[Long] = {
    val words = new Array[Long]((v.length + 31) / 32)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0f) words(i >> 5) |= 1L << (i & 31)
      i += 1
    }
    words
  }

  /** Serving-path binary index: per-partition primitive blocks of
    * (ids, row-major packed sign words, wordsPerVector) — the binary
    * analogue of [[Ivf.servingIndex]]'s contiguous float blocks. 8 bytes
    * per 64d vector resident; build once, serve every batch. The index
    * is resident in the sense of [[graft.core.Resident]] too: its first
    * action cuts its lineage, and an unpersisted index cannot be searched
    * again.
    */
  def servingIndexBinary(vectors: DataFrame, idCol: String = "id",
      vecCol: String = "vector")
      : org.apache.spark.rdd.RDD[(Array[Long], Array[Long], Int)] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    graft.core.Resident(vectors
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .rdd
      .mapPartitions { it =>
        val idBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
        val wordBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        it.foreach { case (id, v) =>
          idBuf += id
          wordBuf += packSignsLocal(v)
        }
        if (idBuf.isEmpty) Iterator.empty
        else {
          val ids = idBuf.toArray
          val w = wordBuf(0).length
          val flat = new Array[Long](ids.length * w)
          var r = 0
          while (r < ids.length) {
            // Uniform-dim assumption all serving indexes rely on: a ragged
            // vector must fail fast here, not silently truncate into the
            // flat block and corrupt Hamming distances.
            require(wordBuf(r).length == w,
              s"ragged binary vectors: row ${ids(r)} packs ${wordBuf(r).length} words, expected $w")
            System.arraycopy(wordBuf(r), 0, flat, r * w, w)
            r += 1
          }
          Iterator.single((ids, flat, w))
        }
      })
  }

  /** Stage 1 of the serving path standalone: top-`rerank` candidates per
    * query from the primitive sign-word blocks — one xor/popcount pass
    * into per-query bounded insertion buffers, partials merged through
    * [[Ivf.reducePartials]] (one reduce job at serving partition counts,
    * treeReduce above it). This is the per-batch cost the
    * serving state actually pays; the f32 rerank scan is the tail.
    * Output: (qid, id, distance = hamming, rank).
    *
    * The batch is checked before it is served: `rerank` must be at least
    * 1 and every query vector present (both on the driver), and a query
    * must pack to the index's words per vector. The index's width is only
    * known inside its blocks, so the scan checks that one, failing the
    * job with a message naming the query and both widths rather than
    * reading past a short query's words or scoring a long one's prefix.
    */
  def binaryServingCandidates(
      index: org.apache.spark.rdd.RDD[(Array[Long], Array[Long], Int)],
      queries: DataFrame,
      rerank: Int): DataFrame = {
    val op = "binaryServingCandidates"
    Ivf.requireAtLeastOne(op, "rerank", rerank)
    val spark = queries.sparkSession
    val qrows = queries.select(col("qid"), col("qvec")).collect()
      .map { r =>
        require(!r.isNullAt(1), s"$op: query ${r.getLong(0)} has no query vector")
        (r.getLong(0), r.getSeq[Float](1).toArray)
      }
    val qids = qrows.map(_._1)
    val bc = spark.sparkContext.broadcast(qrows.map(q => packSignsLocal(q._2)))
    val partials = index.mapPartitions { it =>
      val qws = bc.value
      val heaps = new Ivf.TopK(qws.length, rerank)
      it.foreach { case (ids, flat, w) =>
        var qi = 0
        while (qi < qws.length) {
          val qw = qws(qi)
          require(qw.length == w, s"$op: query ${qids(qi)} packs " +
            s"${qw.length} sign words, the index $w")
          var r = 0
          var off = 0
          while (r < ids.length) {
            var h = 0
            var j = 0
            while (j < w) {
              h += java.lang.Long.bitCount(flat(off + j) ^ qw(j)); j += 1
            }
            heaps.insert(qi, h.toDouble, ids(r))
            r += 1
            off += w
          }
          qi += 1
        }
      }
      Iterator.single(heaps)
    }
    val merged =
      try Ivf.reducePartials(partials, new Ivf.TopK(qids.length, rerank),
        (a: Ivf.TopK, b: Ivf.TopK) => a merge b)
      finally bc.destroy()
    Ivf.mergeTopK(spark, merged, qids, rerank)
  }

  /** Serving-path binary search — [[Ivf.searchBatchedFast]]'s discipline
    * applied to the 1-bit codes: queries are driver-bounded (packed on the
    * driver, broadcast once), candidates come from ONE xor/popcount pass
    * over the primitive blocks into per-query bounded insertion buffers,
    * partials merge through [[Ivf.reducePartials]] (one reduce job at
    * serving partition counts, treeReduce above it), and only the nq×R
    * candidates hydrate f32 vectors for the exact rerank. No shuffle of
    * the corpus at any stage; resident serving state is 1/32 of f32.
    */
  def searchBatchedFastBinary(
      index: org.apache.spark.rdd.RDD[(Array[Long], Array[Long], Int)],
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int,
      idCol: String = "id",
      vecCol: String = "vector"): DataFrame = {
    val cand = binaryServingCandidates(index, queries, rerank)
      .select(col("qid"), col("id").as(idCol))
    exactCosineRerank(vectors, cand, queries, k, idCol, vecCol)
  }

  /** Shared exact-rerank tail: hydrate the (small, broadcast) candidate
    * list's f32 vectors map-side, score in double cosine, rank with the
    * k-bounded aggregate.
    */
  private def exactCosineRerank(
      vectors: DataFrame,
      cand: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String,
      vecCol: String,
      qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val hydrated = vectors
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("_d", lit(1.0) - cosineSimilarityWide(col(vecCol), col(qvecCol)))
    hydrated
      .groupBy(col(qidCol))
      .agg(graft.functions.TopK.topK(col(idCol), col("_d"), k).as("_tk"))
      .select(col(qidCol), explode(col("_tk")).as("_e"))
      .select(col(qidCol), col("_e.id").as(idCol),
        col("_e.distance").as("distance"), col("_e.rank").as("rank"))
  }

  /** IVF × binary composed: probe selection restricts the scan to nProbe
    * buckets (row pruning), the Hamming stage scores only the probed
    * buckets' packed sign words (32x byte pruning), exact cosine reranks
    * the top-R survivors. The 100 TB serving shape with the cheapest
    * possible candidate bytes: with `codesWithBuckets` materialized
    * bucket-partitioned, the per-query read is (probed partitions) x
    * (8 bytes per 64d vector).
    *
    * @param cents            (cid, cvec) — driver-bounded, broadcast.
    * @param codesWithBuckets (idCol, _signs, bucket) — the serving layout.
    */
  def binaryIvfTopKBatch(
      vectors: DataFrame,
      cents: DataFrame,
      codesWithBuckets: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int,
      nProbe: Int,
      idCol: String = "id",
      vecCol: String = "vector",
      qidCol: String = "qid",
      qvecCol: String = "qvec"): DataFrame = {
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("_pd", lit(1.0) - cosineSimilarityWide(col(qvecCol), col("cvec")))
      .groupBy(col(qidCol))
      .agg(graft.functions.TopK.topK(
        col("cid").cast("long"), col("_pd"), nProbe).as("_tk"))
      .select(col(qidCol), explode(col("_tk")).as("_e"))
      .select(col(qidCol), col("_e.id").as("bucket"))
    val qcodes = queries.select(col(qidCol),
      packSignBits(col(qvecCol)).as("_qsigns"))
    val probedQ = probes.join(qcodes, Seq(qidCol))
    val cand = codesWithBuckets.join(broadcast(probedQ), Seq("bucket"))
      .withColumn("_h", hammingPacked(col("_signs"), col("_qsigns")))
      .groupBy(col(qidCol))
      .agg(graft.functions.TopK.topK(
        col(idCol), col("_h").cast("double"), rerank).as("_tk"))
      .select(col(qidCol), explode(col("_tk")).as("_e"))
      .select(col(qidCol), col("_e.id").as(idCol))
    val hydrated = vectors
      .select(col(idCol).cast("long").as(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("_d", lit(1.0) - cosineSimilarityWide(col(vecCol), col(qvecCol)))
    hydrated
      .groupBy(col(qidCol))
      .agg(graft.functions.TopK.topK(col(idCol), col("_d"), k).as("_tk"))
      .select(col(qidCol), explode(col("_tk")).as("_e"))
      .select(col(qidCol), col("_e.id").as(idCol),
        col("_e.distance").as("distance"), col("_e.rank").as("rank"))
  }
}
