package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) partition-pruned approximate nearest neighbor — the
  * Spark-native scale strategy replacing the reference's HNSW (SURVEY §7.2
  * M9, §7.4 risk 8). HNSW is a per-node pointer graph that cannot shard
  * across executors; IVF is the idiomatic distributed equivalent:
  *
  *   1. coarse-quantize vectors to their nearest centroid (train: KMeans;
  *      or sampled centroids);
  *   2. store vectors partitioned/bucketed by centroid id — at 100 TB this
  *      is a partition column, so a probe reads only nProbe/k of the data
  *      (partition pruning does the work HNSW's graph descent does);
  *   3. a query ranks centroids (tiny broadcast), probes the nProbe nearest
  *      buckets, and exact-reranks inside them.
  *
  * Recall follows the usual IVF tradeoff (nProbe/numCentroids); the
  * reference's own recall oracle (`clients/python/stress_test_recall.py`)
  * is mirrored by [[recallAt]] against the exact `topKBatch`.
  */
object Ivf {

  /** Distance used throughout (cosine over raw vectors, double precision —
    * matches the DuckDB oracle formula).
    */
  private def dist(v: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
    lit(1.0) - VectorFunctions.cosineSimilarityWide(v, q)

  /** Metric-dispatched column distance: `cosine` (1 − similarity) or `l2`
    * (SQUARED euclidean — ranking-equivalent to true L2, no sqrt in the hot
    * path, exactly like the reference's `distance_go.go:58-72`).
    */
  private def distMetric(metric: String)(
      v: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
    metric match {
      case "l2" => VectorFunctions.euclideanSqWide(v, q)
      case _    => dist(v, q)
    }

  /** Assign each vector its nearest centroid: (id, vector, bucket).
    * Centroids are broadcast; the argmin is a `min(struct(dist, cid))`
    * aggregation — map-side partial, ties broken by centroid id.
    */
  def assign(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "id",
      vecCol: String = "vector",
      metric: String = "cosine"): DataFrame = {
    val scored = vectors.crossJoin(broadcast(centroids))
      .withColumn("d", distMetric(metric)(col(vecCol), col("cvec")))
    scored.groupBy(col(idCol))
      .agg(
        first(col(vecCol)).as(vecCol),
        min(struct(col("d"), col("cid"))).as("m"))
      .withColumn("bucket", col("m.cid"))
      .drop("m")
  }

  /** Deterministic Lloyd's KMeans over the vector table. Init = the k rows
    * with the smallest ids (deterministic, seedless); `iters` fixed
    * iterations of assign → mean. Each iteration is one aggregation job;
    * centroids live on the driver between iterations (k × dim floats — the
    * same driver-side footprint Spark ML's KMeans keeps).
    */
  def trainKMeans(
      vectors: DataFrame,
      k: Int,
      iters: Int = 5,
      idCol: String = "id",
      vecCol: String = "vector"): DataFrame = {
    val spark = vectors.sparkSession
    val base = vectors.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("v"))

    // Centroid rows live on the driver between iterations (k × dim — same
    // footprint Spark ML's KMeans keeps). Means are computed in double,
    // vectors fed back to the float codegen kernels as float.
    def centsDF(rows: Array[Row]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cvec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))))
        .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))

    // Init = the k smallest-id vectors (deterministic, seedless). The k rows
    // are collected anyway, so number them on the driver — no global-sort
    // window (TakeOrderedAndProject does the distributed top-k).
    var cents: Array[Row] = base.orderBy(col("id")).limit(k)
      .select(col("v").cast("array<double>").as("cvec"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => Row((i + 1).toLong, r.getSeq[Double](0)) }

    for (_ <- 1 to iters) {
      val assigned = base.crossJoin(broadcast(centsDF(cents)))
        .withColumn("d", dist(col("v"), col("cvec")))
        .groupBy(col("id"))
        .agg(first(col("v")).as("v"), min(struct(col("d"), col("cid"))).as("m"))
        .select(col("v"), col("m.cid").as("cid"))
      cents = assigned
        .select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("c"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cvec"))
        .collect()
    }
    centsDF(cents)
  }

  /** IVF search: probe the nProbe nearest centroid buckets per query, exact
    * cosine rerank inside. `assigned` is the (id, vector, bucket) table —
    * at deployment, a table partitioned by bucket so the probe join becomes
    * partition pruning. `normalized = true` uses the one-dot codegen kernel
    * (vectors pre-normalized at ingest, as the reference does for cosine).
    */
  def search(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "id",
      vecCol: String = "vector",
      normalized: Boolean = false,
      metric: String = "cosine"): DataFrame = {
    def d(v: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
      if (metric == "l2") VectorFunctions.euclideanSqWide(v, q)
      else if (normalized) VectorFunctions.cosineDistance(v, q)
      else dist(v, q)
    // A single-query frame (literal qid, or a plan whose maxRows is 1) must
    // never rank through a qid-partitioned window: Catalyst constant-folds
    // the partition key away (FoldablePropagation) and WindowExec runs with
    // an empty partition spec — every candidate row funnels through ONE
    // task. Rank via orderBy().limit() instead (TakeOrderedAndProject =
    // per-partition partial top-k, no full shuffle).
    val single = isSingleQuery(queries)
    // Rank centroids per query — queries × centroids is tiny. Drop BOTH
    // vectors before the ranking step (they'd ride the shuffle: 100-d
    // qvec + cvec per candidate row is ~100× the (qid, cid, cd) triple) and
    // re-attach qvec to the nProbe survivors from the tiny query frame.
    val scoredCents = queries.crossJoin(broadcast(centroids))
      .withColumn("cd", distMetric(metric)(col("qvec"), col("cvec")))
      .select(col("qid"), col("cid"), col("cd"))
    val cidType = scoredCents.schema("cid").dataType
    val ranked =
      (if (single)
         scoredCents.orderBy(col("cd"), col("cid")).limit(nProbe)
           .select(col("qid"), col("cid"))
       else
         // Bounded top-k aggregate, not a ranking window: the window path
         // SORTS every partition's (qid, cid, cd) rows then prunes, and its
         // qid exchange carries the full queries×centroids product; the
         // aggregate keeps an nProbe-sized insertion buffer per qid map-side
         // and ships one buffer per (partition, qid) through the exchange —
         // same ascending (cd, cid) ordering contract.
         scoredCents
           .groupBy(col("qid"))
           .agg(graft.functions.TopK.topK(
             col("cid").cast("long"), col("cd"), nProbe).as("_tk"))
           .select(col("qid"), explode(col("_tk")).as("_e"))
           .select(col("qid"), col("_e.id").cast(cidType).as("cid")))
        .select(col("qid"), col("cid").as("bucket"))
    val probes = ranked
      .join(broadcast(queries.select(col("qid"), col("qvec"))), Seq("qid"))
      .select(col("qid"), col("qvec"), col("bucket"))
    // Probe only the selected buckets (partition pruning at scale), rerank.
    val cand = assigned.join(broadcast(probes), Seq("bucket"))
      .withColumn("distance", d(col(vecCol), col("qvec")))
    rankTopK(cand, k, idCol, single)
  }

  /** Final candidate ranking. Batched frames rank through the bounded
    * [[graft.functions.TopK]] aggregate: a WindowGroupLimit still SORTS
    * every input partition's candidate rows before pruning, where the
    * aggregate keeps a k-sized insertion buffer per qid (O(n·log k), no
    * sort) and ships only nPartitions×k tiny buffers through the exchange
    * — identical ordering contract (ascending (distance, id), rank =
    * 1-based row_number). Single-query frames use `orderBy().limit(k)` +
    * [[withSortRank]] so the plan never contains a WindowExec whose
    * partition spec constant-folded to empty (VERDICT r06 what's-wrong #1).
    */
  private def rankTopK(cand: DataFrame, k: Int, idCol: String,
                       single: Boolean): DataFrame =
    if (single)
      withSortRank(
        cand.orderBy(col("distance"), col(idCol)).limit(k)
          .select(col("qid"), col(idCol), col("distance")))
    else
      cand
        .groupBy(col("qid"))
        .agg(graft.functions.TopK.topK(
          col(idCol).cast("long"), col("distance"), k).as("_tk"))
        .select(col("qid"), explode(col("_tk")).as("_e"))
        .select(col("qid"), col("_e.id").as(idCol),
          col("_e.distance").as("distance"), col("_e.rank").as("rank"))

  /** True when the query frame is statically known to hold a single query:
    * the optimized plan's `maxRows` is ≤ 1, or the qid column is a foldable
    * alias (e.g. `lit(0L).as("qid")`) — the case where Catalyst folds a
    * qid-partitioned window's partition spec to empty. The foldable-qid
    * branch additionally requires that `maxRows`, when statically known, is
    * ≤ 1: a multi-row constant-qid frame (degenerate — callers must give
    * each query vector a distinct qid) falls back to the windowed path,
    * whose per-qid ranking over one shared qid equals global ranking, so
    * both paths agree on that frame anyway (ADVICE r07). Pure plan
    * inspection; triggers analysis/optimization but no job.
    */
  private[search] def isSingleQuery(queries: DataFrame,
                                    qidCol: String = "qid"): Boolean = {
    val plan = queries.queryExecution.optimizedPlan
    val oneRow = plan.maxRows.exists(_ <= 1L)
    val rowBoundOk = plan.maxRows.forall(_ <= 1L)
    def constQid = rowBoundOk &&
      plan.output.find(_.name == qidCol).exists { attr =>
      var const = false
      plan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case a: org.apache.spark.sql.catalyst.expressions.Alias
              if a.exprId == attr.exprId && a.child.foldable => const = true
          case _ => ()
        })
      }
      const
    }
    oneRow || constQid
  }

  /** Attach `rank` = 1-based position in sort order to an already
    * sorted-and-limited frame WITHOUT a ranking window. The input plan is
    * `orderBy(...).limit(k)` — TakeOrderedAndProject emits the k survivors
    * as ONE sorted partition — so zipWithIndex is order-exact, lazy, and
    * adds no extra job (single partition ⇒ no offset-count pass).
    */
  private def withSortRank(topk: DataFrame): DataFrame = {
    val spark = topk.sparkSession
    val schema = org.apache.spark.sql.types.StructType(topk.schema.fields :+
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val ranked = topk.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1).toInt)
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Batch-serving IVF search: probe selection runs ON THE DRIVER against
    * the in-memory centroid arrays (exactly where HNSW's graph descent
    * happens), so the distributed plan is a single broadcast join over the
    * probed buckets + partial top-k — no probe-ranking stages, no extra
    * broadcasts. Use for driver-bounded query batches (serving); use
    * [[search]] when the query set is itself cluster-resident. Assumes
    * cosine over normalized vectors (the ANN module's metric); probes come
    * from [[probeAssignments]], like every served batch.
    */
  def searchBatchedLocal(
      assigned: DataFrame,
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "id",
      vecCol: String = "vector"): DataFrame = {
    requireAtLeastOne("searchBatchedLocal", "nProbe", nProbe)
    val spark = assigned.sparkSession
    import spark.implicits._
    val (qids, qvecs) = collectBatch("searchBatchedLocal", cents, queries,
      "cosine")
    val bucketQs = probeAssignments(cents, bucketAdj(cents, "cosine"),
      l2 = false, qvecs, nProbe)
    val probeRows = bucketQs.indices.flatMap { b =>
      Option(bucketQs(b)).toSeq.flatten
        .map(qi => (qids(qi), qvecs(qi).toSeq, b.toLong))
    }
    val probes = probeRows.toDF("qid", "qvec", "bucket")
      .select(col("qid"), col("qvec").cast("array<float>").as("qvec"), col("bucket"))
    val cand = assigned.join(broadcast(probes), Seq("bucket"))
      .withColumn("distance",
        VectorFunctions.cosineDistance(col(vecCol), col("qvec")))
    // One query ⇒ one distinct qid: a qid-partitioned window would funnel
    // every candidate through one task — take the orderBy/limit path.
    rankTopK(cand, k, idCol, single = qids.length <= 1)
  }

  // ---------------------------------------------------------------------
  // Batched serving over bucket-major primitive blocks. Every codec (f32,
  // int8, f16 here; residual PQ in [[Pq]]) shares two primitives:
  // [[bucketBlocks]] builds the index with the codec's row encoder and
  // block packer, and [[searchBlocks]] serves a batch with the codec's
  // query preparation and block kernel.
  // ---------------------------------------------------------------------

  /** Serving layout: the assigned table as BUCKET-MAJOR blocks — one
    * block per bucket per partition, holding the bucket's ids and its rows
    * packed into contiguous primitive arrays, ready to cache. Repeated
    * batched searches then skip Tungsten row decode entirely and stream
    * contiguous blocks — the distributed analogue of the reference's index
    * arena (`hnsw_index.go` keeps vectors in one flat slice per node for
    * the same reason: sequential prefetch). Grouping is PARTITION-LOCAL
    * (no shuffle): the bounded top-k scan is commutative across blocks, so
    * a bucket split over several partitions just yields several blocks. At
    * cluster scale each executor caches the blocks of its parquet
    * partitions as-is. `wholeBuckets` shuffles by bucket first, for a
    * codec whose kernel does per-block work worth amortizing over the
    * whole bucket.
    *
    * `encode` turns each row's vector into the codec's row as it arrives;
    * `pack` turns one bucket's ids and encoded rows into the codec's block.
    *
    * The index is resident ([[graft.core.Resident]]), and so is every serving
    * index built here ([[servingIndex]], [[servingIndexInt8]],
    * [[servingIndexF16]], [[Pq.servingIndexPqResidual]]): cache and
    * `count()` it once, and that action cuts its lineage, so a search's
    * task binary carries neither the assignment plan nor the packer's
    * closure (residual PQ's centroids and codebooks). An unpersisted index
    * cannot be searched again.
    */
  private[search] def bucketBlocks[R, B: scala.reflect.ClassTag](
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      wholeBuckets: Boolean = false)(
      encode: Array[Float] => R)(
      pack: (Long, Array[Long], scala.collection.IndexedSeq[R]) => B)
      : org.apache.spark.rdd.RDD[B] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val rows = assigned
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col("bucket").cast("long"))
    val placed = if (wholeBuckets) rows.repartition(col("bucket")) else rows
    graft.core.Resident(placed.as[(Long, Array[Float], Long)]
      .rdd
      .mapPartitions { it =>
        val byBucket = scala.collection.mutable.LongMap
          .empty[(scala.collection.mutable.ArrayBuffer[Long],
                  scala.collection.mutable.ArrayBuffer[R])]
        it.foreach { case (id, v, b) =>
          val e = byBucket.getOrElseUpdate(b,
            (scala.collection.mutable.ArrayBuffer.empty[Long],
             scala.collection.mutable.ArrayBuffer.empty[R]))
          e._1 += id
          e._2 += encode(v)
        }
        byBucket.iterator.map { case (b, (idBuf, rowBuf)) =>
          pack(b, idBuf.toArray, rowBuf)
        }
      })
  }

  /** Equal-length rows concatenated into one row-major block. */
  private def flatten[T: scala.reflect.ClassTag](
      rows: scala.collection.IndexedSeq[Array[T]]): Array[T] = {
    val dim = if (rows.isEmpty) 0 else rows(0).length
    val flat = new Array[T](rows.length * dim)
    var r = 0
    while (r < rows.length) {
      System.arraycopy(rows(r), 0, flat, r * dim, dim)
      r += 1
    }
    flat
  }

  /** A served batch's (qids, query vectors), collected to the driver and
    * checked by [[checkBatch]].
    */
  private def collectBatch(
      op: String,
      cents: Array[Array[Float]],
      queries: DataFrame,
      metric: String): (Array[Long], Array[Array[Float]]) = {
    val rows = queries.select(col("qid"), col("qvec")).collect()
    val qids = rows.map(_.getLong(0))
    val qvecs = rows.map(r =>
      if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
    checkBatch(op, cents, qids, qvecs, metric)
    (qids, qvecs)
  }

  /** Validate a served batch before any scan: the metric must be
    * `"cosine"` or `"l2"`, and every query vector must be present and as
    * long as the centroids — a shorter one would fail inside
    * [[probeAssignments]]' parallel loop, a longer one would score only its
    * prefix. The batched IVF searches and combined serving
    * ([[ServingFusion]]) both run it.
    */
  private[search] def checkBatch(
      op: String,
      cents: Array[Array[Float]],
      qids: Array[Long],
      qvecs: Array[Array[Float]],
      metric: String): Unit = {
    require(metric == "cosine" || metric == "l2",
      s"$op: unknown metric '$metric' (served batches take \"cosine\" or " +
        "\"l2\")")
    val dim = if (cents.isEmpty) -1 else cents(0).length
    qids.indices.foreach { i =>
      require(qvecs(i) != null, s"$op: query ${qids(i)} has no query vector")
      require(dim < 0 || qvecs(i).length == dim,
        s"$op: query ${qids(i)} has ${qvecs(i).length} dimensions, the " +
          s"centroids $dim")
    }
  }

  /** Reject a top-k bound or probe count below 1 on the driver, naming the
    * op: a [[TopK]] (or any bounded partial built like it) of size 0 would
    * fail in every task of the scan instead, and [[probeAssignments]] gives
    * no probes for `nProbe = 0` (the vector leg silently empties) and fails
    * for a negative one.
    */
  private[search] def requireAtLeastOne(op: String, name: String, v: Int): Unit =
    require(v >= 1, s"$op: $name = $v, must be at least 1")

  /** The probe/scan/merge driver of every batched search over a
    * [[bucketBlocks]] index: collect and validate the batch, pick each
    * query's probes on the driver ([[probeAssignments]] under `metric`),
    * broadcast the prepared queries with the bucket → probing-queries
    * lists, then ONE mapPartitions pass. Each partition makes its block
    * kernel once (`kernel(prepared)`, where the kernel keeps its
    * partition-local scratch) and calls it once per probed block with the
    * block's probing query indices (ascending) and the partition's
    * [[TopK]]. Only nPartitions×nq×k partial entries leave the executors;
    * they merge through [[reducePartials]], the broadcast is destroyed
    * (also when the pass fails), and [[mergeTopK]] returns (qid, id,
    * distance, rank). No shuffle, no ranking window: the join+window plan
    * pays a fixed multi-stage cost that dwarfs the math at serving batch
    * sizes.
    */
  private[search] def searchBlocks[B, Q](
      op: String,
      index: org.apache.spark.rdd.RDD[B],
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      metric: String)(
      bucketOf: B => Long)(
      prepare: Array[Array[Float]] => Q)(
      kernel: Q => (B, Array[Int], TopK) => Unit): DataFrame = {
    requireAtLeastOne(op, "k", k)
    requireAtLeastOne(op, "nProbe", nProbe)
    val spark = queries.sparkSession
    val (qids, qvecs) = collectBatch(op, cents, queries, metric)
    val nq = qids.length
    val bucketQs = probeAssignments(cents, bucketAdj(cents, metric),
      metric == "l2", qvecs, nProbe)
    val bc = spark.sparkContext.broadcast((prepare(qvecs), bucketQs))
    val partials = index.mapPartitions { it =>
      val (q, bq) = bc.value
      val scan = kernel(q)
      val heaps = new TopK(nq, k)
      it.foreach { blk =>
        val b = bucketOf(blk)
        val qs = if (b < bq.length) bq(b.toInt) else null
        if (qs != null) scan(blk, qs, heaps)
      }
      Iterator.single(heaps)
    }
    val merged =
      try reducePartials(partials, new TopK(nq, k), (a: TopK, b: TopK) => a merge b)
      finally bc.destroy()
    mergeTopK(spark, merged, qids, k)
  }

  /** f32 serving layout: (bucket, ids, flat row-major vector block). */
  def servingIndex(assigned: DataFrame, idCol: String = "id",
                   vecCol: String = "vector"): org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Float])] =
    bucketBlocks(assigned, idCol, vecCol)(v => v) { (b, ids, rows) =>
      (b, ids, flatten(rows))
    }

  /** Batch-serving IVF search over a cached [[servingIndex]] through
    * [[searchBlocks]]: the reference's AVX-kernel-over-arena hot loop
    * re-expressed per partition. The scan is QUERY-TILED (rows outer, 4
    * probing queries inner): the block scan is bandwidth-bound, so each
    * row is streamed once per 4-query tile instead of once per query, and
    * the four dot chains give the ILP a single serial float chain lacks.
    * Each per-query sum still accumulates sequentially in j — bit-identical
    * arithmetic to [[graft.functions.VectorFunctions.cosineDistance]].
    * Cosine is `1 − dot` (pre-normalized vectors); l2 is SQUARED euclidean
    * ‖x‖² − 2x·q + ‖q‖² — the [[VecCodec.F32]] finishes.
    */
  def searchBatchedFast(
      index: org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Float])],
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      metric: String = "cosine"): DataFrame = {
    val l2 = metric == "l2"
    searchBlocks("searchBatchedFast", index, cents, queries, k, nProbe,
        metric)(_._1)(VecCodec.F32.prepare(_, l2)) { q =>
      val qvs = q.qvecs
      val qsq = q.qsq
      // Per-block ‖x‖² scratch for the L2 path, computed ONCE per probed
      // block (same sequential float accumulation as the fused loop it
      // replaces — bit-identical distances) and reused by every probing
      // query, so the per-query inner loop is dot-only: half the flops and
      // a single accumulation chain. Buffer grows to the largest block.
      var xsqBuf: Array[Float] = null
      (blk, qs, heaps) =>
        val ids = blk._2
        val flat = blk._3
        val dim = flat.length / math.max(ids.length, 1)
        if (l2) {
          if (xsqBuf == null || xsqBuf.length < ids.length)
            xsqBuf = new Array[Float](ids.length)
          var r = 0
          var off = 0
          while (r < ids.length) {
            var s = 0f; var j = 0
            while (j < dim) { val x = flat(off + j); s += x * x; j += 1 }
            xsqBuf(r) = s
            r += 1
            off += dim
          }
        }
        val xsq = xsqBuf
        // QUERY-TILED scan (rows outer, 4 probing queries inner): each
        // vector row is loaded from memory ONCE per tile and feeds four
        // independent dot chains — 4× less DRAM traffic than the
        // query-outer loop (the scan is bandwidth-bound: every probing
        // query used to re-stream the whole block) and 4-way ILP without
        // reassociating any per-query sum. Each dot accumulates
        // sequentially in j — bit-identical distances to the scalar
        // kernel.
        var i = 0
        while (i + 4 <= qs.length) {
          val qv0 = qvs(qs(i)); val qv1 = qvs(qs(i + 1))
          val qv2 = qvs(qs(i + 2)); val qv3 = qvs(qs(i + 3))
          var r = 0
          var off = 0
          while (r < ids.length) {
            var d0 = 0f; var d1 = 0f; var d2 = 0f; var d3 = 0f
            var j = 0
            while (j < dim) {
              val x = flat(off + j)
              d0 += x * qv0(j); d1 += x * qv1(j)
              d2 += x * qv2(j); d3 += x * qv3(j)
              j += 1
            }
            if (l2) {
              val xs = xsq(r)
              heaps.insert(qs(i), VecCodec.l2Dist(xs, d0, qsq(qs(i))), ids(r))
              heaps.insert(qs(i + 1), VecCodec.l2Dist(xs, d1, qsq(qs(i + 1))), ids(r))
              heaps.insert(qs(i + 2), VecCodec.l2Dist(xs, d2, qsq(qs(i + 2))), ids(r))
              heaps.insert(qs(i + 3), VecCodec.l2Dist(xs, d3, qsq(qs(i + 3))), ids(r))
            } else {
              heaps.insert(qs(i), VecCodec.cosineDist(d0), ids(r))
              heaps.insert(qs(i + 1), VecCodec.cosineDist(d1), ids(r))
              heaps.insert(qs(i + 2), VecCodec.cosineDist(d2), ids(r))
              heaps.insert(qs(i + 3), VecCodec.cosineDist(d3), ids(r))
            }
            r += 1
            off += dim
          }
          i += 4
        }
        while (i < qs.length) {
          val qi = qs(i)
          val qv = qvs(qi)
          var r = 0
          var off = 0
          while (r < ids.length) {
            var dot = 0f; var j = 0
            while (j < dim) { dot += flat(off + j) * qv(j); j += 1 }
            if (l2)
              heaps.insert(qi, VecCodec.l2Dist(xsq(r), dot, qsq(qi)), ids(r))
            else
              heaps.insert(qi, VecCodec.cosineDist(dot), ids(r))
            r += 1
            off += dim
          }
          i += 1
        }
    }
  }

  /** Per-query bounded top-k accumulator: insertion into k-sized sorted
    * parallel arrays, ties by id — the partial state both the executor pass
    * and the distributed merge share. Partials combine through
    * [[reducePartials]]: one reduce job at serving partition counts (each
    * task's state is nq×k entries — tiny), `treeReduce` above the
    * threshold so the driver never receives more than √partitions states
    * at 1000-executor scale.
    */
  private[search] final class TopK(nq: Int, k: Int) extends Serializable {
    val heapD: Array[Array[Double]] = Array.fill(nq)(Array.fill(k)(Double.MaxValue))
    val heapI: Array[Array[Long]] = Array.fill(nq)(Array.fill(k)(Long.MaxValue))
    def insert(qi: Int, d: Double, id: Long): Unit = {
      val hd = heapD(qi); val hi = heapI(qi)
      val last = k - 1
      if (d > hd(last) || (d == hd(last) && id > hi(last))) return
      var j = last
      while (j > 0 && (hd(j - 1) > d || (hd(j - 1) == d && hi(j - 1) > id))) {
        hd(j) = hd(j - 1); hi(j) = hi(j - 1); j -= 1
      }
      hd(j) = d; hi(j) = id
    }
    /** Fold `o` into this state. Bounded-top-k union with the (d, id)
      * tie-break is commutative and associative, so treeReduce order never
      * changes the result.
      */
    def merge(o: TopK): TopK = {
      var qi = 0
      while (qi < heapD.length) {
        val od = o.heapD(qi); val oi = o.heapI(qi)
        var j = 0
        while (j < od.length && od(j) < Double.MaxValue) {
          insert(qi, od(j), oi(j)); j += 1
        }
        qi += 1
      }
      this
    }
  }

  /** Final (qid, id, distance, rank) frame from the fully-merged state. */
  private[search] def mergeTopK(
      spark: org.apache.spark.sql.SparkSession,
      heaps: TopK,
      qids: Array[Long],
      k: Int): DataFrame = {
    import spark.implicits._
    val rows = qids.indices.flatMap { qi =>
      val hd = heaps.heapD(qi); val hi = heaps.heapI(qi)
      (0 until k).takeWhile(hd(_) < Double.MaxValue)
        .map(j => (qids(qi), hi(j), hd(j), j + 1))
    }
    rows.toDF("qid", "id", "distance", "rank")
  }

  /** Compressed serving layout: IVF bucket + int8 codes + precomputed norm
    * per vector — the reference's `DB.Compress` mode (HNSW over int8 with a
    * trained quantizer). 4× less resident memory than [[servingIndex]].
    */
  def servingIndexInt8(
      assigned: DataFrame,
      absMax: Double,
      idCol: String = "id",
      vecCol: String = "vector"): org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Byte], Array[Float])] =
    bucketBlocks(assigned, idCol, vecCol)(quantizeArray(_, absMax)) {
      (b, ids, rows) => (b, ids, flatten(rows), rows.map(int8Norm).toArray)
    }

  /** Reference quantization of one vector (`Quantizer.code` semantics:
    * clamp(round(x/absMax·127)) with HALF_UP rounding).
    */
  def quantizeArray(v: Array[Float], absMax: Double): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      val x = v(i).toDouble / absMax * 127.0
      val r = math.signum(x) * math.floor(math.abs(x) + 0.5)
      out(i) = math.max(-127.0, math.min(127.0, r)).toByte
      i += 1
    }
    out
  }

  /** `computeInt8Norm` (`hnsw_index.go:3339`): float32(sqrt(Σq²)). */
  def int8Norm(codes: Array[Byte]): Float = {
    var s = 0L
    var i = 0
    while (i < codes.length) { s += codes(i).toLong * codes(i); i += 1 }
    math.sqrt(s.toDouble).toFloat
  }

  /** [[searchBatchedFast]] over the COMPRESSED index: probe selection on
    * float centroids, candidate ranking with the integer-dot int8-cosine
    * kernel formula ([[VecCodec.int8Dist]]: precomputed norms, clamped) —
    * the quantized-domain search completing V9's story: the scan touches 1
    * byte per component. Queries are quantized once on the driver, as the
    * [[VecCodec.Int8]] codec prepares them.
    */
  def searchBatchedFastInt8(
      index: org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Byte], Array[Float])],
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      absMax: Double): DataFrame =
    searchBlocks("searchBatchedFastInt8", index, cents, queries, k, nProbe,
        "cosine")(_._1)(VecCodec.Int8(absMax).prepare(_, l2 = false)) { q =>
      val qcs = q.qcodes
      val qns = q.qnorms
      (blk, qs, heaps) =>
        val ids = blk._2
        val flat = blk._3
        val norms = blk._4
        val dim = flat.length / math.max(ids.length, 1)
        // QUERY-TILED integer scan (rows outer, 4 queries inner — see
        // the f32 kernel): one byte-row stream per tile, four integer
        // dot chains; integer adds are associative, so this is
        // bit-identical in any order.
        var i = 0
        while (i + 4 <= qs.length) {
          val qc0 = qcs(qs(i)); val qc1 = qcs(qs(i + 1))
          val qc2 = qcs(qs(i + 2)); val qc3 = qcs(qs(i + 3))
          val qn0 = qns(qs(i)).toDouble; val qn1 = qns(qs(i + 1)).toDouble
          val qn2 = qns(qs(i + 2)).toDouble; val qn3 = qns(qs(i + 3)).toDouble
          var r = 0
          var off = 0
          while (r < ids.length) {
            var d0 = 0; var d1 = 0; var d2 = 0; var d3 = 0
            var j = 0
            while (j < dim) {
              val x = flat(off + j).toInt
              d0 += x * qc0(j); d1 += x * qc1(j)
              d2 += x * qc2(j); d3 += x * qc3(j)
              j += 1
            }
            val norm = norms(r)
            heaps.insert(qs(i), VecCodec.int8Dist(d0, norm, qn0), ids(r))
            heaps.insert(qs(i + 1), VecCodec.int8Dist(d1, norm, qn1), ids(r))
            heaps.insert(qs(i + 2), VecCodec.int8Dist(d2, norm, qn2), ids(r))
            heaps.insert(qs(i + 3), VecCodec.int8Dist(d3, norm, qn3), ids(r))
            r += 1
            off += dim
          }
          i += 4
        }
        while (i < qs.length) {
          val qi = qs(i)
          val qc = qcs(qi)
          val qn = qns(qi).toDouble
          var r = 0
          var off = 0
          while (r < ids.length) {
            var dot = 0
            var j = 0
            while (j < dim) { dot += flat(off + j).toInt * qc(j).toInt; j += 1 }
            heaps.insert(qi, VecCodec.int8Dist(dot, norms(r), qn), ids(r))
            r += 1
            off += dim
          }
          i += 1
        }
    }

  /** Half-precision serving layout: IVF bucket + packed binary16 blocks —
    * the reference's Float16 precision mode backing the index
    * (`distance_go.go:43-47,139-141`: f16 storage supports EUCLIDEAN only,
    * so this path is the L2 family's). Half the resident bytes of
    * [[servingIndex]], same bucket-major partition-local block shape.
    */
  def servingIndexF16(
      assigned: DataFrame,
      idCol: String = "id",
      vecCol: String = "vector"): org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Short])] =
    bucketBlocks(assigned, idCol, vecCol) { v =>
      val bits = new Array[Short](v.length)
      var j = 0
      while (j < v.length) {
        bits(j) = graft.functions.F16.toBits(v(j)).toShort; j += 1
      }
      bits
    } { (b, ids, rows) => (b, ids, flatten(rows)) }

  /** [[searchBatchedFast]] over the HALF-PRECISION index: float-centroid
    * l2 probe selection, then the reference's f16 Euclidean formula
    * (`squaredEuclideanGoFloat16`, `distance_go.go:92-104`) — decode each
    * side to float32 (table-driven), diff², float accumulation. The query
    * is converted to f16 once up front, exactly as an f16 index stores it.
    */
  def searchBatchedFastF16(
      index: org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Short])],
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int): DataFrame =
    // The effective query the f16 index compares against: round-tripped
    // through binary16, decoded back to float for the kernel loop.
    searchBlocks("searchBatchedFastF16", index, cents, queries, k, nProbe,
        "l2")(_._1)(_.map(_.map(graft.functions.F16.roundTrip))) { qvs =>
      // Decode each probed block to float ONCE per batch (the decode is a
      // pure per-element table lookup, so caching it is bit-identical) and
      // let every probing query run the diff² loop over the float scratch —
      // the lookup cost amortizes across the queries probing the block.
      var decBuf: Array[Float] = null
      (blk, qs, heaps) =>
        val ids = blk._2
        val flat = blk._3
        val dim = flat.length / math.max(ids.length, 1)
        if (decBuf == null || decBuf.length < flat.length)
          decBuf = new Array[Float](flat.length)
        val dec = decBuf
        var p = 0
        while (p < flat.length) {
          dec(p) = graft.functions.F16.toFloat(flat(p) & 0xffff); p += 1
        }
        // QUERY-TILED diff² (rows outer, 4 queries inner — see the f32
        // kernel): each decoded row streams once per tile; every
        // per-query sum still accumulates sequentially in j, keeping the
        // BIT-FOR-BIT parity with [[graft.functions.F16.euclideanSq]]
        // (the reference's sequential float accumulation) that IvfSpec's
        // f16 case pins.
        var i = 0
        while (i + 4 <= qs.length) {
          val qv0 = qvs(qs(i)); val qv1 = qvs(qs(i + 1))
          val qv2 = qvs(qs(i + 2)); val qv3 = qvs(qs(i + 3))
          var r = 0
          var off = 0
          while (r < ids.length) {
            var s0 = 0f; var s1 = 0f; var s2 = 0f; var s3 = 0f
            var j = 0
            while (j < dim) {
              val x = dec(off + j)
              val a = x - qv0(j); val b = x - qv1(j)
              val c = x - qv2(j); val d = x - qv3(j)
              s0 += a * a; s1 += b * b; s2 += c * c; s3 += d * d
              j += 1
            }
            heaps.insert(qs(i), s0.toDouble, ids(r))
            heaps.insert(qs(i + 1), s1.toDouble, ids(r))
            heaps.insert(qs(i + 2), s2.toDouble, ids(r))
            heaps.insert(qs(i + 3), s3.toDouble, ids(r))
            r += 1
            off += dim
          }
          i += 4
        }
        while (i < qs.length) {
          val qi = qs(i)
          val qv = qvs(qi)
          var r = 0
          var off = 0
          while (r < ids.length) {
            var sum = 0f
            var j = 0
            while (j < dim) {
              val d = dec(off + j) - qv(j)
              sum += d * d; j += 1
            }
            heaps.insert(qi, sum.toDouble, ids(r))
            r += 1
            off += dim
          }
          i += 1
        }
    }

  // ---------------------------------------------------------------------
  // √N-scale build path: primitive-array KMeans + assignment.
  // ---------------------------------------------------------------------

  /** Argmax of cosine similarity (dot × centroid inverse norm; the row
    * vector's norm is constant across centroids). Ties → lower centroid id;
    * zero-norm centroids never win.
    */
  private[search] def bestBucket(cents: Array[Array[Float]], adj: Array[Float],
                         v: Array[Float], l2: Boolean): Int = {
    // One dot-product loop for both metrics, differing only in the final
    // score: cosine = dot × 1/‖c‖ (adj = inverse norm); l2 uses
    // argmin ‖v−c‖² ≡ argmax v·c − ‖c‖²/2 (adj = half squared norm) —
    // the per-vector ‖v‖² term is constant across centroids.
    var best = 0
    var bestScore = Float.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var dot = 0f
      var j = 0
      while (j < cv.length) { dot += cv(j) * v(j); j += 1 }
      val s = if (l2) dot - adj(c) else dot * adj(c)
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  /** Centroid score adjustments for [[bestBucket]] and [[probeAssignments]]
    * under `metric`: half the squared norm for l2, the inverse norm (0 for
    * a zero centroid) for cosine.
    */
  private[search] def bucketAdj(cents: Array[Array[Float]], metric: String): Array[Float] =
    cents.map { cv =>
      var s = 0.0; var j = 0
      while (j < cv.length) { s += cv(j).toDouble * cv(j); j += 1 }
      if (metric == "l2") (s / 2.0).toFloat
      else if (s == 0.0) 0f
      else (1.0 / math.sqrt(s)).toFloat
    }

  /** Probe selection for a serving batch: the nProbe lexicographically
    * (score, centroid-id)-smallest buckets per query, returned as
    * bucket → probing query indices (null = unprobed, ascending qi within
    * a bucket). Score: l2 → `adj(c) − dot` (adj = ‖c‖²/2), cosine →
    * `−dot × adj(c)` (adj = 1/‖c‖) — the formulas the serving kernels
    * always used. Two things make this the fast path of the per-batch
    * FIXED cost (which dominates serving latency once the probed scan is
    * small): selection is a bounded insertion into nProbe-sized sorted
    * arrays (K·log nProbe, no boxed K-tuple sort per query), and queries
    * rank their probes in parallel on the driver's cores. Double
    * comparisons go through `java.lang.Double.compare`, which orders
    * −0.0 < 0.0 exactly like the scala `Ordering[Double]` total order the
    * old `.sorted.take(nProbe)` used — selection is bit-identical.
    */
  private[search] def probeAssignments(
      cents: Array[Array[Float]],
      adj: Array[Float],
      l2: Boolean,
      qvecs: Array[Array[Float]],
      nProbe: Int): Array[Array[Int]] = {
    val nq = qvecs.length
    val np = math.min(nProbe, cents.length)
    if (np == 0) return new Array[Array[Int]](cents.length)
    val sel = new Array[Array[Int]](nq)
    java.util.stream.IntStream.range(0, nq).parallel().forEach { qi =>
      val qv = qvecs(qi)
      // Empty-slot sentinel is NaN, the MAXIMUM of Double.compare's total
      // order: every score — including NaN from a NaN query/centroid —
      // displaces it (NaN vs NaN compares 0 and falls to the id
      // tie-break, id < Int.MaxValue). So all np ≤ cents.length slots
      // always fill, NaN-scored buckets rank after every real score with
      // ascending-id ties, and the selection stays bit-identical to
      // `.sorted.take(nProbe)` under the Scala total order — which put
      // NaN last but still SELECTED it. A MaxValue sentinel here would
      // instead refuse NaN insertions and leak Int.MaxValue ids into the
      // assembly loop below (ArrayIndexOutOfBounds).
      val bd = Array.fill(np)(Double.NaN)
      val bi = Array.fill(np)(Int.MaxValue)
      val last = np - 1
      var c = 0
      while (c < cents.length) {
        val cv = cents(c)
        var dot = 0.0; var j = 0
        while (j < cv.length) { dot += cv(j).toDouble * qv(j); j += 1 }
        val s = if (l2) adj(c) - dot else -dot * adj(c)
        val cl = java.lang.Double.compare(s, bd(last))
        if (cl < 0 || (cl == 0 && c < bi(last))) {
          var p = last
          while (p > 0 && {
            val cp = java.lang.Double.compare(bd(p - 1), s)
            cp > 0 || (cp == 0 && bi(p - 1) > c)
          }) { bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1 }
          bd(p) = s; bi(p) = c
        }
        c += 1
      }
      sel(qi) = bi
    }
    // Deterministic assembly outside the parallel region: qi ascending
    // within each bucket's probe list, same order the sequential loop
    // produced.
    val bufs = new Array[scala.collection.mutable.ArrayBuilder.ofInt](cents.length)
    var qi = 0
    while (qi < nq) {
      val bs = sel(qi); var i = 0
      while (i < bs.length) {
        val c = bs(i)
        if (bufs(c) == null) bufs(c) = new scala.collection.mutable.ArrayBuilder.ofInt
        bufs(c) += qi
        i += 1
      }
      qi += 1
    }
    val bucketQs = new Array[Array[Int]](cents.length)
    var b = 0
    while (b < cents.length) {
      if (bufs(b) != null) bucketQs(b) = bufs(b).result()
      b += 1
    }
    bucketQs
  }

  /** Merge the per-partition bounded-top-k partials. Below `treeAt`
    * partitions, ONE reduce job sends each task's tiny state straight to
    * the driver — the tree's intermediate shuffle level is a whole extra
    * stage that costs more than the ≤treeAt small merges it saves, and at
    * serving batch sizes that stage was a visible slice of per-batch
    * latency. Above it (cluster scale: thousands of partitions), the
    * two-level treeReduce bounds driver inflow at √partitions states, the
    * property the TopK scaladoc promises. Merge is commutative +
    * associative, so the two shapes are result-identical.
    */
  private[search] def reducePartials[T](
      partials: org.apache.spark.rdd.RDD[T],
      zero: => T,
      combine: (T, T) => T,
      treeAt: Int = 256): T = {
    val parts = partials.getNumPartitions
    if (parts == 0) zero
    else if (parts <= treeAt) partials.reduce(combine)
    else partials.treeReduce(combine)
  }

  /** Lloyd's KMeans for LARGE k (√N-scale centroid counts): per-partition
    * primitive-array argmin with cluster-sum accumulators, merged on the
    * driver — the execution shape Spark ML's own KMeans uses. The
    * crossJoin/groupBy variant ([[trainKMeans]]) is kept for the small-k
    * oracle-checkable path; at k ≈ 640 it would push hundreds of millions
    * of Tungsten rows per iteration where this runs tight float loops.
    * Deterministic: init = the k smallest-id vectors; means in double;
    * empty clusters keep their previous center. Returns raw centroid arrays
    * (index = bucket id) for [[assignFast]] / [[centroidsDF]].
    */
  def trainKMeansArrays(
      vectors: DataFrame,
      k: Int,
      iters: Int = 3,
      idCol: String = "id",
      vecCol: String = "vector",
      metric: String = "cosine"): Array[Array[Float]] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val l2 = metric == "l2"
    val base = vectors
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    var cents: Array[Array[Float]] = base.orderBy(col(idCol)).limit(k)
      .collect().sortBy(_._1).map(_._2)
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast((cents, bucketAdj(cents, metric)))
      val stats = base.rdd.mapPartitions { it =>
        val (cs, adj) = bc.value
        val kk = cs.length
        val d = if (kk == 0) 0 else cs(0).length
        val sums = Array.ofDim[Double](kk, d)
        val counts = new Array[Long](kk)
        it.foreach { case (_, v) =>
          val b = bestBucket(cs, adj, v, l2)
          counts(b) += 1
          var j = 0
          while (j < d) { sums(b)(j) += v(j); j += 1 }
        }
        Iterator.tabulate(kk)(b => (b, (counts(b), sums(b))))
      }.reduceByKey { (a: (Long, Array[Double]), b: (Long, Array[Double])) =>
        var j = 0
        while (j < a._2.length) { a._2(j) += b._2(j); j += 1 }
        (a._1 + b._1, a._2)
      }.collect()
      val prev = cents
      cents = cents.clone()
      stats.foreach { case (b, (cnt, sum)) =>
        if (cnt > 0) cents(b) = sum.map(x => (x / cnt).toFloat) else cents(b) = prev(b)
      }
      bc.destroy()
    }
    cents
  }

  /** (cid, cvec) centroid frame from raw arrays — bucket id = array index. */
  def centroidsDF(spark: org.apache.spark.sql.SparkSession,
                  cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv) }.toSeq
      .toDF("cid", "cvec")
  }

  /** Assign every vector its nearest centroid with the primitive-array
    * argmax — one pass, no candidate-row explosion. Output matches
    * [[assign]]: (idCol, vecCol, bucket).
    */
  def assignFast(
      vectors: DataFrame,
      cents: Array[Array[Float]],
      idCol: String = "id",
      vecCol: String = "vector",
      metric: String = "cosine"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val l2 = metric == "l2"
    val bc = spark.sparkContext.broadcast((cents, bucketAdj(cents, metric)))
    vectors.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cs, adj) = bc.value
        it.map { case (id, v) => (id, v, bestBucket(cs, adj, v, l2).toLong) }
      }
      .toDF(idCol, vecCol, "bucket")
  }

  /** Recall@k of an approximate result against the exact result — the
    * reference's recall oracle method. Both inputs: (qid, id, rank ≤ k).
    */
  def recallAt(approx: DataFrame, exact: DataFrame, k: Int): Double = {
    val hits = exact.select(col("qid"), col("id"))
      .join(approx.select(col("qid"), col("id")), Seq("qid", "id"))
      .count()
    val total = exact.count()
    if (total == 0) 0.0 else hits.toDouble / total
  }

  // ------------------------------------------------------- drift repair

  /** Bucket-balance health of an assigned layout: max bucket size over the
    * median across all `expectedBuckets` centroids (missing buckets count
    * as empty — under drift, vectors pile into a few buckets and the rest
    * starve, which is exactly what this ratio surfaces). One k-row
    * aggregate; the collect is bounded by the centroid count, the same
    * driver-bounded class as the KMeans state itself.
    */
  def bucketSkew(assigned: DataFrame, expectedBuckets: Int): Double = {
    val counts = assigned.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    val all = (counts ++ Array.fill(
      math.max(0, expectedBuckets - counts.length))(0L)).sorted
    if (all.isEmpty) 0.0
    else all.last.toDouble / math.max(all(all.length / 2), 1L).toDouble
  }

  /** Offline drift repair for a streamed bucket-partitioned layout — the
    * batch analogue of the reference's `Refine`/`RunTurboRefine` index
    * maintenance (`pkg/core/hnsw/optimizer.go:273,644`). Streaming ingest
    * ([[graft.streaming.Streams.ivfIngest]]) assigns to FROZEN centroids;
    * when the data distribution drifts, new vectors crowd into whichever
    * old buckets are least wrong, probe recall decays, and nothing
    * re-learns the geometry. This job measures [[bucketSkew]] and, past
    * `threshold`, re-runs the full build (train on the CURRENT vectors +
    * re-assign) and writes the repaired layout to `outPath`.
    *
    * Rewrite-then-swap: `outPath` must differ from `layoutPath` (never
    * overwrite a layout being served/read — the caller swaps the serving
    * path after the write completes, like any index rebuild). Returns the
    * new centroids when a repair ran, None when the layout was healthy.
    */
  def repairLayout(
      spark: org.apache.spark.sql.SparkSession,
      layoutPath: String,
      outPath: String,
      k: Int,
      iters: Int = 3,
      threshold: Double = 4.0,
      metric: String = "cosine"): Option[Array[Array[Float]]] = {
    require(outPath != layoutPath, "repair writes a NEW layout (swap after)")
    val layout = spark.read.parquet(layoutPath)
    if (bucketSkew(layout, k) < threshold) None
    else {
      val vectors = layout.select(col("id"), col("vector"))
      val cents = trainKMeansArrays(vectors, k, iters, metric = metric)
      assignFast(vectors, cents, metric = metric)
        .write.mode("overwrite").partitionBy("bucket").parquet(outPath)
      Some(cents)
    }
  }
}
