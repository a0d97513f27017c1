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
    * cosine over normalized vectors (the ANN module's metric).
    */
  def searchBatchedLocal(
      assigned: DataFrame,
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "id",
      vecCol: String = "vector"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val inv = invNorms(cents)
    val qrows = queries.select(col("qid"), col("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probeRows = qrows.flatMap { case (qid, qv) =>
      // Top-nProbe centroids by cosine (dot × centroid inverse norm; the
      // query norm is constant per query). Ties → lower cid, like search().
      val scored = cents.indices.map { c =>
        val cv = cents(c)
        var dot = 0.0; var j = 0
        while (j < cv.length) { dot += cv(j).toDouble * qv(j); j += 1 }
        (-dot * inv(c), c.toLong)
      }.sorted.take(nProbe)
      scored.map { case (_, cid) => (qid, qv.toSeq, cid) }
    }.toSeq
    val probes = probeRows.toDF("qid", "qvec", "bucket")
      .select(col("qid"), col("qvec").cast("array<float>").as("qvec"), col("bucket"))
    val cand = assigned.join(broadcast(probes), Seq("bucket"))
      .withColumn("distance",
        VectorFunctions.cosineDistance(col(vecCol), col("qvec")))
    // One query ⇒ one distinct qid: a qid-partitioned window would funnel
    // every candidate through one task — take the orderBy/limit path.
    rankTopK(cand, k, idCol, single = qrows.length <= 1)
  }

  /** Serving layout: the assigned table decoded to BUCKET-MAJOR primitive
    * blocks — rows of (bucket, ids, flat row-major vector block), ready to
    * cache. Repeated batched searches then skip Tungsten row decode entirely
    * and stream contiguous float blocks ([[searchBatchedFast]]) — the
    * distributed analogue of the reference's index arena (`hnsw_index.go`
    * keeps vectors in one flat slice per node for the same reason:
    * sequential prefetch). Grouping is PARTITION-LOCAL (no shuffle): the
    * bounded top-k scan is commutative across blocks, so a bucket split
    * over several partitions just yields several blocks. At cluster scale
    * each executor caches the blocks of its parquet partitions as-is.
    */
  def servingIndex(assigned: DataFrame, idCol: String = "id",
                   vecCol: String = "vector"): org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Float])] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col("bucket").cast("long"))
      .as[(Long, Array[Float], Long)]
      .rdd
      .mapPartitions { it =>
        val byBucket = scala.collection.mutable.LongMap
          .empty[(scala.collection.mutable.ArrayBuffer[Long],
                  scala.collection.mutable.ArrayBuffer[Array[Float]])]
        it.foreach { case (id, v, b) =>
          val e = byBucket.getOrElseUpdate(b,
            (scala.collection.mutable.ArrayBuffer.empty[Long],
             scala.collection.mutable.ArrayBuffer.empty[Array[Float]]))
          e._1 += id
          e._2 += v
        }
        byBucket.iterator.map { case (b, (idBuf, vecBuf)) =>
          val ids = idBuf.toArray
          val dim = if (vecBuf.isEmpty) 0 else vecBuf(0).length
          val flat = new Array[Float](ids.length * dim)
          var r = 0
          while (r < ids.length) {
            System.arraycopy(vecBuf(r), 0, flat, r * dim, dim)
            r += 1
          }
          (b, ids, flat)
        }
      }
  }

  /** Batch-serving IVF search over a cached [[servingIndex]]: driver-side
    * probe selection (like [[searchBatchedLocal]]) + ONE tight
    * mapPartitions pass — each partition keeps a bounded per-query top-k
    * (insertion into a k-sized sorted pair array, ties by id) and only
    * nPartitions×k rows per query leave the executors; a final tiny window
    * merges them. This is the reference's AVX-kernel-over-arena hot loop
    * re-expressed per-partition; it exists because the join+window plan pays
    * a fixed multi-stage cost that dwarfs the actual math at serving batch
    * sizes. The scan is QUERY-TILED (rows outer, 4 probing queries inner):
    * the block scan is bandwidth-bound, so each row is streamed once per
    * 4-query tile instead of once per query, and the four dot chains give
    * the ILP a single serial float chain lacks. Each per-query sum still
    * accumulates sequentially in j — bit-identical arithmetic to
    * [[graft.functions.VectorFunctions.cosineDistance]].
    */
  def searchBatchedFast(
      index: org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Float])],
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      metric: String = "cosine"): DataFrame = {
    val spark = queries.sparkSession
    val l2 = metric == "l2"
    val adj = bucketAdj(cents, metric)
    val qrows = queries.select(col("qid"), col("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qids = qrows.map(_._1)
    val qvecs = qrows.map(_._2)
    // bucket → indices of the queries probing it (null = unprobed).
    val bucketQs = probeAssignments(cents, adj, l2, qvecs, nProbe)
    val bc = spark.sparkContext.broadcast((qvecs, bucketQs))
    // ONE stage: per-partition bounded top-k over contiguous bucket blocks
    // (query-outer loop — each probing query streams the whole block
    // sequentially), partials merged on the driver (≤ partitions×nq×k
    // rows — serving batches are driver-bounded by definition, same place
    // probe selection already runs). No shuffle, no ranking window.
    // Distance: cosine = 1 − dot (pre-normalized vectors); l2 = SQUARED
    // euclidean ‖x‖² − 2x·q + ‖q‖², with ‖x‖² accumulated in the same loop.
    val partials = index.mapPartitions { it =>
      val (qvs, bq) = bc.value
      val qsq: Array[Double] =
        if (l2) qvs.map { qv =>
          var s = 0.0; var j = 0
          while (j < qv.length) { s += qv(j).toDouble * qv(j); j += 1 }
          s
        } else null
      val heaps = new TopK(qvs.length, k)
      // Per-block ‖x‖² scratch for the L2 path, computed ONCE per probed
      // block (same sequential float accumulation as the fused loop it
      // replaces — bit-identical distances) and reused by every probing
      // query, so the per-query inner loop is dot-only: half the flops and
      // a single accumulation chain. Buffer grows to the largest block.
      var xsqBuf: Array[Float] = null
      it.foreach { case (b, ids, flat) =>
        val qs = if (b < bq.length) bq(b.toInt) else null
        if (qs != null && ids.length > 0) {
          val dim = flat.length / ids.length
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
                val xs = xsqBuf(r).toDouble
                heaps.insert(qs(i), xs - 2.0d * d0 + qsq(qs(i)), ids(r))
                heaps.insert(qs(i + 1), xs - 2.0d * d1 + qsq(qs(i + 1)), ids(r))
                heaps.insert(qs(i + 2), xs - 2.0d * d2 + qsq(qs(i + 2)), ids(r))
                heaps.insert(qs(i + 3), xs - 2.0d * d3 + qsq(qs(i + 3)), ids(r))
              } else {
                heaps.insert(qs(i), 1.0d - d0, ids(r))
                heaps.insert(qs(i + 1), 1.0d - d1, ids(r))
                heaps.insert(qs(i + 2), 1.0d - d2, ids(r))
                heaps.insert(qs(i + 3), 1.0d - d3, ids(r))
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
                heaps.insert(qi, xsqBuf(r).toDouble - 2.0d * dot + qsq(qi), ids(r))
              else
                heaps.insert(qi, 1.0d - dot, ids(r))
              r += 1
              off += dim
            }
            i += 1
          }
        }
      }
      Iterator.single(heaps)
    }
    val merged = reducePartials(partials, new TopK(qids.length, k), (a: TopK, b: TopK) => a merge b)
    mergeTopK(spark, merged, qids, k)
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
    def iterator: Iterator[(Int, Long, Double)] =
      (0 until nq).iterator.flatMap { qi =>
        val hd = heapD(qi); val hi = heapI(qi)
        (0 until k).iterator.takeWhile(hd(_) < Double.MaxValue)
          .map(j => (qi, hi(j), hd(j)))
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
      vecCol: String = "vector"): org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Byte], Array[Float])] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col("bucket").cast("long"))
      .as[(Long, Array[Float], Long)]
      .rdd
      .mapPartitions { it =>
        val byBucket = scala.collection.mutable.LongMap
          .empty[(scala.collection.mutable.ArrayBuffer[Long],
                  scala.collection.mutable.ArrayBuffer[Array[Byte]])]
        it.foreach { case (id, v, b) =>
          val e = byBucket.getOrElseUpdate(b,
            (scala.collection.mutable.ArrayBuffer.empty[Long],
             scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]))
          e._1 += id
          e._2 += quantizeArray(v, absMax)
        }
        byBucket.iterator.map { case (b, (idBuf, codeBuf)) =>
          val ids = idBuf.toArray
          val dim = if (codeBuf.isEmpty) 0 else codeBuf(0).length
          val flat = new Array[Byte](ids.length * dim)
          val norms = new Array[Float](ids.length)
          var r = 0
          while (r < ids.length) {
            System.arraycopy(codeBuf(r), 0, flat, r * dim, dim)
            norms(r) = int8Norm(codeBuf(r))
            r += 1
          }
          (b, ids, flat, norms)
        }
      }
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
    * kernel formula (precomputed norms, clamped) — the quantized-domain
    * search completing V9's story: the scan touches 1 byte per component.
    */
  def searchBatchedFastInt8(
      index: org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Byte], Array[Float])],
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      absMax: Double): DataFrame = {
    val spark = queries.sparkSession
    val inv = invNorms(cents)
    val qrows = queries.select(col("qid"), col("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qids = qrows.map(_._1)
    val qcodes = qrows.map { case (_, qv) => quantizeArray(qv, absMax) }
    val qnorms = qcodes.map(int8Norm)
    val bucketQs =
      probeAssignments(cents, inv, l2 = false, qrows.map(_._2), nProbe)
    val bc = spark.sparkContext.broadcast((qcodes, qnorms, bucketQs))
    val partials = index.mapPartitions { it =>
      val (qcs, qns, bq) = bc.value
      val heaps = new TopK(qcs.length, k)
      it.foreach { case (b, ids, flat, norms) =>
        val qs = if (b < bq.length) bq(b.toInt) else null
        if (qs != null && ids.length > 0) {
          val dim = flat.length / ids.length
          // QUERY-TILED integer scan (rows outer, 4 queries inner — see
          // the f32 kernel): one byte-row stream per tile, four integer
          // dot chains; integer adds are associative, so this is
          // bit-identical in any order.
          def score(dot: Int, norm: Float, qn: Double): Double =
            if (norm == 0f || qn == 0.0) 1.0
            else {
              var sim = dot.toDouble / (norm.toDouble * qn)
              if (sim > 1.0) sim = 1.0
              if (sim < -1.0) sim = -1.0
              1.0 - sim
            }
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
              heaps.insert(qs(i), score(d0, norm, qn0), ids(r))
              heaps.insert(qs(i + 1), score(d1, norm, qn1), ids(r))
              heaps.insert(qs(i + 2), score(d2, norm, qn2), ids(r))
              heaps.insert(qs(i + 3), score(d3, norm, qn3), ids(r))
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
              heaps.insert(qi, score(dot, norms(r), qn), ids(r))
              r += 1
              off += dim
            }
            i += 1
          }
        }
      }
      Iterator.single(heaps)
    }
    val merged = reducePartials(partials, new TopK(qids.length, k), (a: TopK, b: TopK) => a merge b)
    mergeTopK(spark, merged, qids, k)
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
      vecCol: String = "vector"): org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Short])] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col("bucket").cast("long"))
      .as[(Long, Array[Float], Long)]
      .rdd
      .mapPartitions { it =>
        val byBucket = scala.collection.mutable.LongMap
          .empty[(scala.collection.mutable.ArrayBuffer[Long],
                  scala.collection.mutable.ArrayBuffer[Array[Short]])]
        it.foreach { case (id, v, b) =>
          val e = byBucket.getOrElseUpdate(b,
            (scala.collection.mutable.ArrayBuffer.empty[Long],
             scala.collection.mutable.ArrayBuffer.empty[Array[Short]]))
          val bits = new Array[Short](v.length)
          var j = 0
          while (j < v.length) {
            bits(j) = graft.functions.F16.toBits(v(j)).toShort; j += 1
          }
          e._1 += id
          e._2 += bits
        }
        byBucket.iterator.map { case (b, (idBuf, bitsBuf)) =>
          val ids = idBuf.toArray
          val dim = if (bitsBuf.isEmpty) 0 else bitsBuf(0).length
          val flat = new Array[Short](ids.length * dim)
          var r = 0
          while (r < ids.length) {
            System.arraycopy(bitsBuf(r), 0, flat, r * dim, dim)
            r += 1
          }
          (b, ids, flat)
        }
      }
  }

  /** [[searchBatchedFast]] over the HALF-PRECISION index: float-centroid
    * probe selection, then the reference's f16 Euclidean formula
    * (`squaredEuclideanGoFloat16`, `distance_go.go:92-104`) — decode each
    * side to float32 (table-driven), diff², float accumulation. The query
    * is converted to f16 once up front, exactly as an f16 index stores it.
    */
  def searchBatchedFastF16(
      index: org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Short])],
      cents: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    val adj = bucketAdj(cents, "l2")
    val qrows = queries.select(col("qid"), col("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qids = qrows.map(_._1)
    // The effective query the f16 index compares against: round-tripped
    // through binary16, decoded back to float for the kernel loop.
    val qf16 = qrows.map { case (_, qv) => qv.map(graft.functions.F16.roundTrip) }
    val bucketQs =
      probeAssignments(cents, adj, l2 = true, qrows.map(_._2), nProbe)
    val bc = spark.sparkContext.broadcast((qf16, bucketQs))
    val partials = index.mapPartitions { it =>
      val (qvs, bq) = bc.value
      val heaps = new TopK(qvs.length, k)
      // Decode each probed block to float ONCE per batch (the decode is a
      // pure per-element table lookup, so caching it is bit-identical) and
      // let every probing query run the diff² loop over the float scratch —
      // the lookup cost amortizes across the queries probing the block.
      var decBuf: Array[Float] = null
      it.foreach { case (b, ids, flat) =>
        val qs = if (b < bq.length) bq(b.toInt) else null
        if (qs != null && ids.length > 0) {
          val dim = flat.length / ids.length
          if (decBuf == null || decBuf.length < flat.length)
            decBuf = new Array[Float](flat.length)
          var p = 0
          while (p < flat.length) {
            decBuf(p) = graft.functions.F16.toFloat(flat(p) & 0xffff); p += 1
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
                val x = decBuf(off + j)
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
                val d = decBuf(off + j) - qv(j)
                sum += d * d; j += 1
              }
              heaps.insert(qi, sum.toDouble, ids(r))
              r += 1
              off += dim
            }
            i += 1
          }
        }
      }
      Iterator.single(heaps)
    }
    val merged = reducePartials(partials, new TopK(qids.length, k), (a: TopK, b: TopK) => a merge b)
    mergeTopK(spark, merged, qids, k)
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

  private def invNorms(cents: Array[Array[Float]]): Array[Float] =
    cents.map { cv =>
      var s = 0.0; var j = 0
      while (j < cv.length) { s += cv(j).toDouble * cv(j); j += 1 }
      if (s == 0.0) 0f else (1.0 / math.sqrt(s)).toFloat
    }

  private def halfNormSqs(cents: Array[Array[Float]]): Array[Float] =
    cents.map { cv =>
      var s = 0.0; var j = 0
      while (j < cv.length) { s += cv(j).toDouble * cv(j); j += 1 }
      (s / 2.0).toFloat
    }

  /** Centroid score adjustments for [[bestBucket]] under `metric`. */
  private[search] def bucketAdj(cents: Array[Array[Float]], metric: String): Array[Float] =
    if (metric == "l2") halfNormSqs(cents) else invNorms(cents)

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
