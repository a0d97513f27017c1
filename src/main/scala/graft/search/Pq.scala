package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization — the compressed-candidate stage beyond the int8
  * (4×) and f16 (2×) modes: each vector becomes m sub-space codes, one
  * byte-sized code per sub-space, so a 64-d f32 vector (256 B) compresses
  * to m = 8 codes (8 B, 32×). Search is asymmetric-distance (ADC): the
  * query precomputes a tiny per-sub-space lookup table against the
  * codebooks, and scanning a candidate costs m table reads + m adds — no
  * float vector is touched until (optional) exact rerank.
  *
  * Scale shape, in Spark terms:
  *   - codebooks are m × nCodes sub-vectors — a few KB, ALWAYS broadcast;
  *   - encoding is one scan: explode to (id, sub, subvec), broadcast-join
  *     the codebook, per-(id, sub) argmin, regroup to a codes array —
  *     keyed aggregations only, partitions like the corpus;
  *   - the ADC scan reads ONLY the codes column (column pruning leaves
  *     the f32 vectors on disk; at 100 TB the codes fit in memory where
  *     the vectors never could — the point of PQ);
  *   - reranking fetches full vectors for the top-R candidate ids alone.
  *
  * All distance math is sequential double accumulation (the [[VectorFunctions]]
  * kernels + an explicit fold over sub-spaces), so an external oracle can
  * reproduce every value bit-for-bit; ties break toward the lower code /
  * id everywhere, like the rest of the ANN module.
  *
  * Reference context: kektordb ships int8 and f16 compression
  * (`distance_go.go:106-147`); PQ extends that memory ladder one rung
  * further down, with the same deterministic-protocol discipline.
  */
object Pq {

  /** (id, sub, subvec): m contiguous dim/m slices per vector. */
  def subVectors(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col(vecCol).as("v"))
      .select(col("id"), col("sub"),
        slice(col("v"), col("sub") * subDim + 1, lit(subDim)).as("subvec"))

  /** Sample-as-codebook: sub-vectors of the vectors with id < nCodes,
    * code = id. The deterministic protocol the oracle replicates (swap in
    * per-sub-space KMeans over [[Ivf.trainKMeansArrays]] for trained
    * codebooks when recall, not verifiability, is the goal).
    */
  def sampleCodebook(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, nCodes: Int): DataFrame =
    subVectors(emb.filter(col(idCol) < nCodes), idCol, vecCol, m, subDim)
      .select(col("sub"), col("id").cast("int").as("code"),
        col("subvec").as("cvec"))

  /** Encode every vector as its per-sub-space argmin code (ties → lower
    * code). Returns (id, codes array<int> ordered by sub) — m bytes of
    * information per row where the input was 4·dim.
    */
  def encode(emb: DataFrame, cb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    subVectors(emb, idCol, vecCol, m, subDim)
      .join(broadcast(cb), Seq("sub"))
      .withColumn("d", VectorFunctions.euclideanSqWide(col("subvec"), col("cvec")))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("d"), col("code"))).as("mc"))
      .groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("mc.code").as("code")))),
        e => e.getField("code")).as("codes"))

  /** ADC top-k: per query, one flat LUT (sub-major, code-minor) of
    * ||q_sub − cb[sub][code]||²; a candidate's distance is the sequential
    * fold Σ_sub lut[sub·nCodes + codes[sub]]. The scored frame never
    * touches a float vector — only the broadcast LUT and the codes column.
    */
  def adcSearch(encoded: DataFrame, cb: DataFrame, queries: DataFrame,
      k: Int, m: Int, subDim: Int, nCodes: Int): DataFrame = {
    val scored = encoded.crossJoin(broadcast(queryLut(queries, cb, m, subDim)))
      .withColumn("dist",
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
          acc + element_at(col("lut"),
            s * nCodes + element_at(col("codes"), s + 1) + 1)))
    rankTopK(scored, k)
  }

  /** Per-query flat ADC lookup table (sub-major, code-minor): entry
    * [sub·nCodes + code] = ||q_sub − cb[sub][code]||². A few KB per query
    * — always broadcast.
    */
  def queryLut(queries: DataFrame, cb: DataFrame, m: Int,
      subDim: Int): DataFrame =
    subVectors(queries, "qid", "qvec", m, subDim)
      .join(broadcast(cb), Seq("sub"))
      .withColumn("d", VectorFunctions.euclideanSqWide(col("subvec"), col("cvec")))
      .groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code"), col("d")))),
        e => e.getField("d")).as("lut"))
      .select(col("id").as("qid"), col("lut"))

  /** IVF-PQ: probe-restricted ADC — the two prunings composed, and the
    * 100 TB serving shape. The IVF stage cuts the rows scanned to
    * nProbe/nCentroids of the corpus (bucket-partitioned layout ⇒
    * partition pruning, exactly like [[Ivf.search]]); the PQ stage cuts
    * the bytes per scanned row to m codes (column pruning leaves the f32
    * vectors on disk). Probe selection ranks centroids per query through
    * the bounded top-k aggregate — no window, map-side nProbe buffers.
    *
    * `encodedB` is (id, bucket, codes): the codes column plus the IVF
    * bucket assignment (at scale the encode job writes them together,
    * partitioned by bucket). Metric is squared-L2 throughout, like the
    * rest of the PQ module.
    */
  def ivfAdcSearch(encodedB: DataFrame, cb: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int, m: Int, subDim: Int,
      nCodes: Int): DataFrame = {
    val scoredCents = queries.crossJoin(broadcast(centroids))
      .withColumn("cd",
        VectorFunctions.euclideanSqWide(col("qvec"), col("cvec")))
      .select(col("qid"), col("cid"), col("cd"))
    val cidType = scoredCents.schema("cid").dataType
    val probes = scoredCents
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topK(
        col("cid").cast("long"), col("cd"), nProbe).as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_e"))
      .select(col("qid"), col("_e.id").cast(cidType).as("bucket"))
    val probedLut = probes
      .join(queryLut(queries, cb, m, subDim), Seq("qid"))
    val scored = encodedB.join(broadcast(probedLut), Seq("bucket"))
      .withColumn("dist",
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
          acc + element_at(col("lut"),
            s * nCodes + element_at(col("codes"), s + 1) + 1)))
    rankTopK(scored, k)
  }

  /** Bounded top-k ranking (ascending (dist, id), 1-based rank) through the
    * [[graft.functions.TopK]] aggregate — map-side k-sized buffers, no
    * sort, no window (and so no empty-partition-spec hazard on
    * constant-qid frames).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topK(
        col("id").cast("long"), col("dist"), k).as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_e"))
      .select(col("qid"), col("_e.id").as("id"),
        col("_e.distance").as("dist"), col("_e.rank").as("rank"))

  // ------------------------------------------------------------------
  // Residual IVF-PQ serving, for the bench and for corpora where the
  // DataFrame ADC plan's per-row array overhead dominates: a codec on the
  // shared bucket-block core — [[Ivf.bucketBlocks]] with a residual-PQ
  // packer builds the index, [[Ivf.searchBlocks]] with a per-block-LUT
  // kernel serves a batch.
  // ------------------------------------------------------------------

  /** Per-sub-space KMeans codebook `[m][nCodes][subDim]` — the trained
    * (recall-bearing) alternative to [[sampleCodebook]]'s deterministic
    * oracle protocol. m small KMeans jobs over column slices.
    */
  def trainCodebookArrays(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, nCodes: Int, iters: Int = 4): Array[Array[Array[Float]]] =
    Array.tabulate(m) { s =>
      graft.search.Ivf.trainKMeansArrays(
        emb.select(col(idCol).as("id"),
          slice(col(vecCol), s * subDim + 1, subDim).as("vector")),
        nCodes, iters, metric = "l2")
    }

  /** Encode one vector against the codebook: per-sub-space argmin code
    * (ties → lower code), one byte per sub-space.
    */
  private def encodeVec(v: Array[Float], cb: Array[Array[Array[Float]]],
      out: Array[Byte], outOff: Int): Unit = {
    val m = cb.length
    val subDim = cb(0)(0).length
    var s = 0
    while (s < m) {
      val codes = cb(s)
      val base = s * subDim
      var bestC = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < codes.length) {
        val cv = codes(c)
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val x = v(base + j).toDouble - cv(j); d += x * x; j += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      out(outOff + s) = bestC.toByte
      s += 1
    }
  }

  /** Residual vectors `v − cents[bucket]` as a typed pass — the training
    * input for residual codebooks (IVF-ADC: quantizing the residual
    * removes the bucket offset from every code, which is what keeps PQ
    * distortion small relative to intra-bucket distances at large n).
    */
  def residuals(assigned: DataFrame, cents: Array[Array[Float]],
      idCol: String = "id", vecCol: String = "vector"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    assigned
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col("bucket").cast("long"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v, b) =>
          val cv = cs(b.toInt)
          val r = new Array[Float](v.length)
          var j = 0
          while (j < v.length) { r(j) = v(j) - cv(j); j += 1 }
          (id, r)
        }
      }
      .toDF(idCol, vecCol)
  }

  /** Bucket-major packed RESIDUAL-PQ index: (bucket, ids, codes) blocks,
    * codes row-major, ONE BYTE per sub-space — 4·dim/m × compression vs the
    * f32 blocks (128d, m=16 ⇒ 32×). The codes quantize `v − cents[bucket]`;
    * encoding runs in [[Ivf.bucketBlocks]]' packing pass. One block per
    * bucket (not one per bucket×partition): the scan builds a per-(query,
    * bucket) LUT, so bucket fragments would multiply that build by the
    * partition count. One build-time shuffle buys LUT amortization over the
    * whole bucket.
    */
  def servingIndexPqResidual(assigned: DataFrame,
      cents: Array[Array[Float]], codebook: Array[Array[Array[Float]]],
      idCol: String = "id", vecCol: String = "vector")
      : org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Byte])] = {
    val m = codebook.length
    val bc = assigned.sparkSession.sparkContext.broadcast((cents, codebook))
    Ivf.bucketBlocks(assigned, idCol, vecCol, wholeBuckets = true)(v => v) {
      (b, ids, rows) =>
        val (cs, cb) = bc.value
        val cv = cs(b.toInt)
        val resid = new Array[Float](cv.length)
        val codes = new Array[Byte](ids.length * m)
        var r = 0
        while (r < ids.length) {
          val v = rows(r)
          var j = 0
          while (j < v.length) { resid(j) = v(j) - cv(j); j += 1 }
          encodeVec(resid, cb, codes, r * m)
          r += 1
        }
        (b, ids, codes)
    }
  }

  /** Batched residual-IVF-PQ serving through [[Ivf.searchBlocks]]:
    * squared-L2 probe selection over the IVF centroids, then ONE scan
    * stage over the probed buckets' code blocks (m table reads + adds per
    * candidate — no float vector touched). Returns (qid, id, distance,
    * rank) with ADC distances. The ADC LUT is per (query, bucket) and
    * builds through the IVFADC decomposition (Jégou, Douze, Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011, §IV-B):
    *
    *   ‖(q−c)_s − e‖² = ‖(q−c)_s‖² − 2⟨q_s,e⟩ + 2⟨c_s,e⟩ + ‖e‖²
    *
    * so the subDim-deep inner products factor out of the per-(query,
    * bucket) build: `−2⟨q_s,e⟩` is one table PER QUERY (built on the
    * driver, independent of corpus size and nProbe — it parallels the
    * probe-selection work), `2⟨c_s,e⟩ + ‖e‖²` is one table PER BLOCK per
    * batch (one direct-build's worth of flops, amortized over every query
    * probing the bucket), and Σ_s ‖(q−c)_s‖² = ‖q−c‖² is a scalar per
    * pair. The per-pair LUT is then a single m·nCodes add-pass — ~8×
    * fewer flops than the direct `‖(q−c)_s − e‖²` build (r16: this moved
    * the SIFT-1M ADC point past the f32 index's QPS). The decomposition
    * reorders float accumulation, so distances can differ from the
    * DataFrame plan's in the last ulps; PqSpec pins the residual path at
    * ranking level (lossless-codebook ids == brute force), and the
    * oracle-checked DataFrame paths (v15–v18) keep the sequential-fold
    * math unchanged.
    */
  def searchBatchedFastPqResidual(
      index: org.apache.spark.rdd.RDD[(Long, Array[Long], Array[Byte])],
      cents: Array[Array[Float]],
      codebook: Array[Array[Array[Float]]],
      queries: DataFrame,
      k: Int,
      nProbe: Int): DataFrame = {
    val m = codebook.length
    val subDim = codebook(0)(0).length
    val nCodes = codebook(0).length
    Ivf.searchBlocks("searchBatchedFastPqResidual", index, cents, queries, k,
        nProbe, "l2")(_._1) { qvecs =>
      // Per-query cross-term tables Q[s·nCodes + c] = −2⟨q_s, e_s(c)⟩,
      // built once per query on the driver's cores (like probe selection).
      val qluts = new Array[Array[Double]](qvecs.length)
      java.util.stream.IntStream.range(0, qvecs.length).parallel().forEach { qi =>
        val qv = qvecs(qi)
        val t = new Array[Double](m * nCodes)
        var s = 0
        while (s < m) {
          val sub = codebook(s)
          val base = s * subDim
          var c = 0
          while (c < nCodes) {
            val e = sub(c)
            var dot = 0.0
            var j = 0
            while (j < subDim) { dot += qv(base + j).toDouble * e(j); j += 1 }
            t(s * nCodes + c) = -2.0 * dot
            c += 1
          }
          s += 1
        }
        qluts(qi) = t
      }
      (qvecs, qluts, cents, codebook)
    } { case (qvs, qls, cs, cb) =>
      val cLut = new Array[Double](m * nCodes)
      val lut = new Array[Double](m * nCodes)
      (blk, qs, heaps) =>
        val b = blk._1
        val ids = blk._2
        val codes = blk._3
        val cv = cs(b.toInt)
        // Per-block term 2⟨c_s, e⟩ + ‖e‖², once per batch.
        var s = 0
        while (s < m) {
          val sub = cb(s)
          val base = s * subDim
          var c = 0
          while (c < nCodes) {
            val e = sub(c)
            var dot = 0.0
            var nsq = 0.0
            var j = 0
            while (j < subDim) {
              val ev = e(j).toDouble
              dot += cv(base + j).toDouble * ev
              nsq += ev * ev
              j += 1
            }
            cLut(s * nCodes + c) = 2.0 * dot + nsq
            c += 1
          }
          s += 1
        }
        var i = 0
        while (i < qs.length) {
          val qi = qs(i)
          val qv = qvs(qi)
          // Scalar ‖q − c‖² folds every residual norm term at once —
          // summed over the CODE-COVERED dims only (m·subDim), so a
          // non-covering codebook (dim not divisible by subDim) keeps
          // the exact metric encodeVec and the direct LUT build used:
          // uncovered tail dims never spend code budget and never
          // score (r16 self-review).
          var qc = 0.0
          var j = 0
          val covered = m * subDim
          while (j < covered) {
            val x = qv(j).toDouble - cv(j); qc += x * x; j += 1
          }
          val ql = qls(qi)
          var e2 = 0
          while (e2 < lut.length) { lut(e2) = ql(e2) + cLut(e2); e2 += 1 }
          var r = 0
          var off = 0
          while (r < ids.length) {
            var d = qc
            var s2 = 0
            while (s2 < m) {
              d += lut(s2 * nCodes + (codes(off + s2) & 0xFF))
              s2 += 1
            }
            heaps.insert(qi, d, ids(r))
            r += 1
            off += m
          }
          i += 1
        }
    }
  }

  /** Two-stage PQ serving: ADC selects rerankR candidates from codes
    * alone, then ONLY those ids fetch their f32 vectors for an exact
    * re-score — the standard recall repair, and at scale the only step
    * that reads the vector column at all.
    */
  def adcSearchRerank(encoded: DataFrame, cb: DataFrame, queries: DataFrame,
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, rerankR: Int, m: Int, subDim: Int, nCodes: Int): DataFrame = {
    val cand = adcSearch(encoded, cb, queries, rerankR, m, subDim, nCodes)
      .select(col("qid"), col("id"))
    rankTopK(
      cand
        .join(emb.select(col(idCol).as("id"), col(vecCol).as("v")), Seq("id"))
        .join(broadcast(queries.select(col("qid"), col("qvec"))), Seq("qid"))
        .withColumn("dist",
          VectorFunctions.euclideanSqWide(col("v"), col("qvec"))),
      k)
  }
}
