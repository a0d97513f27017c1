package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.Bm25

/** Low-latency serving twin of the hybrid-fusion TEXT leg — the postings
  * analogue of [[Ivf.servingIndex]], closing the gap the reference serves
  * from RAM (`searchWithFusion` `pkg/engine/ops.go:896` over in-memory
  * postings `pkg/core/core.go:1965`, ~1 ms fused): the ANN leg already
  * served in one tight mapPartitions pass, but the BM25 leg still ran a
  * multi-stage join/aggregate plan per batch, so a fused single query
  * paid ~1 s of fixed plan cost.
  *
  * Layout ([[buildShards]]): the corpus is repartitioned DOC-major —
  * every posting of a document lands in one shard — and each partition
  * becomes one [[Shard]]: a partition-local inverted index (token → CSR
  * block of (local doc, w)) over PRECOMPUTED per-(token, doc) BM25 term
  * weights `w = idf·tfPart` ([[Bm25.termWeight]] — the same expression
  * the batch plan evaluates, so per-term contributions are
  * bit-identical), plus the per-doc decay factor baked at build time
  * (same [[Fusion.decayFrame]] the fused plan joins). This is exactly a
  * search-engine shard: doc-major means a document's score finishes
  * WITHIN one partition — no cross-partition sum, so only k-bounded
  * partials ever leave the executors.
  *
  * Serving ([[fusedTopK]]): ONE job. Each partition scores its shard for
  * every query (accumulator array over local docs, epoch-reset, query
  * tokens processed in sorted order for deterministic summation), keeps
  * a bounded per-query top-k of text candidates ranked by decayed
  * contribution (the same exact-pruning argument as the fused plan: a
  * text-only row beaten by k text rows on `tscore·dec` can never reach
  * the final top-k), hydrates text scores + decay for the ANN leg's ids,
  * and tracks the per-query raw max for normalization. Partials merge
  * through [[Ivf.reducePartials]]; the α-blend, max-normalization and
  * final (score desc, id asc) top-k are driver math over ≤ 2k candidates
  * per query. Semantics mirror [[Fusion.searchWithFusionBatch]]
  * term-for-term; only floating-point SUMMATION ORDER differs (the plan
  * sums a doc's term scores in partition order, the shard in sorted
  * query-token order), so scores agree to ~1 ulp per term, not bit-for-
  * bit — `ServingFusionSpec` pins equality at 1e-9.
  *
  * Scale shape: shards are the postings, partitioned like any 100 TB
  * table; per-batch network is nq×k candidate partials (reduce below
  * [[Ivf.reducePartials]]'s threshold, treeReduce above); driver work is
  * O(nq·k). Query batches are driver-bounded by contract, like every
  * serving entry point.
  *
  * The COMBINED family collapses even the two-leg pipeline's serial job
  * rounds: [[buildCombined]] co-locates each partition's postings CSR,
  * decay factors and bucket-major IVF vector blocks (int8 twin:
  * [[buildCombinedInt8]], 4× less resident memory), and
  * [[fusedTopKCombined]] / [[fusedTopKCombinedInt8]] /
  * [[mmrTopKCombined]] serve a whole hybrid (or MMR-diversified) query
  * batch as ONE Spark job over driver-resident queries — the
  * architecture's latency floor (one job launch, ~30 ms at local[32]),
  * every path spec-pinned bit-identical to its multi-job twin.
  */
object ServingFusion {

  /** One partition's inverted index over precomputed term weights.
    * `offsets` is CSR over token slots: slot `s` owns entries
    * `[offsets(s), offsets(s+1))` of `docIx`/`w`. `dec` is the per-local-
    * doc decay factor (1.0 when decay is disabled).
    */
  final case class Shard(
      ids: Array[Long],
      dec: Array[Double],
      tokens: Array[String],
      offsets: Array[Int],
      docIx: Array[Int],
      w: Array[Double]) {

    @transient lazy val tokenSlot: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](tokens.length * 2)
      var i = 0
      while (i < tokens.length) { m.put(tokens(i), i); i += 1 }
      m
    }

    @transient lazy val idSlot: scala.collection.mutable.LongMap[Int] = {
      val m = scala.collection.mutable.LongMap.empty[Int]
      var i = 0
      while (i < ids.length) { m.update(ids(i), i); i += 1 }
      m
    }
  }

  /** Build the doc-major shard index — offline, one shuffle (the
    * repartition by doc id), cache the result like [[Ivf.servingIndex]].
    *
    * @param allIds one-`idCol`-column frame of EVERY doc (docs without
    *   postings still carry a decay factor the fused plan would apply to
    *   their vector-leg score).
    * @param dec    [[Fusion.decayFrame]] output; None = decay disabled.
    */
  def buildShards(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      prebuiltDocLengths: Option[DataFrame] = None,
      prebuiltTokenDf: Option[DataFrame] = None): org.apache.spark.rdd.RDD[Shard] = {
    val (wp, decN) = weightedAndDecay(allIds, post, idCol, dec,
      prebuiltDocLengths, prebuiltTokenDf)
    val joined = decN
      .join(wp.select(col(idCol).cast("long").as("_id"), col("token"),
        col("w").cast("double").as("w")), Seq("_id"), "left")
    docMajor(joined, numShards).rdd.mapPartitions { it =>
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val decB = scala.collection.mutable.ArrayBuffer.empty[Double]
      val idIdx = scala.collection.mutable.LongMap.empty[Int]
      val byTok = new java.util.HashMap[String,
        (scala.collection.mutable.ArrayBuilder.ofInt,
         scala.collection.mutable.ArrayBuilder.ofDouble)]()
      it.foreach { r =>
        val id = r.getLong(0)
        val li = idIdx.getOrElseUpdate(id, {
          ids += id; decB += r.getDouble(1); ids.length - 1
        })
        if (!r.isNullAt(2)) {
          var e = byTok.get(r.getString(2))
          if (e == null) {
            e = (new scala.collection.mutable.ArrayBuilder.ofInt,
              new scala.collection.mutable.ArrayBuilder.ofDouble)
            byTok.put(r.getString(2), e)
          }
          e._1 += li
          e._2 += r.getDouble(3)
        }
      }
      if (ids.isEmpty) Iterator.empty
      else Iterator.single(finishShard(ids.toArray, decB.toArray, byTok))
    }
  }

  /** The shared build prep: BM25 term weights over the (prebuilt or
    * derived) corpus statistics, plus the per-doc decay frame normalized
    * to `(_id: long, _dec: double coalesced to 1.0)` — one policy for
    * both serving layouts ([[buildShards]] / [[buildCombined]]).
    */
  private def weightedAndDecay(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      dec: Option[DataFrame],
      prebuiltDocLengths: Option[DataFrame],
      prebuiltTokenDf: Option[DataFrame],
      frozenStats: Option[(Long, Double)] = None): (DataFrame, DataFrame) = {
    val dls = prebuiltDocLengths.getOrElse(
      Bm25.docLengthsFromPostings(allIds, post, idCol))
    val tdf = prebuiltTokenDf.getOrElse(Bm25.tokenDf(post))
    val wp = Bm25.weightedPostings(post, dls, tdf, idCol, frozenStats)
    val decDf = dec.getOrElse(allIds.select(col(idCol), lit(1.0).as("_dec")))
    val decN = decDf.select(col(idCol).cast("long").as("_id"),
      coalesce(col("_dec").cast("double"), lit(1.0)).as("_dec"))
    (wp, decN)
  }

  /** Doc-major repartition shared by both layouts: hash on the doc id,
    * explicit shard count when given.
    */
  private def docMajor(joined: DataFrame, numShards: Int): DataFrame =
    if (numShards > 0) joined.repartition(numShards, col("_id"))
    else joined.repartition(col("_id"))

  /** Assemble a [[Shard]]'s token-CSR arrays from the per-token builders a
    * partition pass accumulated — shared by [[buildShards]] (per-posting
    * rows) and [[buildCombined]] (per-doc aggregated posting lists).
    */
  /** Finalize a partition's bucket-major f32 vector blocks from the
    * per-bucket (local-doc builder, row buffer) accumulators — the ONE
    * copy of the (buckets sorted ascending, CSR offsets, row copy) layout
    * logic, shared by [[assembleF32]] and [[compactCombined]] so the
    * build/load/compact paths cannot drift.
    * Returns (buckets, bOff, vecLocal, flat, dim).
    */
  private def finishVecBlocksF32(
      byBucket: scala.collection.mutable.LongMap[
        (scala.collection.mutable.ArrayBuilder.ofInt,
         scala.collection.mutable.ArrayBuffer[Array[Float]])])
      : (Array[Long], Array[Int], Array[Int], Array[Float], Int) = {
    val bs = byBucket.keys.toArray.sorted
    val locals = bs.map(b => byBucket(b)._1.result())
    val rows = bs.map(b => byBucket(b)._2)
    val nVec = locals.map(_.length).sum
    val dim = rows.collectFirst {
      case v if v.nonEmpty => v(0).length
    }.getOrElse(0)
    val bOff = new Array[Int](bs.length + 1)
    val vecLocal = new Array[Int](nVec)
    val flat = new Array[Float](nVec * dim)
    var b = 0
    var off = 0
    while (b < bs.length) {
      bOff(b) = off
      System.arraycopy(locals(b), 0, vecLocal, off, locals(b).length)
      var r = 0
      while (r < rows(b).length) {
        System.arraycopy(rows(b)(r), 0, flat, (off + r) * dim, dim)
        r += 1
      }
      off += locals(b).length
      b += 1
    }
    bOff(bs.length) = off
    (bs, bOff, vecLocal, flat, dim)
  }

  /** [[finishVecBlocksF32]]'s int8 twin over (codes row, stored norm)
    * buffers — shared by [[buildCombinedInt8]] (which pairs each
    * quantized row with [[Ivf.int8Norm]] at accumulation),
    * [[compactCombinedInt8]] and [[loadCombinedInt8]] (which carry
    * stored norms verbatim).
    * Returns (buckets, bOff, vecLocal, codes, norms, dim).
    */
  private def finishVecBlocksInt8(
      byBucket: scala.collection.mutable.LongMap[
        (scala.collection.mutable.ArrayBuilder.ofInt,
         scala.collection.mutable.ArrayBuffer[(Array[Byte], Float)])])
      : (Array[Long], Array[Int], Array[Int], Array[Byte], Array[Float], Int) = {
    val bs = byBucket.keys.toArray.sorted
    val locals = bs.map(b => byBucket(b)._1.result())
    val rows = bs.map(b => byBucket(b)._2)
    val nVec = locals.map(_.length).sum
    val dim = rows.collectFirst {
      case v if v.nonEmpty => v(0)._1.length
    }.getOrElse(0)
    val bOff = new Array[Int](bs.length + 1)
    val vecLocal = new Array[Int](nVec)
    val codes = new Array[Byte](nVec * dim)
    val norms = new Array[Float](nVec)
    var b = 0
    var off = 0
    while (b < bs.length) {
      bOff(b) = off
      System.arraycopy(locals(b), 0, vecLocal, off, locals(b).length)
      var r = 0
      while (r < rows(b).length) {
        System.arraycopy(rows(b)(r)._1, 0, codes, (off + r) * dim, dim)
        norms(off + r) = rows(b)(r)._2
        r += 1
      }
      off += locals(b).length
      b += 1
    }
    bOff(bs.length) = off
    (bs, bOff, vecLocal, codes, norms, dim)
  }

  private def finishShard(
      ids: Array[Long],
      dec: Array[Double],
      byTok: java.util.HashMap[String,
        (scala.collection.mutable.ArrayBuilder.ofInt,
         scala.collection.mutable.ArrayBuilder.ofDouble)]): Shard = {
    val nTok = byTok.size
    val toks = new Array[String](nTok)
    val slotEntries = new Array[(Array[Int], Array[Double])](nTok)
    val eIt = byTok.entrySet().iterator()
    var s = 0
    while (eIt.hasNext) {
      val e = eIt.next()
      toks(s) = e.getKey
      slotEntries(s) = (e.getValue._1.result(), e.getValue._2.result())
      s += 1
    }
    val offsets = new Array[Int](nTok + 1)
    var total = 0
    s = 0
    while (s < nTok) {
      offsets(s) = total; total += slotEntries(s)._1.length; s += 1
    }
    offsets(nTok) = total
    val docIx = new Array[Int](total)
    val w = new Array[Double](total)
    s = 0
    while (s < nTok) {
      System.arraycopy(slotEntries(s)._1, 0, docIx, offsets(s),
        slotEntries(s)._1.length)
      System.arraycopy(slotEntries(s)._2, 0, w, offsets(s),
        slotEntries(s)._2.length)
      s += 1
    }
    Shard(ids, dec, toks, offsets, docIx, w)
  }

  /** Score one query's tokens into a shard's epoch-tagged accumulators —
    * the BM25 hot loop shared by [[fusedTopK]], [[fusedTopKCombined]] and
    * [[textScores]]. For each (token, qn) with a posting slot, folds
    * `qn · w` into `acc` over the slot's CSR block, tagging first-touched
    * docs into `touched`. Returns the touched count; `acc(touched(i))` is
    * doc i's raw BM25 score for this query. Callers bump `epoch` per
    * query; tokens must be in sorted order for deterministic summation.
    */
  private def scoreTokens(
      sh: Shard,
      toks: Array[(String, Int)],
      acc: Array[Double],
      seen: Array[Int],
      touched: Array[Int],
      epoch: Int): Int = {
    var tn = 0
    var t = 0
    while (t < toks.length) {
      val slot = sh.tokenSlot.get(toks(t)._1)
      if (slot != null) {
        val s = slot.intValue
        val qn = toks(t)._2.toDouble
        var e = sh.offsets(s)
        val end = sh.offsets(s + 1)
        while (e < end) {
          val d = sh.docIx(e)
          if (seen(d) != epoch) {
            seen(d) = epoch; acc(d) = 0.0; touched(tn) = d; tn += 1
          }
          acc(d) += qn * sh.w(e)
          e += 1
        }
      }
      t += 1
    }
    tn
  }

  /** Per-partition fused-serving partial: per query, the raw-score max,
    * a k-bounded text-candidate list ranked by `-(raw·dec)` with
    * (key asc, id asc) ties — the same total order as the fused plan's
    * pruning TopK (normalization divides by a positive per-query max, so
    * ranking on raw·dec ≡ ranking on tscore·dec) — and the (raw, dec)
    * hydration for the vector leg's ids owned by this partition. Doc-
    * major sharding makes merges disjoint per doc, so `merge` is a plain
    * bounded union like [[Ivf.TopK.merge]].
    */
  private final class FusedPartial(nq: Int, k: Int) extends Serializable {
    val maxRaw: Array[Double] = Array.fill(nq)(0.0)
    val key: Array[Array[Double]] = Array.fill(nq)(Array.fill(k)(Double.MaxValue))
    val pid: Array[Array[Long]] = Array.fill(nq)(Array.fill(k)(Long.MaxValue))
    val praw: Array[Array[Double]] = Array.fill(nq)(Array.fill(k)(0.0))
    val pdec: Array[Array[Double]] = Array.fill(nq)(Array.fill(k)(1.0))
    // id -> (raw text score or 0, dec, hasTextHit) for vector-leg ids.
    val hyd: Array[scala.collection.mutable.LongMap[(Double, Double, Boolean)]] =
      Array.fill(nq)(scala.collection.mutable.LongMap.empty)

    def insert(qi: Int, sortKey: Double, id: Long, raw: Double, dec: Double): Unit = {
      val kd = key(qi); val ki = pid(qi); val kr = praw(qi); val kc = pdec(qi)
      val last = kd.length - 1
      if (sortKey > kd(last) || (sortKey == kd(last) && id > ki(last))) return
      var j = last
      while (j > 0 && (kd(j - 1) > sortKey ||
        (kd(j - 1) == sortKey && ki(j - 1) > id))) {
        kd(j) = kd(j - 1); ki(j) = ki(j - 1); kr(j) = kr(j - 1); kc(j) = kc(j - 1)
        j -= 1
      }
      kd(j) = sortKey; ki(j) = id; kr(j) = raw; kc(j) = dec
    }

    def merge(o: FusedPartial): FusedPartial = {
      var qi = 0
      while (qi < maxRaw.length) {
        if (o.maxRaw(qi) > maxRaw(qi)) maxRaw(qi) = o.maxRaw(qi)
        val okd = o.key(qi)
        var j = 0
        while (j < okd.length && okd(j) < Double.MaxValue) {
          insert(qi, okd(j), o.pid(qi)(j), o.praw(qi)(j), o.pdec(qi)(j))
          j += 1
        }
        o.hyd(qi).foreach { case (id, v) => hyd(qi).update(id, v) }
        qi += 1
      }
      this
    }
  }

  /** Serve a fused hybrid batch: [[Fusion.searchWithFusionBatch]]
    * semantics (vector `1/(1+d)` ⨝ per-query max-normalized BM25,
    * α-blend, decay multiplier, per-query top-k by (score desc, id asc))
    * in ONE executor pass over the shards plus driver math.
    *
    * @param qTokens analyzed query tokens `(qid, token, qn)` — a
    *   driver-bounded batch.
    * @param vecTop  the ANN serving leg's `(qid, id, distance)` rows
    *   (e.g. [[Ivf.searchBatchedFast]] output) — per qid a top-k with
    *   distinct ids, per the fused plan's contract.
    * @return (qid, idCol, score) — per-qid top-k.
    */
  def fusedTopK(
      shards: org.apache.spark.rdd.RDD[Shard],
      qTokens: DataFrame,
      vecTop: DataFrame,
      alpha0: Double,
      k: Int,
      idCol: String = "id"): DataFrame = {
    val spark = qTokens.sparkSession
    import spark.implicits._
    val alpha = if (alpha0 < 0 || alpha0 > 1) 0.5 else alpha0

    // The two input legs are independent jobs — the ANN leg (vecTop is
    // usually an un-materialized probe-pruned scan) runs CONCURRENTLY
    // with the query-token collect instead of after it, shaving one
    // serial job round-trip off every call (most visible at batch size
    // 1, where job latency is the whole cost).
    // `blocking` marks the collect for ForkJoinPool's managed-blocking
    // compensation: N concurrent fusedTopK callers must not pin all of
    // global's workers and serialize each other's ANN legs — the exact
    // load this overlap exists for.
    val vFut = scala.concurrent.Future(scala.concurrent.blocking(vecTop
      .select(col("qid").cast("long"), col(idCol).cast("long"),
        col("distance").cast("double"))
      .collect()))(scala.concurrent.ExecutionContext.global)
    val qrows =
      try qTokens
        .select(col("qid").cast("long"), col("token"), col("qn").cast("int"))
        .collect()
      catch { case e: Throwable =>
        // Don't orphan the in-flight ANN job if the token leg fails.
        scala.concurrent.Await.ready(vFut,
          scala.concurrent.duration.Duration.Inf)
        throw e
      }
    val vrows = scala.concurrent.Await.result(vFut,
      scala.concurrent.duration.Duration.Inf)
    val qids = (qrows.map(_.getLong(0)) ++ vrows.map(_.getLong(0)))
      .distinct.sorted
    val qIndex = qids.zipWithIndex.toMap
    val nq = qids.length
    if (nq == 0) return Seq.empty[(Long, Long, Double)].toDF("qid", idCol, "score")

    // Sorted-token order fixes each doc's term-summation order.
    val qToks: Array[Array[(String, Int)]] = {
      val b = Array.fill(nq)(scala.collection.mutable.ArrayBuffer.empty[(String, Int)])
      qrows.foreach(r => b(qIndex(r.getLong(0))) += ((r.getString(1), r.getInt(2))))
      b.map(_.sortBy(_._1).toArray)
    }
    val vecIds: Array[Array[Long]] = {
      val b = Array.fill(nq)(scala.collection.mutable.ArrayBuffer.empty[Long])
      vrows.foreach(r => b(qIndex(r.getLong(0))) += r.getLong(1))
      b.map(_.toArray)
    }
    val vecDist: Array[Array[Double]] = {
      val b = Array.fill(nq)(scala.collection.mutable.ArrayBuffer.empty[Double])
      vrows.foreach(r => b(qIndex(r.getLong(0))) += r.getDouble(2))
      b.map(_.toArray)
    }

    val bc = shards.sparkContext.broadcast((qToks, vecIds))
    val partials = shards.mapPartitions { it =>
      val (toksByQ, vidsByQ) = bc.value
      val p = new FusedPartial(toksByQ.length, k)
      it.foreach { sh =>
        val n = sh.ids.length
        val acc = new Array[Double](n)
        val seen = new Array[Int](n)
        val touched = new Array[Int](n)
        var epoch = 0
        var qi = 0
        while (qi < toksByQ.length) {
          epoch += 1
          val tn = scoreTokens(sh, toksByQ(qi), acc, seen, touched, epoch)
          var i = 0
          while (i < tn) {
            val d = touched(i)
            val raw = acc(d)
            if (raw > p.maxRaw(qi)) p.maxRaw(qi) = raw
            p.insert(qi, -(raw * sh.dec(d)), sh.ids(d), raw, sh.dec(d))
            i += 1
          }
          val vi = vidsByQ(qi)
          var j = 0
          while (j < vi.length) {
            val d = sh.idSlot.getOrElse(vi(j), -1)
            if (d >= 0) {
              val hasText = seen(d) == epoch
              p.hyd(qi).update(vi(j),
                (if (hasText) acc(d) else 0.0, sh.dec(d), hasText))
            }
            j += 1
          }
          qi += 1
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials, new FusedPartial(nq, k),
      (a: FusedPartial, b: FusedPartial) => a.merge(b))
    val out = blendTopK(qids, merged, vecIds, vecDist,
      (qi, id) => merged.hyd(qi).get(id), alpha, k)
    bc.destroy()
    out.toSeq.toDF("qid", idCol, "score")
  }

  /** Driver fusion over ≤ (k + |vec leg|) candidates per query — the
    * plan's full-outer join + α-blend + decay + rank, in plain math.
    * Shared by [[fusedTopK]] (hydration from the merged partial's id map)
    * and [[fusedTopKCombined]] (hydration attached to each vector
    * candidate at scan time): `hyd(qi, id)` returns the text raw score,
    * decay factor and has-text-hit flag the owning partition recorded for
    * a vector-leg id, None when no partition owns the id.
    */
  private def blendTopK(
      qids: Array[Long],
      merged: FusedPartial,
      vecIds: Array[Array[Long]],
      vecDist: Array[Array[Double]],
      hyd: (Int, Long) => Option[(Double, Double, Boolean)],
      alpha: Double,
      k: Int): scala.collection.mutable.ArrayBuffer[(Long, Long, Double)] = {
    final case class Cand(var tRaw: Double, var hasT: Boolean,
      var vdist: Double, var hasV: Boolean, var dec: Double)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var qi = 0
    while (qi < qids.length) {
      val mx = merged.maxRaw(qi)
      val cand = scala.collection.mutable.LongMap.empty[Cand]
      val kd = merged.key(qi)
      var j = 0
      while (j < kd.length && kd(j) < Double.MaxValue) {
        cand.update(merged.pid(qi)(j),
          Cand(merged.praw(qi)(j), hasT = true, 0.0, hasV = false,
            merged.pdec(qi)(j)))
        j += 1
      }
      val vi = vecIds(qi)
      j = 0
      while (j < vi.length) {
        val c = cand.getOrElseUpdate(vi(j),
          Cand(0.0, hasT = false, 0.0, hasV = false, 1.0))
        c.vdist = vecDist(qi)(j); c.hasV = true
        hyd(qi, vi(j)).foreach { case (raw, dec, hasText) =>
          c.dec = dec
          if (hasText && !c.hasT) { c.tRaw = raw; c.hasT = true }
        }
        j += 1
      }
      val scored = cand.iterator.map { case (id, c) =>
        val tscore =
          if (!c.hasT) 0.0
          else if (mx > 0) c.tRaw / mx
          else c.tRaw
        val vscore = if (c.hasV) 1.0 / (1.0 + c.vdist) else 0.0
        val fused = alpha * vscore + (1.0 - alpha) * tscore
        (id, fused * c.dec)
      }.toArray
      java.util.Arrays.sort(scored, new java.util.Comparator[(Long, Double)] {
        def compare(a: (Long, Double), b: (Long, Double)): Int = {
          val c = java.lang.Double.compare(b._2, a._2)
          if (c != 0) c else java.lang.Long.compare(a._1, b._1)
        }
      })
      val qid = qids(qi)
      var r = 0
      while (r < scored.length && r < k) {
        out += ((qid, scored(r)._1, scored(r)._2))
        r += 1
      }
      qi += 1
    }
    out
  }

  /** A [[Shard]] plus the SAME partition's vectors laid out bucket-major:
    * `buckets(b)` owns vector rows `[bOff(b), bOff(b+1))`; row `r` is the
    * local doc `vecLocal(r)` (an index into `text.ids`/`text.dec`) with
    * its floats at `flat(r*dim, (r+1)*dim)`. Doc-major partitioning means
    * a doc's postings, decay factor AND vector live in ONE partition — the
    * layout a search-engine shard uses, and what lets a fused hybrid query
    * run both legs plus hydration in a single executor pass
    * ([[fusedTopKCombined]]).
    */
  final case class CombinedShard(
      text: Shard,
      buckets: Array[Long],
      bOff: Array[Int],
      vecLocal: Array[Int],
      flat: Array[Float],
      dim: Int) {

    @transient lazy val bucketBlock: scala.collection.mutable.LongMap[Int] = {
      val m = scala.collection.mutable.LongMap.empty[Int]
      var i = 0
      while (i < buckets.length) { m.update(buckets(i), i); i += 1 }
      m
    }

    /** Per-row ‖x‖² for the L2 path, float-accumulated exactly like
      * [[Ivf.searchBatchedFast]]'s per-block scratch so L2 distances stay
      * bit-identical; computed once per shard on first L2 query.
      */
    @transient lazy val rowSq: Array[Float] = {
      val n = if (dim == 0) 0 else flat.length / dim
      val out = new Array[Float](n)
      var r = 0
      var off = 0
      while (r < n) {
        var s = 0f
        var j = 0
        while (j < dim) { val x = flat(off + j); s += x * x; j += 1 }
        out(r) = s
        r += 1
        off += dim
      }
      out
    }
  }

  /** The COMPRESSED combined shard — [[CombinedShard]] with the vector
    * blocks stored as int8 codes + precomputed norms ([[Ivf.quantizeArray]]
    * / [[Ivf.int8Norm]], the reference's `DB.Compress` mode): 4× less
    * resident vector memory, same doc-major text/decay co-location. Row
    * `r`'s codes sit at `codes(r*dim, (r+1)*dim)` with norm `norms(r)`.
    */
  final case class CombinedShardInt8(
      text: Shard,
      buckets: Array[Long],
      bOff: Array[Int],
      vecLocal: Array[Int],
      codes: Array[Byte],
      norms: Array[Float],
      dim: Int) {

    @transient lazy val bucketBlock: scala.collection.mutable.LongMap[Int] = {
      val m = scala.collection.mutable.LongMap.empty[Int]
      var i = 0
      while (i < buckets.length) { m.update(buckets(i), i); i += 1 }
      m
    }
  }

  /** One driver-resident hybrid query for [[fusedTopKCombined]]: the
    * normalized query vector plus per-token analyzed counts (the `qTokens`
    * rows, already grouped — one entry per distinct token). Queries
    * originate at the driver in a serving path, so taking them as plain
    * values (not a DataFrame) removes the collect jobs the two-leg path
    * pays per call. `tokens` may be empty (vector-only query).
    */
  final case class ServedQuery(
      qid: Long,
      qvec: Array[Float],
      tokens: Array[(String, Int)])

  /** Collect a DataFrame-shaped query batch into driver-resident
    * [[ServedQuery]] values — the one conversion the bench and specs
    * share. `qVecs`: (qid, qvec); `qTokens`: (qid, token, qn), already
    * per-token grouped. A qid missing from `qTokens` serves vector-only
    * (empty tokens); a qid missing from `qVecs` is not emitted —
    * combined serving is hybrid by contract (route tokens-only work
    * through [[fusedTopK]]).
    */
  def collectServedQueries(
      qVecs: DataFrame,
      qTokens: DataFrame): Seq[ServedQuery] = {
    val vecByQ = qVecs.select(col("qid").cast("long"), col("qvec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val toksByQ = qTokens
      .select(col("qid").cast("long"), col("token"), col("qn").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2).toInt))
      .groupBy(_._1)
    vecByQ.keys.toSeq.sorted.map { qid =>
      ServedQuery(qid, vecByQ(qid),
        toksByQ.getOrElse(qid, Array.empty).map(x => (x._2, x._3)))
    }
  }

  /** Build the combined doc-major serving state: ONE repartition by doc id
    * co-locates each doc's aggregated posting list, decay factor, vector
    * and IVF bucket, and each partition assembles its [[Shard]] plus
    * bucket-major vector blocks. Offline, cached like [[buildShards]] /
    * [[Ivf.servingIndex]] — at cluster scale the combined shard is the
    * natural persisted layout for a hybrid index (the reference keeps the
    * HNSW arena, postings and metadata of a collection on one node for
    * the same reason).
    *
    * @param assigned `(idCol, vector, bucket)` — [[Ivf.assignFast]] output
    *   over NORMALIZED vectors (the serving kernels' cosine contract).
    *   Docs missing from it (or with a null vector) still text-serve.
    */
  /** The combined layouts' shared input frame, doc-major partitioned:
    * one row per doc — `(_id, _dec, _vec, _bucket, _post)` with postings
    * aggregated to a list (bounded by doc length) and vector + bucket
    * left-joined, so postings never replicate per-token with the vector
    * payload.
    *
    * PRECONDITION (ADVICE r15): `assigned` ⊆ the doc SPINE — the decay
    * frame when `dec` is given, `allIds` otherwise (the decay frame IS
    * the served doc universe: the vector and posting legs both LEFT-join
    * onto it). A doc present in `assigned` but absent from the spine
    * silently disappears from the combined vector leg — where the
    * two-leg path (a separately built [[Ivf.servingIndex]]) would still
    * return it, breaking the bit-identity the combined twins are
    * spec-pinned to. The builders assert it cheaply: extra `assigned`
    * rows surviving an anti-join against the spine fail the build loudly
    * instead of serving with silent recall loss.
    */
  private def combinedRows(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      assigned: DataFrame,
      dec: Option[DataFrame],
      numShards: Int,
      prebuiltDocLengths: Option[DataFrame],
      prebuiltTokenDf: Option[DataFrame],
      frozenStats: Option[(Long, Double)] = None): DataFrame = {
    val (wp, decN) = weightedAndDecay(allIds, post, idCol, dec,
      prebuiltDocLengths, prebuiltTokenDf, frozenStats)
    val pAgg = wp.groupBy(col(idCol).cast("long").as("_id"))
      .agg(collect_list(struct(col("token"),
        col("w").cast("double").as("w"))).as("_post"))
    val vSel = assigned.select(col(idCol).cast("long").as("_id"),
      col("vector").cast("array<float>").as("_vec"),
      col("bucket").cast("long").as("_bucket"))
    // assigned ⊆ spine precondition check (see scaladoc): one anti-join
    // count against decN — the served doc universe — at build time.
    // Builds are offline/untimed, and a violation here is silent recall
    // loss at serve time.
    val orphans = vSel.join(decN.select(col("_id")), Seq("_id"), "left_anti")
      .count()
    require(orphans == 0,
      s"combined serving build: $orphans assigned doc(s) missing from " +
        "the doc spine (the decay frame, or allIds when decay is " +
        "disabled) — the vector leg would silently drop them")
    docMajor(decN.join(vSel, Seq("_id"), "left")
      .join(pAgg, Seq("_id"), "left"), numShards)
  }

  def buildCombined(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      assigned: DataFrame,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      prebuiltDocLengths: Option[DataFrame] = None,
      prebuiltTokenDf: Option[DataFrame] = None,
      frozenStats: Option[(Long, Double)] = None): org.apache.spark.rdd.RDD[CombinedShard] = {
    combinedRows(allIds, post, idCol, assigned, dec, numShards,
      prebuiltDocLengths, prebuiltTokenDf, frozenStats).rdd
      .mapPartitions(assembleF32)
  }

  /** Assemble one partition of `(_id, _dec, _vec, _bucket, _post)` rows —
    * the [[combinedRows]] frame, positionally — into one [[CombinedShard]].
    * Shared by [[buildCombined]], [[buildSegment]] and [[loadCombined]]
    * (the persisted layout stores exactly this row shape).
    */
  private[graft] def assembleF32(
      it: Iterator[org.apache.spark.sql.Row]): Iterator[CombinedShard] = {
    val text = new DocText
    val byBucket = scala.collection.mutable.LongMap
      .empty[(scala.collection.mutable.ArrayBuilder.ofInt,
              scala.collection.mutable.ArrayBuffer[Array[Float]])]
    it.foreach { r =>
      val li = text.add(r, postIx = 4)
      if (!r.isNullAt(2) && !r.isNullAt(3)) {
        val e = byBucket.getOrElseUpdate(r.getLong(3),
          (new scala.collection.mutable.ArrayBuilder.ofInt,
           scala.collection.mutable.ArrayBuffer.empty[Array[Float]]))
        e._1 += li
        e._2 += r.getSeq[Float](2).toArray
      }
    }
    if (text.isEmpty) Iterator.empty
    else {
      // Bucket blocks in ascending bucket order (deterministic layout;
      // scan results don't depend on it — the (distance, id) total
      // order handles ties).
      val (bs, bOff, vecLocal, flat, dim) = finishVecBlocksF32(byBucket)
      Iterator.single(CombinedShard(text.shard, bs, bOff, vecLocal, flat, dim))
    }
  }

  /** [[assembleF32]]'s compressed twin over the SAME row shape: each
    * vector is quantized against `absMax` and paired with its
    * [[Ivf.int8Norm]] as it is accumulated. Shared by
    * [[buildCombinedInt8]] and [[buildSegment]].
    */
  private[graft] def assembleInt8(absMax: Double)(
      it: Iterator[org.apache.spark.sql.Row]): Iterator[CombinedShardInt8] = {
    val text = new DocText
    val byBucket = scala.collection.mutable.LongMap
      .empty[(scala.collection.mutable.ArrayBuilder.ofInt,
              scala.collection.mutable.ArrayBuffer[(Array[Byte], Float)])]
    it.foreach { r =>
      val li = text.add(r, postIx = 4)
      if (!r.isNullAt(2) && !r.isNullAt(3)) {
        val e = byBucket.getOrElseUpdate(r.getLong(3),
          (new scala.collection.mutable.ArrayBuilder.ofInt,
           scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Float)]))
        e._1 += li
        val q = Ivf.quantizeArray(r.getSeq[Float](2).toArray, absMax)
        e._2 += ((q, Ivf.int8Norm(q)))
      }
    }
    if (text.isEmpty) Iterator.empty
    else {
      val (bs, bOff, vecLocal, codes, norms, dim) =
        finishVecBlocksInt8(byBucket)
      Iterator.single(CombinedShardInt8(text.shard, bs, bOff, vecLocal, codes,
        norms, dim))
    }
  }

  /** The text half every doc-row assembler shares: each row's local doc
    * slot (id at column 0, decay factor at column 1) plus its `(token, w)`
    * posting list folded into the partition's token-CSR builders.
    */
  private final class DocText {
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val decB = scala.collection.mutable.ArrayBuffer.empty[Double]
    private val byTok = new java.util.HashMap[String,
      (scala.collection.mutable.ArrayBuilder.ofInt,
       scala.collection.mutable.ArrayBuilder.ofDouble)]()

    /** Adds one doc row; returns its local index for the vector half. */
    def add(r: org.apache.spark.sql.Row, postIx: Int): Int = {
      ids += r.getLong(0)
      decB += r.getDouble(1)
      val li = ids.length - 1
      if (!r.isNullAt(postIx))
        r.getSeq[org.apache.spark.sql.Row](postIx).foreach { p =>
          var e = byTok.get(p.getString(0))
          if (e == null) {
            e = (new scala.collection.mutable.ArrayBuilder.ofInt,
              new scala.collection.mutable.ArrayBuilder.ofDouble)
            byTok.put(p.getString(0), e)
          }
          e._1 += li
          e._2 += p.getDouble(1)
        }
      li
    }

    def isEmpty: Boolean = ids.isEmpty
    def shard: Shard = finishShard(ids.toArray, decB.toArray, byTok)
  }

  /** [[buildCombined]]'s compressed twin: same input frame, same text
    * shard, vector blocks quantized to int8 at build time against the
    * caller's trained `absMax` ([[graft.search.Quantizer]]'s protocol).
    */
  def buildCombinedInt8(
      allIds: DataFrame,
      post: DataFrame,
      idCol: String,
      assigned: DataFrame,
      absMax: Double,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      prebuiltDocLengths: Option[DataFrame] = None,
      prebuiltTokenDf: Option[DataFrame] = None,
      frozenStats: Option[(Long, Double)] = None): org.apache.spark.rdd.RDD[CombinedShardInt8] =
    combinedRows(allIds, post, idCol, assigned, dec, numShards,
      prebuiltDocLengths, prebuiltTokenDf, frozenStats).rdd
      .mapPartitions(assembleInt8(absMax))

  /** Build a streaming SEGMENT from raw docs `(idCol, textCol, vecCol)` in
    * ONE narrow pass, under FROZEN statistics — the micro-batch twin of
    * [[buildCombined]] (which stays the full-build path: base build and
    * compaction). Under frozen stats every input of a BM25 weight is either
    * doc-local (`tf`, and `dl` = the doc's analyzed-token count) or frozen
    * (`df` from `frozenTokenDf`, `(total_docs, avg_dl)` = `frozenStats`),
    * and the IVF bucket is doc-local too, so no shuffle or join is needed:
    *
    *   1. each doc projects to `(_id, analyzed tokens, _vec)` with
    *      [[graft.text.Analyzer.analyzedTokens]] — [[graft.text.Bm25.postings]]'
    *      expressions, per row;
    *   2. `df` is fetched for the batch's distinct tokens only — one small
    *      collect over the cached frozen token-df, skipped when the batch
    *      has no tokens. `batchTokens` passes the distinct tokens when the
    *      caller already aggregated them ([[segmentTokens]]); without it
    *      one more aggregate job derives them;
    *   3. rows go to one partition (`coalesce(1)`, no shuffle) or, for
    *      `numShards > 1`, are hash-partitioned on the doc id;
    *   4. each partition counts tf/dl, weighs postings with
    *      [[graft.text.Bm25.termWeightOf]] (bit-identical to the
    *      [[graft.text.Bm25.termWeight]] column the full build evaluates),
    *      picks the bucket with [[Ivf.bestBucket]] under the cosine
    *      metric ([[Ivf.assignFast]]'s default), and feeds `assemble` —
    *      [[assembleF32]] or [[assembleInt8]].
    *
    * So `base ∪ buildSegment(batch)` serves exactly what
    * `buildCombined(base ∪ batch)` serves under the same frozen artifacts
    * (`SegmentBuildSpec` pins it for both codecs). A token absent from the
    * frozen token-df still counts in `dl` but gets no posting, as in the
    * full build; a doc with empty or null text is vector-only, a doc with
    * a null vector text-only. Segment docs carry decay factor 1.0 (serve-
    * time overrides apply on top). The docs are never collected.
    */
  private[graft] def buildSegment[T: scala.reflect.ClassTag](
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      frozenStats: (Long, Double),
      frozenTokenDf: DataFrame,
      numShards: Int = 1,
      batchTokens: Option[Seq[String]] = None)(
      assemble: Iterator[org.apache.spark.sql.Row] => Iterator[T])
      : org.apache.spark.rdd.RDD[T] = {
    val rows = docs.select(col(idCol).cast("long").as("_id"),
      graft.text.Analyzer.analyzedTokens(col(textCol)).as("_toks"),
      col(vecCol).cast("array<float>").as("_vec"))
    val toks = batchTokens.getOrElse(
      rows.coalesce(1).agg(segmentTokensOf(col("_toks"))).head().getSeq[String](0))
    val dfOf: Map[String, Long] =
      if (toks.isEmpty) Map.empty
      else frozenTokenDf.filter(col("token").isin(toks: _*))
        .select(col("token"), col("df").cast("long")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (n, avgDl) = frozenStats
    val adj = Ivf.bucketAdj(cents, "cosine")
    // Whole doc rows move, so placement is a plain RDD hash partitioning —
    // one job with a map stage, where a DataFrame repartition would add an
    // adaptive-execution stage job per segment.
    val placed =
      if (numShards > 1) rows.rdd.keyBy(_.getLong(0))
        .partitionBy(new org.apache.spark.HashPartitioner(numShards)).values
      else rows.rdd.coalesce(1)
    placed.mapPartitions { it =>
      assemble(it.map { r =>
        val docToks = if (r.isNullAt(1)) Seq.empty[String] else r.getSeq[String](1)
        val tf = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        docToks.foreach(t => tf(t) = tf.getOrElse(t, 0L) + 1L)
        val dl = docToks.length.toLong
        val post = tf.toSeq.flatMap { case (t, c) =>
          dfOf.get(t).map(df => org.apache.spark.sql.Row(t,
            graft.text.Bm25.termWeightOf(c, df, dl, n, avgDl)))
        }
        val (vec, bucket) =
          if (r.isNullAt(2)) (null, null)
          else {
            val v = r.getSeq[Float](2)
            (v, java.lang.Long.valueOf(
              Ivf.bestBucket(cents, adj, v.toArray, l2 = false).toLong))
          }
        org.apache.spark.sql.Row(r.getLong(0), 1.0, vec, bucket, post)
      })
    }
  }

  /** The distinct analyzed tokens of a batch's `textCol` as ONE aggregate
    * column — what [[buildSegment]]'s `batchTokens` expects, so a caller
    * can fold it into an aggregate job it runs anyway.
    */
  private[graft] def segmentTokens(textCol: String): org.apache.spark.sql.Column =
    segmentTokensOf(graft.text.Analyzer.analyzedTokens(col(textCol)))

  private def segmentTokensOf(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_distinct(flatten(collect_list(toks)))

  /** Incremental ingest into the combined serving index (VERDICT r15
    * next-round #3) — the combined twin of [[graft.streaming.Streams]]'
    * `ivfIngest`: a micro-batch of NEW documents becomes a small
    * SEGMENT (its own doc-major `RDD[CombinedShard]` over just the batch)
    * unioned onto the live index. The union is still served by ONE Spark
    * job ([[fusedTopKCombined]] runs over partitions; a union only adds
    * partitions), the partials stay k-bounded, and no existing shard is
    * rewritten — exactly how `ivfIngest` appends parquet files the next
    * probe scan picks up, and how a search engine lands micro-batches as
    * fresh segments. Periodic offline compaction = a full
    * [[buildCombined]] rebuild, the analogue of refreshing `ivfIngest`'s
    * frozen centroids.
    *
    * Frozen-artifact discipline (the same contract as the frozen IVF
    * centroids and the streaming gates' frozen LMs): the segment's BM25
    * weights are computed against the base index's FROZEN corpus
    * statistics — `frozenStats` = [[Bm25.corpusStats]] at the last
    * rebuild, `prebuiltTokenDf` = that rebuild's token-df artifact — so
    * already-served documents' scores never drift as batches land. A
    * batch token absent from the frozen tdf stays unsearchable until the
    * next stats refresh (reference context: kektordb re-indexes postings
    * per insert, `pkg/engine/ops.go:268`; at 100 TB per-insert global-df
    * refresh is the part that cannot scale, frozen-stats segments are
    * the standard serving answer). With identical frozen artifacts,
    * `append(build(base), batch)` serves results equal to
    * `build(base ∪ batch)` — pinned by ServingFusionSpec.
    *
    * PRECONDITIONS: batch doc ids are DISJOINT from the base index's (an
    * id present in both would be scored twice — append-only segments, no
    * upsert; route updates through compaction), and `newAssigned` ⊆
    * `newIds` (checked by [[combinedRows]]). Pass `baseMaxId` — the base
    * index's maximum doc id, a driver-held scalar the builder records
    * once per rebuild — to CHECK the disjointness for pennies (VERDICT
    * r16 #3): ids at or below the watermark fail the append loudly
    * instead of silently double-scoring. The watermark shape assumes
    * monotone id assignment (the oplog's, and every ingest pipeline
    * here); id spaces that interleave need the compaction route anyway.
    *
    * Caching discipline: cache the SEGMENT (or let this method's result
    * stay lazy over an already-cached base) — caching the returned union
    * itself re-stores every base partition, the duplication a segment
    * architecture exists to avoid. [[graft.streaming.Streams]]'
    * `combinedIngest` shows the shape: materialize the segment, then
    * swap in the lazy union.
    *
    * Segment shape and cost: this frame-level form takes a batch that is
    * already postings + IVF assignment and runs the full [[buildCombined]]
    * plan over it (token-df and doc-length joins, a per-doc
    * `collect_list`, the orphan anti-join count, a doc-major shuffle),
    * several jobs per batch. Streaming ingest from raw docs uses
    * [[buildSegment]] instead: the same shards (same weights, buckets and
    * vectors, bit for bit), built in one narrow pass, four jobs per
    * micro-batch including the log write and the driver checks.
    */
  def appendCombined(
      index: org.apache.spark.rdd.RDD[CombinedShard],
      newIds: DataFrame,
      newPost: DataFrame,
      idCol: String,
      newAssigned: DataFrame,
      frozenStats: (Long, Double),
      prebuiltTokenDf: DataFrame,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      baseMaxId: Option[Long] = None): org.apache.spark.rdd.RDD[CombinedShard] = {
    baseMaxId.foreach(requireIdsAbove(newIds, idCol, _))
    index.union(buildCombined(newIds, newPost, idCol, newAssigned, dec,
      numShards, prebuiltDocLengths = None,
      prebuiltTokenDf = Some(prebuiltTokenDf),
      frozenStats = Some(frozenStats)))
  }

  /** [[appendCombined]]'s compressed twin: the segment quantizes against
    * the SAME `absMax` the base index was built with (another frozen
    * artifact — re-deriving it per batch would shift every code).
    */
  def appendCombinedInt8(
      index: org.apache.spark.rdd.RDD[CombinedShardInt8],
      newIds: DataFrame,
      newPost: DataFrame,
      idCol: String,
      newAssigned: DataFrame,
      absMax: Double,
      frozenStats: (Long, Double),
      prebuiltTokenDf: DataFrame,
      dec: Option[DataFrame] = None,
      numShards: Int = 0,
      baseMaxId: Option[Long] = None): org.apache.spark.rdd.RDD[CombinedShardInt8] = {
    baseMaxId.foreach(requireIdsAbove(newIds, idCol, _))
    index.union(buildCombinedInt8(newIds, newPost, idCol, newAssigned,
      absMax, dec, numShards, prebuiltDocLengths = None,
      prebuiltTokenDf = Some(prebuiltTokenDf),
      frozenStats = Some(frozenStats)))
  }

  /** The append-only id watermark check (see [[appendCombined]]'s
    * preconditions): every arriving id must be STRICTLY above the base
    * index's max id. One min-aggregate over the batch-sized frame.
    */
  private def requireIdsAbove(newIds: DataFrame, idCol: String,
      watermark: Long): Unit = {
    val r = newIds.agg(min(col(idCol).cast("long"))).head()
    require(r.isNullAt(0) || r.getLong(0) > watermark,
      s"appendCombined: arriving id ${r.getLong(0)} is <= the base " +
        s"index's id watermark $watermark — an id present in both base " +
        "and segment would be scored twice (append-only segments, no " +
        "upsert; route updates through compaction)")
  }

  /** COMPACTION (the operation [[appendCombined]]'s scaladoc and the
    * serve-time tombstone/override contracts defer to): physically rewrite
    * a served combined index so the live driver-side sets can be cleared —
    * tombstoned docs are DROPPED from every shard (the reference's vacuum
    * over soft-deleted HNSW nodes, `pkg/core/hnsw/optimizer.go` via
    * `hnsw_index.go:2292` tombstones), decay overrides are BAKED into the
    * stored per-doc factors (`pkg/engine/ops.go:697`'s in-place metadata
    * mutation, realized at rewrite time), and the base + K appended
    * micro-batch segments FOLD back into `numPartitions` doc-major shards
    * — one shard per partition, the fresh-build layout — so the fused
    * job's task count stops growing with batches since the last rebuild
    * (the serve-vs-segment-count curve in the bench artifact prices
    * exactly that growth).
    *
    * Score semantics: EXACT. Every stored term weight was computed under
    * frozen corpus stats, so a doc's text score is independent of which
    * other docs exist or where they live; the decay factor is per-doc
    * multiplicative; vector rows are copied bit-for-bit and both scan
    * kernels accumulate per-doc in query-token / per-row order — layout
    * never enters. So `serve(compact(ix, T, O))` == `serve(ix,
    * tombstones = T, decOverrides = O)` bit-identically
    * (CombinedServingSpec pins it), and compaction commutes with further
    * appends. Frozen stats are NOT refreshed here — that is the full
    * rebuild's job; compaction is the cheap in-family rewrite that never
    * touches the source tables (at 100 TB the difference is a cluster
    * scan vs a pass over the resident index).
    *
    * Durability: compaction rewrites the SERVED state only. Keep the
    * segment log — restart recovery (`Streams.recoverCombinedSegments`)
    * rebuilds the same docs from base-source + log and the tombstone set
    * re-derives from the oplog's soft-deletes, which stays consistent
    * with the compacted in-memory state. Truncate the log only when the
    * base SOURCE snapshot advances past its batches (the AOF-rewrite
    * coupling, SURVEY §2 S3: snapshot first, then truncate).
    *
    * The caller caches + materializes the result before swapping it in
    * ([[graft.streaming.Streams.compactCombinedServing]] orchestrates the
    * swap and the live-set clearing).
    */
  def compactCombined(
      index: org.apache.spark.rdd.RDD[CombinedShard],
      tombstones: Array[Long] = Array.emptyLongArray,
      decOverrides: Array[(Long, Double)] = Array.empty,
      numPartitions: Int = 1): org.apache.spark.rdd.RDD[CombinedShard] = {
    val tomb = sortedTombstones(tombstones)
    val (ovI, ovD) = sortedOverrides(decOverrides)
    regroupShards(index, numPartitions).mapPartitions { it =>
      val shards = it.toArray
      if (shards.isEmpty) Iterator.empty
      else {
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val decB = scala.collection.mutable.ArrayBuffer.empty[Double]
        val byTok = new java.util.HashMap[String,
          (scala.collection.mutable.ArrayBuilder.ofInt,
           scala.collection.mutable.ArrayBuilder.ofDouble)]()
        val byBucket = scala.collection.mutable.LongMap
          .empty[(scala.collection.mutable.ArrayBuilder.ofInt,
                  scala.collection.mutable.ArrayBuffer[Array[Float]])]
        var dim = 0
        shards.foreach { csh =>
          val remap = vacuumText(csh.text, tomb, ovI, ovD, ids, decB, byTok)
          if (csh.dim > 0) dim = csh.dim
          var blk = 0
          while (blk < csh.buckets.length) {
            var r = csh.bOff(blk)
            val end = csh.bOff(blk + 1)
            while (r < end) {
              val nl = remap(csh.vecLocal(r))
              if (nl >= 0) {
                val e = byBucket.getOrElseUpdate(csh.buckets(blk),
                  (new scala.collection.mutable.ArrayBuilder.ofInt,
                   scala.collection.mutable.ArrayBuffer.empty[Array[Float]]))
                e._1 += nl
                e._2 += java.util.Arrays.copyOfRange(
                  csh.flat, r * csh.dim, (r + 1) * csh.dim)
              }
              r += 1
            }
            blk += 1
          }
        }
        if (ids.isEmpty) Iterator.empty
        else {
          val shard = finishShard(ids.toArray, decB.toArray, byTok)
          val (bs, bOff, vecLocal, flat, fDim) = finishVecBlocksF32(byBucket)
          Iterator.single(CombinedShard(shard, bs, bOff, vecLocal, flat,
            if (fDim > 0) fDim else dim))
        }
      }
    }
  }

  /** [[compactCombined]]'s compressed twin. Codes and stored norms are
    * copied verbatim (recomputing norms would be exact too, but copying
    * keeps the invariant self-evident): same frozen `absMax` discipline
    * as [[appendCombinedInt8]].
    */
  def compactCombinedInt8(
      index: org.apache.spark.rdd.RDD[CombinedShardInt8],
      tombstones: Array[Long] = Array.emptyLongArray,
      decOverrides: Array[(Long, Double)] = Array.empty,
      numPartitions: Int = 1): org.apache.spark.rdd.RDD[CombinedShardInt8] = {
    val tomb = sortedTombstones(tombstones)
    val (ovI, ovD) = sortedOverrides(decOverrides)
    regroupShards(index, numPartitions).mapPartitions { it =>
      val shards = it.toArray
      if (shards.isEmpty) Iterator.empty
      else {
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val decB = scala.collection.mutable.ArrayBuffer.empty[Double]
        val byTok = new java.util.HashMap[String,
          (scala.collection.mutable.ArrayBuilder.ofInt,
           scala.collection.mutable.ArrayBuilder.ofDouble)]()
        val byBucket = scala.collection.mutable.LongMap
          .empty[(scala.collection.mutable.ArrayBuilder.ofInt,
                  scala.collection.mutable.ArrayBuffer[(Array[Byte], Float)])]
        var dim = 0
        shards.foreach { csh =>
          val remap = vacuumText(csh.text, tomb, ovI, ovD, ids, decB, byTok)
          if (csh.dim > 0) dim = csh.dim
          var blk = 0
          while (blk < csh.buckets.length) {
            var r = csh.bOff(blk)
            val end = csh.bOff(blk + 1)
            while (r < end) {
              val nl = remap(csh.vecLocal(r))
              if (nl >= 0) {
                val e = byBucket.getOrElseUpdate(csh.buckets(blk),
                  (new scala.collection.mutable.ArrayBuilder.ofInt,
                   scala.collection.mutable.ArrayBuffer
                     .empty[(Array[Byte], Float)]))
                e._1 += nl
                e._2 += ((java.util.Arrays.copyOfRange(
                  csh.codes, r * csh.dim, (r + 1) * csh.dim), csh.norms(r)))
              }
              r += 1
            }
            blk += 1
          }
        }
        if (ids.isEmpty) Iterator.empty
        else {
          val shard = finishShard(ids.toArray, decB.toArray, byTok)
          val (bs, bOff, vecLocal, codes, norms, iDim) =
            finishVecBlocksInt8(byBucket)
          Iterator.single(CombinedShardInt8(shard, bs, bOff, vecLocal, codes,
            norms, if (iDim > 0) iDim else dim))
        }
      }
    }
  }

  /** Regroup whole shards into `numPartitions` partitions for the two
    * compaction kernels. `coalesce` alone can only REDUCE partition count
    * (ADVICE r17: asking for more shards than the union currently has
    * silently yielded fewer) — growing needs the shuffle. Whole shard
    * OBJECTS move, never doc rows, so the output shard count is
    * min(numPartitions, input shards): a compaction cannot split one
    * resident shard, only a fresh build chooses finer granularity.
    */
  private def regroupShards[S: scala.reflect.ClassTag](
      index: org.apache.spark.rdd.RDD[S],
      numPartitions: Int): org.apache.spark.rdd.RDD[S] = {
    val n = math.max(1, numPartitions)
    index.coalesce(n, shuffle = n > index.getNumPartitions)
  }

  /** Shared text-side vacuum+merge step for the two compaction kernels:
    * appends `sh`'s SURVIVING docs (not in `tomb`) into the partition's
    * merged id/decay builders — decay overridden where `ovI` says so — and
    * folds each token slot's surviving postings into `byTok` with local
    * indices remapped to the merged layout. Returns old-local → new-local
    * (−1 = tombstoned), which the callers use to vacuum the vector blocks.
    */
  private def vacuumText(
      sh: Shard,
      tomb: Array[Long],
      ovI: Array[Long],
      ovD: Array[Double],
      ids: scala.collection.mutable.ArrayBuffer[Long],
      decB: scala.collection.mutable.ArrayBuffer[Double],
      byTok: java.util.HashMap[String,
        (scala.collection.mutable.ArrayBuilder.ofInt,
         scala.collection.mutable.ArrayBuilder.ofDouble)]): Array[Int] = {
    val remap = new Array[Int](sh.ids.length)
    var li = 0
    while (li < sh.ids.length) {
      val id = sh.ids(li)
      if (tomb.length > 0 && java.util.Arrays.binarySearch(tomb, id) >= 0)
        remap(li) = -1
      else {
        remap(li) = ids.length
        ids += id
        val oi =
          if (ovI.length == 0) -1
          else java.util.Arrays.binarySearch(ovI, id)
        decB += (if (oi >= 0) ovD(oi) else sh.dec(li))
      }
      li += 1
    }
    var s = 0
    while (s < sh.tokens.length) {
      var e = sh.offsets(s)
      val end = sh.offsets(s + 1)
      var slot: (scala.collection.mutable.ArrayBuilder.ofInt,
        scala.collection.mutable.ArrayBuilder.ofDouble) = null
      while (e < end) {
        val nl = remap(sh.docIx(e))
        if (nl >= 0) {
          if (slot == null) {
            slot = byTok.get(sh.tokens(s))
            if (slot == null) {
              slot = (new scala.collection.mutable.ArrayBuilder.ofInt,
                new scala.collection.mutable.ArrayBuilder.ofDouble)
              byTok.put(sh.tokens(s), slot)
            }
          }
          slot._1 += nl
          slot._2 += sh.w(e)
        }
        e += 1
      }
      s += 1
    }
    remap
  }

  // ===== Persistence — the serving layer's snapshot (SURVEY §2 S2's
  // analogue for the combined index, reference: gob snapshots + mmap
  // arena under pkg/persistence/; here the snapshot is a parquet table
  // in the index's own doc-row shape). =====

  /** The persisted combined layout's doc-row schema — exactly the
    * [[combinedRows]] frame ([[assembleF32]]'s positional contract), so
    * load is repartition + the same assembly pass a build runs.
    */
  private val combinedDocSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("_dec",
      org.apache.spark.sql.types.DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("_vec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false),
      nullable = true),
    org.apache.spark.sql.types.StructField("_bucket",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("_post",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("token",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("w",
            org.apache.spark.sql.types.DoubleType, nullable = false))),
        containsNull = false), nullable = true)))

  /** The int8 twin's doc-row schema: codes stored VERBATIM as binary (a
    * load must not re-quantize — absMax rides the meta table instead).
    */
  private val combinedDocSchemaInt8 = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_dec",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("_codes",
        org.apache.spark.sql.types.BinaryType, nullable = true),
      org.apache.spark.sql.types.StructField("_norm",
        org.apache.spark.sql.types.FloatType, nullable = true),
      org.apache.spark.sql.types.StructField("_bucket",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("_post",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("token",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("w",
              org.apache.spark.sql.types.DoubleType, nullable = false))),
          containsNull = false), nullable = true)))

  /** One shard exploded back into its doc rows, the inverse of
    * [[assembleF32]]: per local doc — id, decay factor, its vector row
    * (null for text-only docs) + owning bucket, and its (token, weight)
    * posting list transposed out of the CSR. Partition-local work,
    * bounded by the shard.
    */
  private def explodeDocRows(csh: CombinedShard): Iterator[org.apache.spark.sql.Row] = {
    val sh = csh.text
    val n = sh.ids.length
    val (vecRow, bucketOf) = vecRowsOf(sh.ids.length, csh.buckets, csh.bOff,
      csh.vecLocal)
    val posts = postsOf(sh)
    Iterator.tabulate(n) { li =>
      val r = vecRow(li)
      org.apache.spark.sql.Row(
        sh.ids(li), sh.dec(li),
        if (r < 0) null
        else java.util.Arrays.copyOfRange(csh.flat, r * csh.dim,
          (r + 1) * csh.dim),
        if (r < 0) null else java.lang.Long.valueOf(bucketOf(li)),
        posts(li))
    }
  }

  private def explodeDocRowsInt8(
      csh: CombinedShardInt8): Iterator[org.apache.spark.sql.Row] = {
    val sh = csh.text
    val n = sh.ids.length
    val (vecRow, bucketOf) = vecRowsOf(sh.ids.length, csh.buckets, csh.bOff,
      csh.vecLocal)
    val posts = postsOf(sh)
    Iterator.tabulate(n) { li =>
      val r = vecRow(li)
      org.apache.spark.sql.Row(
        sh.ids(li), sh.dec(li),
        if (r < 0) null
        else java.util.Arrays.copyOfRange(csh.codes, r * csh.dim,
          (r + 1) * csh.dim),
        if (r < 0) null else java.lang.Float.valueOf(csh.norms(r)),
        if (r < 0) null else java.lang.Long.valueOf(bucketOf(li)),
        posts(li))
    }
  }

  /** local doc → (vector row or −1, owning bucket) for an explode pass. */
  private def vecRowsOf(n: Int, buckets: Array[Long], bOff: Array[Int],
      vecLocal: Array[Int]): (Array[Int], Array[Long]) = {
    val vecRow = Array.fill(n)(-1)
    val bucketOf = new Array[Long](n)
    var blk = 0
    while (blk < buckets.length) {
      var r = bOff(blk)
      val end = bOff(blk + 1)
      while (r < end) {
        vecRow(vecLocal(r)) = r
        bucketOf(vecLocal(r)) = buckets(blk)
        r += 1
      }
      blk += 1
    }
    (vecRow, bucketOf)
  }

  /** local doc → (token, w) posting rows (null when the doc has none),
    * transposed out of the shard's token-major CSR.
    */
  private def postsOf(sh: Shard): Array[Seq[org.apache.spark.sql.Row]] = {
    val posts = new Array[scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]](sh.ids.length)
    var s = 0
    while (s < sh.tokens.length) {
      var e = sh.offsets(s)
      val end = sh.offsets(s + 1)
      while (e < end) {
        val d = sh.docIx(e)
        if (posts(d) == null)
          posts(d) = scala.collection.mutable.ArrayBuffer.empty
        posts(d) += org.apache.spark.sql.Row(sh.tokens(s), sh.w(e))
        e += 1
      }
      s += 1
    }
    posts.map(p => if (p == null) null else p.toSeq)
  }

  /** Persist a combined serving index with everything a restart needs to
    * SERVE and to keep APPENDING: `docs/` — one parquet row per doc in
    * the index's own row shape (stored term WEIGHTS, not text: the
    * tokenize+stem+weight pipeline over the raw corpus is the expensive
    * part of a build at 100 TB and is never re-run on load), `tokendf/` —
    * the frozen token-df artifact segments append under, `meta/` — the
    * frozen corpus scalars. One no-shuffle pass over the resident shards;
    * [[loadCombined]] restores with a partitioned scan + the build's own
    * doc-major repartition + assembly (no analyzer, no weighting, no
    * KMeans). Serve-exact round trip pinned by CombinedServingSpec. Save
    * AFTER compaction for the snapshot-then-truncate-log coupling
    * ([[compactCombined]]'s durability note); tombstones/overrides are
    * live driver state, deliberately NOT persisted (they re-derive from
    * the oplog, and a compacted save has none).
    */
  def saveCombined(
      index: org.apache.spark.rdd.RDD[CombinedShard],
      path: String,
      frozenStats: (Long, Double),
      tokenDf: DataFrame): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    val maxId = maxIdOf(index.map(csh =>
      if (csh.text.ids.isEmpty) Long.MinValue else csh.text.ids.max))
    spark.createDataFrame(index.mapPartitions(_.flatMap(explodeDocRows)),
        combinedDocSchema)
      .write.mode("overwrite").parquet(s"$path/docs")
    tokenDf.select(col("token"), col("df").cast("long").as("df"))
      .write.mode("overwrite").parquet(s"$path/tokendf")
    spark.createDataFrame(Seq((frozenStats._1, frozenStats._2, maxId)))
      .toDF("total_docs", "avgdl", "max_id")
      .write.mode("overwrite").parquet(s"$path/meta")
    maxId
  }

  /** The snapshot's id watermark: max doc id across shards in ONE job
    * (fold handles the empty index — MinValue, above which every id
    * sits, so recovery filters nothing).
    */
  private def maxIdOf(perShard: org.apache.spark.rdd.RDD[Long]): Long =
    perShard.fold(Long.MinValue)(math.max)

  /** A restored [[saveCombined]] snapshot: the index plus every frozen
    * artifact appends need, and the snapshot's id watermark `maxId` — the
    * `minIdExclusive` recovery and restart ingest resume from
    * ([[graft.streaming.Streams.recoverCombinedSegments]]).
    */
  final case class LoadedCombined(
      index: org.apache.spark.rdd.RDD[CombinedShard],
      frozenStats: (Long, Double),
      tokenDf: DataFrame,
      maxId: Long)

  final case class LoadedCombinedInt8(
      index: org.apache.spark.rdd.RDD[CombinedShardInt8],
      absMax: Double,
      frozenStats: (Long, Double),
      tokenDf: DataFrame,
      maxId: Long)

  /** Restore a [[saveCombined]] snapshot — the full append-ready bundle.
    * The caller caches + materializes the index (and re-derives the
    * serve-time tombstone set from the oplog,
    * [[graft.streaming.Streams.tombstoneIngest]]'s restart contract).
    */
  def loadCombined(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numShards: Int = 0): LoadedCombined = {
    val meta = spark.read.parquet(s"$path/meta")
      .select(col("total_docs").cast("long"), col("avgdl").cast("double"),
        col("max_id").cast("long"))
      .head()
    val docs = spark.read.parquet(s"$path/docs")
      .select(col("_id"), col("_dec"), col("_vec"), col("_bucket"),
        col("_post"))
    LoadedCombined(
      docMajor(docs, numShards).rdd.mapPartitions(assembleF32),
      (meta.getLong(0), meta.getDouble(1)),
      spark.read.parquet(s"$path/tokendf"),
      meta.getLong(2))
  }

  /** [[saveCombined]]'s compressed twin: codes + norms stored verbatim
    * (never re-quantized), `absMax` rides the meta table — the complete
    * frozen-artifact set for int8 appends.
    */
  def saveCombinedInt8(
      index: org.apache.spark.rdd.RDD[CombinedShardInt8],
      path: String,
      absMax: Double,
      frozenStats: (Long, Double),
      tokenDf: DataFrame): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    val maxId = maxIdOf(index.map(csh =>
      if (csh.text.ids.isEmpty) Long.MinValue else csh.text.ids.max))
    spark.createDataFrame(index.mapPartitions(_.flatMap(explodeDocRowsInt8)),
        combinedDocSchemaInt8)
      .write.mode("overwrite").parquet(s"$path/docs")
    tokenDf.select(col("token"), col("df").cast("long").as("df"))
      .write.mode("overwrite").parquet(s"$path/tokendf")
    spark.createDataFrame(Seq((frozenStats._1, frozenStats._2, absMax,
        maxId)))
      .toDF("total_docs", "avgdl", "abs_max", "max_id")
      .write.mode("overwrite").parquet(s"$path/meta")
    maxId
  }

  /** Restore a [[saveCombinedInt8]] snapshot. */
  def loadCombinedInt8(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      numShards: Int = 0): LoadedCombinedInt8 = {
    val meta = spark.read.parquet(s"$path/meta")
      .select(col("total_docs").cast("long"), col("avgdl").cast("double"),
        col("abs_max").cast("double"), col("max_id").cast("long"))
      .head()
    val docs = spark.read.parquet(s"$path/docs")
      .select(col("_id"), col("_dec"), col("_codes"), col("_norm"),
        col("_bucket"), col("_post"))
    LoadedCombinedInt8(
      docMajor(docs, numShards).rdd.mapPartitions(assembleInt8Stored),
      meta.getDouble(2), (meta.getLong(0), meta.getDouble(1)),
      spark.read.parquet(s"$path/tokendf"), meta.getLong(3))
  }

  /** Assemble one partition of
    * `(_id, _dec, _codes, _norm, _bucket, _post)` rows — the persisted
    * int8 layout, positionally — into one [[CombinedShardInt8]]: codes
    * and norms carried VERBATIM (never re-quantized), the int8 analogue
    * of [[assembleF32]].
    */
  private def assembleInt8Stored(
      it: Iterator[org.apache.spark.sql.Row]): Iterator[CombinedShardInt8] = {
    val text = new DocText
    val byBucket = scala.collection.mutable.LongMap
      .empty[(scala.collection.mutable.ArrayBuilder.ofInt,
              scala.collection.mutable.ArrayBuffer[(Array[Byte], Float)])]
    it.foreach { r =>
      val li = text.add(r, postIx = 5)
      if (!r.isNullAt(2) && !r.isNullAt(4)) {
        val e = byBucket.getOrElseUpdate(r.getLong(4),
          (new scala.collection.mutable.ArrayBuilder.ofInt,
           scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Float)]))
        e._1 += li
        e._2 += ((r.getAs[Array[Byte]](2), r.getFloat(3)))
      }
    }
    if (text.isEmpty) Iterator.empty
    else {
      val (bs, bOff, vecLocal, codes, norms, dim) =
        finishVecBlocksInt8(byBucket)
      Iterator.single(CombinedShardInt8(text.shard, bs, bOff, vecLocal, codes,
        norms, dim))
    }
  }

  /** Per-partition partial for the combined pass: the text-leg
    * [[FusedPartial]] plus a kVec-bounded vector top-k whose entries CARRY
    * their hydration — the owning partition's text raw score, decay factor
    * and has-text-hit flag, recorded at scan time (the text scan for a
    * query runs before its vector scan, so `acc`/`seen` hold that query's
    * scores when vector candidates insert). Insertion mirrors
    * [[Ivf.TopK.insert]] exactly, including the NaN-tolerant tail write,
    * so the merged vector leg is bit-identical to
    * [[Ivf.searchBatchedFast]]'s.
    */
  private final class CombinedPartial(nq: Int, kText: Int, kVec: Int)
      extends Serializable {
    val text = new FusedPartial(nq, kText)
    val vd: Array[Array[Double]] = Array.fill(nq)(Array.fill(kVec)(Double.MaxValue))
    val vid: Array[Array[Long]] = Array.fill(nq)(Array.fill(kVec)(Long.MaxValue))
    val vraw: Array[Array[Double]] = Array.fill(nq)(Array.fill(kVec)(0.0))
    val vdec: Array[Array[Double]] = Array.fill(nq)(Array.fill(kVec)(1.0))
    val vhasT: Array[Array[Boolean]] = Array.fill(nq)(Array.fill(kVec)(false))

    def insertVec(qi: Int, d: Double, id: Long, raw: Double, dec: Double,
        hasT: Boolean): Unit = {
      val hd = vd(qi); val hi = vid(qi); val hr = vraw(qi)
      val hc = vdec(qi); val hh = vhasT(qi)
      val last = hd.length - 1
      if (d > hd(last) || (d == hd(last) && id > hi(last))) return
      var j = last
      while (j > 0 && (hd(j - 1) > d || (hd(j - 1) == d && hi(j - 1) > id))) {
        hd(j) = hd(j - 1); hi(j) = hi(j - 1); hr(j) = hr(j - 1)
        hc(j) = hc(j - 1); hh(j) = hh(j - 1)
        j -= 1
      }
      hd(j) = d; hi(j) = id; hr(j) = raw; hc(j) = dec; hh(j) = hasT
    }

    def merge(o: CombinedPartial): CombinedPartial = {
      text.merge(o.text)
      var qi = 0
      while (qi < vd.length) {
        val od = o.vd(qi)
        var j = 0
        while (j < od.length && od(j) < Double.MaxValue) {
          insertVec(qi, od(j), o.vid(qi)(j), o.vraw(qi)(j), o.vdec(qi)(j),
            o.vhasT(qi)(j))
          j += 1
        }
        qi += 1
      }
      this
    }
  }

  /** Serve a fused hybrid batch in ONE Spark job: both legs of
    * [[Fusion.searchWithFusionBatch]] — the BM25 text scan AND the IVF
    * vector scan over the probed buckets — plus the vector-leg hydration
    * run in a single mapPartitions pass over the combined shards, with
    * only k-bounded partials leaving the executors; probe selection and
    * the α-blend are driver math, exactly like [[fusedTopK]]'s. The
    * two-leg path pays two serial job rounds (ANN + token collects, then
    * the shard pass); this is the latency floor for the architecture —
    * one job launch — completing VERDICT r14's serving-latency story.
    *
    * Semantics: identical to [[fusedTopK]] fed by
    * [[Ivf.searchBatchedFast]] over the same corpus with the same
    * `nProbe`/`kVec` — same probe selection ([[Ivf.probeAssignments]]),
    * same scalar dot kernel (float accumulation, `1 − dot` over
    * normalized vectors), same (distance, id) / (raw·dec) bounded top-ks,
    * same blend ([[blendTopK]] is shared code) — so results are
    * BIT-identical, pinned by CombinedServingSpec. Per-query the vector
    * scan is scalar (no 4-query tiling) — a trade the job fusion wins
    * anyway: at both bench points the combined pass also beats the
    * two-leg path on BATCH throughput ~2.5× (the probed scan is a small
    * fraction of a fused batch's cost; the serial job rounds and
    * per-call collect jobs were not).
    *
    * Returns driver-resident rows (qid, id, fused score), per-qid top-k
    * by (score desc, id asc) — a serving response, not a plan.
    *
    * `tombstones` (VERDICT r16 #2 — live deletes): doc ids in this set are
    * INVISIBLE to both legs — never inserted into a top-k, never counted
    * toward a query's max raw score — so serving with tombstones is
    * EXACTLY a frozen-stats rebuild without those docs (under frozen
    * corpus stats + token-df, every per-doc score is independent of the
    * other docs; CombinedServingSpec pins the equality bit-for-bit). This
    * is the reference's serve-visible delete (`pkg/engine/ops.go:401` →
    * tombstoned HNSW nodes skipped at search, `hnsw_index.go:2292`)
    * mapped to segments: the set is driver-resident and rides the query
    * broadcast (deletes are rare relative to corpus size by contract),
    * and COMPACTION — the periodic rebuild — physically drops the docs
    * and clears the set.
    *
    * `decOverrides` (VERDICT r16 #2 stretch — live metadata updates): the
    * reference's `VReinforce`/`VMETA` mutate a doc's decay-relevant
    * metadata in place and the next search sees it (`ops.go:697`); here a
    * driver-resident (id → new decay factor) map rides the same broadcast
    * and overrides the shard-baked factor at scan time — serving with an
    * override is EXACTLY a rebuild whose decay frame carried the new
    * value (the factor is per-doc multiplicative; frozen BM25 stats are
    * untouched). The caller recomputes the one doc's factor from its
    * updated metadata (driver math — [[Decay]]'s formulas over one row);
    * compaction bakes the current factors and clears the map.
    */
  def fusedTopKCombined(
      combined: org.apache.spark.rdd.RDD[CombinedShard],
      cents: Array[Array[Float]],
      queries: Seq[ServedQuery],
      alpha0: Double,
      k: Int,
      nProbe: Int,
      kVec: Int = 10,
      metric: String = "cosine",
      tombstones: Array[Long] = Array.emptyLongArray,
      decOverrides: Array[(Long, Double)] = Array.empty): Array[(Long, Long, Double)] = {
    val tomb = sortedTombstones(tombstones)
    val (ovIds, ovDec) = sortedOverrides(decOverrides)
    val alpha = if (alpha0 < 0 || alpha0 > 1) 0.5 else alpha0
    val l2 = metric == "l2"
    val qs = queries.sortBy(_.qid).toArray
    require(qs.map(_.qid).distinct.length == qs.length,
      "fusedTopKCombined: duplicate qids in the batch")
    require(qs.forall(_.qvec != null),
      "fusedTopKCombined: every ServedQuery needs a query vector " +
        "(combined serving is hybrid; pass tokens-only work to fusedTopK)")
    val nq = qs.length
    if (nq == 0) return Array.empty
    val qids = qs.map(_.qid)
    val qvecs = qs.map(_.qvec)
    val toksByQ = qs.map(_.tokens.sortBy(_._1))
    // Probe selection on the driver (the descent analogue), then inverted
    // to per-query ascending bucket lists for the partition scan. Same
    // metric contract as [[Ivf.searchBatchedFast]]: cosine = 1 − dot over
    // pre-normalized vectors; l2 = squared euclidean via ‖x‖² − 2x·q + ‖q‖².
    val adj = Ivf.bucketAdj(cents, metric)
    val qsq: Array[Double] =
      if (l2) qvecs.map { qv =>
        var s = 0.0; var j = 0
        while (j < qv.length) { s += qv(j).toDouble * qv(j); j += 1 }
        s
      } else null
    val probedByQ = invertProbes(
      Ivf.probeAssignments(cents, adj, l2 = l2, qvecs, nProbe), nq)
    val bc = combined.sparkContext.broadcast(
      (qvecs, toksByQ, probedByQ, qsq, tomb, ovIds, ovDec))
    val partials = combined.mapPartitions { it =>
      val (qvs, toks, probed, qsqB, tombB, ovI, ovD) = bc.value
      def decOf(id: Long, baked: Double): Double =
        if (ovI.length == 0) baked
        else {
          val i = java.util.Arrays.binarySearch(ovI, id)
          if (i >= 0) ovD(i) else baked
        }
      val p = new CombinedPartial(qvs.length, k, kVec)
      it.foreach { csh =>
        val sh = csh.text
        val n = sh.ids.length
        val acc = new Array[Double](n)
        val seen = new Array[Int](n)
        val touched = new Array[Int](n)
        var epoch = 0
        var qi = 0
        while (qi < qvs.length) {
          epoch += 1
          // Text leg — [[scoreTokens]], the same loop [[fusedTopK]] runs.
          val tn = scoreTokens(sh, toks(qi), acc, seen, touched, epoch)
          var i = 0
          while (i < tn) {
            val d = touched(i)
            if (tombB.length == 0 ||
                java.util.Arrays.binarySearch(tombB, sh.ids(d)) < 0) {
              val raw = acc(d)
              val dc = decOf(sh.ids(d), sh.dec(d))
              if (raw > p.text.maxRaw(qi)) p.text.maxRaw(qi) = raw
              p.text.insert(qi, -(raw * dc), sh.ids(d), raw, dc)
            }
            i += 1
          }
          // Vector leg over this partition's probed bucket blocks, with
          // hydration read off the text accumulators in the same epoch.
          val qv = qvs(qi)
          val pb = probed(qi)
          var bi = 0
          while (bi < pb.length) {
            val blk = csh.bucketBlock.getOrElse(pb(bi).toLong, -1)
            if (blk >= 0) {
              var r = csh.bOff(blk)
              val end = csh.bOff(blk + 1)
              while (r < end) {
                val li = csh.vecLocal(r)
                val id = sh.ids(li)
                if (tombB.length == 0 ||
                    java.util.Arrays.binarySearch(tombB, id) < 0) {
                  var dot = 0f
                  var j = 0
                  val off = r * csh.dim
                  while (j < csh.dim) { dot += csh.flat(off + j) * qv(j); j += 1 }
                  val dist =
                    if (qsqB != null)
                      csh.rowSq(r).toDouble - 2.0d * dot + qsqB(qi)
                    else 1.0d - dot
                  val hasT = seen(li) == epoch
                  p.insertVec(qi, dist, id,
                    if (hasT) acc(li) else 0.0, decOf(id, sh.dec(li)), hasT)
                }
                r += 1
              }
            }
            bi += 1
          }
          qi += 1
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials,
      new CombinedPartial(nq, k, kVec),
      (a: CombinedPartial, b: CombinedPartial) => a.merge(b))
    bc.destroy()
    blendCombined(qids, merged, alpha, k)
  }

  /** [[fusedTopKCombined]] over the COMPRESSED layout: one job, text leg
    * identical, vector leg the integer-dot int8-cosine kernel — queries
    * quantized once on the driver against the same trained `absMax`, per
    * candidate `1 − clamp(dot/(‖x‖·‖q‖))` exactly as
    * [[Ivf.searchBatchedFastInt8]] scores (zero-norm sides score 1.0),
    * so the vector leg is bit-identical to the two-leg int8 pipeline
    * (spec-pinned). Cosine only, like the reference's int8 mode.
    */
  def fusedTopKCombinedInt8(
      combined: org.apache.spark.rdd.RDD[CombinedShardInt8],
      cents: Array[Array[Float]],
      queries: Seq[ServedQuery],
      absMax: Double,
      alpha0: Double,
      k: Int,
      nProbe: Int,
      kVec: Int = 10,
      tombstones: Array[Long] = Array.emptyLongArray,
      decOverrides: Array[(Long, Double)] = Array.empty): Array[(Long, Long, Double)] = {
    val tomb = sortedTombstones(tombstones)
    val (ovIds, ovDec) = sortedOverrides(decOverrides)
    val alpha = if (alpha0 < 0 || alpha0 > 1) 0.5 else alpha0
    val qs = queries.sortBy(_.qid).toArray
    require(qs.map(_.qid).distinct.length == qs.length,
      "fusedTopKCombinedInt8: duplicate qids in the batch")
    require(qs.forall(_.qvec != null),
      "fusedTopKCombinedInt8: every ServedQuery needs a query vector")
    val nq = qs.length
    if (nq == 0) return Array.empty
    val qids = qs.map(_.qid)
    val qvecs = qs.map(_.qvec)
    val toksByQ = qs.map(_.tokens.sortBy(_._1))
    val qcodes = qvecs.map(Ivf.quantizeArray(_, absMax))
    val qnorms = qcodes.map(Ivf.int8Norm)
    val probedByQ = invertProbes(Ivf.probeAssignments(cents,
      Ivf.bucketAdj(cents, "cosine"), l2 = false, qvecs, nProbe), nq)
    val bc = combined.sparkContext.broadcast(
      (qcodes, qnorms, toksByQ, probedByQ, tomb, ovIds, ovDec))
    val partials = combined.mapPartitions { it =>
      val (qcs, qns, toks, probed, tombB, ovI, ovD) = bc.value
      def decOf(id: Long, baked: Double): Double =
        if (ovI.length == 0) baked
        else {
          val i = java.util.Arrays.binarySearch(ovI, id)
          if (i >= 0) ovD(i) else baked
        }
      val p = new CombinedPartial(qcs.length, k, kVec)
      it.foreach { csh =>
        val sh = csh.text
        val n = sh.ids.length
        val acc = new Array[Double](n)
        val seen = new Array[Int](n)
        val touched = new Array[Int](n)
        var epoch = 0
        var qi = 0
        while (qi < qcs.length) {
          epoch += 1
          val tn = scoreTokens(sh, toks(qi), acc, seen, touched, epoch)
          var i = 0
          while (i < tn) {
            val d = touched(i)
            if (tombB.length == 0 ||
                java.util.Arrays.binarySearch(tombB, sh.ids(d)) < 0) {
              val raw = acc(d)
              val dc = decOf(sh.ids(d), sh.dec(d))
              if (raw > p.text.maxRaw(qi)) p.text.maxRaw(qi) = raw
              p.text.insert(qi, -(raw * dc), sh.ids(d), raw, dc)
            }
            i += 1
          }
          val qc = qcs(qi)
          val qn = qns(qi).toDouble
          val pb = probed(qi)
          var bi = 0
          while (bi < pb.length) {
            val blk = csh.bucketBlock.getOrElse(pb(bi).toLong, -1)
            if (blk >= 0) {
              var r = csh.bOff(blk)
              val end = csh.bOff(blk + 1)
              while (r < end) {
                val li = csh.vecLocal(r)
                val id = sh.ids(li)
                if (tombB.length == 0 ||
                    java.util.Arrays.binarySearch(tombB, id) < 0) {
                  var dot = 0
                  var j = 0
                  val off = r * csh.dim
                  while (j < csh.dim) { dot += csh.codes(off + j).toInt * qc(j).toInt; j += 1 }
                  val norm = csh.norms(r)
                  val dist =
                    if (norm == 0f || qn == 0.0) 1.0
                    else {
                      var sim = dot.toDouble / (norm.toDouble * qn)
                      if (sim > 1.0) sim = 1.0
                      if (sim < -1.0) sim = -1.0
                      1.0 - sim
                    }
                  val hasT = seen(li) == epoch
                  p.insertVec(qi, dist, id,
                    if (hasT) acc(li) else 0.0, decOf(id, sh.dec(li)), hasT)
                }
                r += 1
              }
            }
            bi += 1
          }
          qi += 1
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials,
      new CombinedPartial(nq, k, kVec),
      (a: CombinedPartial, b: CombinedPartial) => a.merge(b))
    bc.destroy()
    blendCombined(qids, merged, alpha, k)
  }

  /** Defensive copy of a serve-time tombstone set, sorted for the scan
    * loops' binary search. Driver-resident, batch-call-sized work.
    */
  private def sortedTombstones(tombstones: Array[Long]): Array[Long] =
    if (tombstones.isEmpty) tombstones
    else {
      val t = tombstones.clone()
      java.util.Arrays.sort(t)
      t
    }

  /** Serve-time decay overrides as parallel (sorted ids, factors) arrays
    * for the scan loops' binary search. Duplicate ids rejected — which
    * factor wins would depend on sort stability otherwise.
    */
  private def sortedOverrides(
      overrides: Array[(Long, Double)]): (Array[Long], Array[Double]) =
    if (overrides.isEmpty) (Array.emptyLongArray, Array.emptyDoubleArray)
    else {
      val s = overrides.sortBy(_._1)
      var i = 1
      while (i < s.length) {
        require(s(i)._1 != s(i - 1)._1,
          s"duplicate decay override for id ${s(i)._1}")
        i += 1
      }
      (s.map(_._1), s.map(_._2))
    }

  /** Invert bucket → probing-query lists into per-query ascending bucket
    * lists for the partition scans.
    */
  private def invertProbes(
      bucketQs: Array[Array[Int]], nq: Int): Array[Array[Int]] = {
    val bufs = Array.fill(nq)(new scala.collection.mutable.ArrayBuilder.ofInt)
    var b = 0
    while (b < bucketQs.length) {
      val qsb = bucketQs(b)
      if (qsb != null) {
        var i = 0
        while (i < qsb.length) { bufs(qsb(i)) += b; i += 1 }
      }
      b += 1
    }
    bufs.map(_.result())
  }

  /** The combined paths' shared driver tail: read the merged vector leg
    * (the global top-kVec — doc-major partitions are disjoint) with its
    * attached hydration, and run the shared α-blend.
    */
  private def blendCombined(
      qids: Array[Long],
      merged: CombinedPartial,
      alpha: Double,
      k: Int): Array[(Long, Long, Double)] = {
    val nq = qids.length
    val vecIds = Array.tabulate(nq) { qi =>
      merged.vd(qi).zipWithIndex.takeWhile(_._1 < Double.MaxValue)
        .map { case (_, j) => merged.vid(qi)(j) }
    }
    val vecDist = Array.tabulate(nq) { qi =>
      merged.vd(qi).takeWhile(_ < Double.MaxValue)
    }
    val hydIx: Array[scala.collection.mutable.LongMap[(Double, Double, Boolean)]] =
      Array.tabulate(nq) { qi =>
        val m = scala.collection.mutable.LongMap.empty[(Double, Double, Boolean)]
        var j = 0
        val hd = merged.vd(qi)
        while (j < hd.length && hd(j) < Double.MaxValue) {
          m.update(merged.vid(qi)(j),
            (merged.vraw(qi)(j), merged.vdec(qi)(j), merged.vhasT(qi)(j)))
          j += 1
        }
        m
      }
    blendTopK(qids, merged.text, vecIds, vecDist,
      (qi, id) => hydIx(qi).get(id), alpha, k).toArray
  }

  /** Per-partition pool partial for [[mmrTopKCombined]]: a pool-bounded
    * (distance, id) top-k per query — [[Ivf.TopK]]'s insertion and tie
    * rules exactly — whose entries CARRY the candidate vector, copied
    * from the block at accepted inserts only. Doc-major partitions are
    * disjoint, so the merge is a plain bounded union.
    */
  /** Payload slots are `AnyRef` so the f32 path (`Array[Float]` vectors)
    * and the int8 path (`Array[Byte]` codes, 4× less pool network) share
    * one partial — the shared-merge discipline that keeps twins from
    * drifting.
    */
  private final class VecPoolPartial(nq: Int, pool: Int)
      extends Serializable {
    val pd: Array[Array[Double]] = Array.fill(nq)(Array.fill(pool)(Double.MaxValue))
    val pid: Array[Array[Long]] = Array.fill(nq)(Array.fill(pool)(Long.MaxValue))
    val pv: Array[Array[AnyRef]] = Array.fill(nq)(new Array[AnyRef](pool))

    /** Place (d, id), shifting payloads; returns the slot to write the
      * vector into, or -1 when rejected — so the scan only copies a
      * candidate's floats AFTER it wins a slot.
      */
    def slotFor(qi: Int, d: Double, id: Long): Int = {
      val hd = pd(qi); val hi = pid(qi); val hv: Array[AnyRef] = pv(qi)
      val last = hd.length - 1
      if (d > hd(last) || (d == hd(last) && id > hi(last))) return -1
      var j = last
      while (j > 0 && (hd(j - 1) > d || (hd(j - 1) == d && hi(j - 1) > id))) {
        hd(j) = hd(j - 1); hi(j) = hi(j - 1); hv(j) = hv(j - 1)
        j -= 1
      }
      hd(j) = d; hi(j) = id
      j
    }

    def merge(o: VecPoolPartial): VecPoolPartial = {
      var qi = 0
      while (qi < pd.length) {
        val od = o.pd(qi)
        var j = 0
        while (j < od.length && od(j) < Double.MaxValue) {
          val s = slotFor(qi, od(j), o.pid(qi)(j))
          if (s >= 0) pv(qi)(s) = o.pv(qi)(j)
          j += 1
        }
        qi += 1
      }
      this
    }
  }

  /** Diversity-aware serving in ONE Spark job: retrieve each query's
    * relevance pool (top-`pool` by the ANN metric over the probed bucket
    * blocks) WITH candidate vectors in the same mapPartitions pass, then
    * run the greedy MMR chain as driver math over ≤ pool candidates
    * ([[Mmr.selectLocal]] — bit-identical arithmetic to the v25/v26 plan
    * chain: rel = 1 − distance, λ-blend, wide-cosine max-sim penalty,
    * ties by id). The plan path pays ~3 jobs per greedy ROUND
    * ([[Mmr.select]]'s anti-join/sim-join/argmax chain); this is one job
    * total. Network per query is pool×(dim+3) values — driver-bounded
    * batches by the serving contract, `pool ≤ Mmr.MaxPoolPerQuery`
    * enforced on both sides.
    *
    * @param queries driver-resident (qid, query vector) rows.
    * @return (qid, rank, id, score) — rank is 1-based selection order.
    */
  def mmrTopKCombined(
      combined: org.apache.spark.rdd.RDD[CombinedShard],
      cents: Array[Array[Float]],
      queries: Seq[(Long, Array[Float])],
      k: Int,
      pool: Int,
      nProbe: Int,
      lam: Double,
      oneMinusLam: Double,
      metric: String = "cosine",
      tombstones: Array[Long] = Array.emptyLongArray): Array[(Long, Long, Long, Double)] = {
    require(pool > 0 && pool <= Mmr.MaxPoolPerQuery,
      s"pool=$pool outside (0, ${Mmr.MaxPoolPerQuery}]")
    val tomb = sortedTombstones(tombstones)
    val l2 = metric == "l2"
    val qs = queries.sortBy(_._1).toArray
    require(qs.map(_._1).distinct.length == qs.length,
      "mmrTopKCombined: duplicate qids in the batch")
    val nq = qs.length
    if (nq == 0) return Array.empty
    val qids = qs.map(_._1)
    val qvecs = qs.map(_._2)
    val adj = Ivf.bucketAdj(cents, metric)
    val qsq: Array[Double] =
      if (l2) qvecs.map { qv =>
        var s = 0.0; var j = 0
        while (j < qv.length) { s += qv(j).toDouble * qv(j); j += 1 }
        s
      } else null
    val probedByQ = invertProbes(
      Ivf.probeAssignments(cents, adj, l2 = l2, qvecs, nProbe), nq)
    val bc = combined.sparkContext.broadcast((qvecs, probedByQ, qsq, tomb))
    val partials = combined.mapPartitions { it =>
      val (qvs, probed, qsqB, tombB) = bc.value
      val p = new VecPoolPartial(qvs.length, pool)
      it.foreach { csh =>
        var qi = 0
        while (qi < qvs.length) {
          val qv = qvs(qi)
          val pb = probed(qi)
          var bi = 0
          while (bi < pb.length) {
            val blk = csh.bucketBlock.getOrElse(pb(bi).toLong, -1)
            if (blk >= 0) {
              var r = csh.bOff(blk)
              val end = csh.bOff(blk + 1)
              while (r < end) {
                val id = csh.text.ids(csh.vecLocal(r))
                if (tombB.length == 0 ||
                    java.util.Arrays.binarySearch(tombB, id) < 0) {
                  var dot = 0f
                  var j = 0
                  val off = r * csh.dim
                  while (j < csh.dim) { dot += csh.flat(off + j) * qv(j); j += 1 }
                  val dist =
                    if (qsqB != null)
                      csh.rowSq(r).toDouble - 2.0d * dot + qsqB(qi)
                    else 1.0d - dot
                  val s = p.slotFor(qi, dist, id)
                  if (s >= 0) p.pv(qi)(s) =
                    java.util.Arrays.copyOfRange(csh.flat, off, off + csh.dim)
                }
                r += 1
              }
            }
            bi += 1
          }
          qi += 1
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials, new VecPoolPartial(nq, pool),
      (a: VecPoolPartial, b: VecPoolPartial) => a.merge(b))
    bc.destroy()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    var qi = 0
    while (qi < nq) {
      val hd = merged.pd(qi)
      var n = 0
      while (n < hd.length && hd(n) < Double.MaxValue) n += 1
      val ids = java.util.Arrays.copyOf(merged.pid(qi), n)
      val rel = new Array[Double](n)
      var i = 0
      while (i < n) { rel(i) = 1.0 - hd(i); i += 1 }
      val vecs = Array.tabulate(n)(i =>
        merged.pv(qi)(i).asInstanceOf[Array[Float]])
      Mmr.selectLocal(ids, rel, vecs, k, lam, oneMinusLam).foreach {
        case (rank, id, score) => out += ((qids(qi), rank, id, score))
      }
      qi += 1
    }
    out.toArray
  }

  /** [[mmrTopKCombined]]'s compressed twin (VERDICT r15 stretch #7): the
    * pool retrieval scans the int8 combined shard with
    * [[fusedTopKCombinedInt8]]'s exact distance kernel, and the pool
    * partials carry the candidates' int8 CODES — 4× less pool network
    * than the f32 path's vectors (pool×dim bytes vs floats per query).
    * The greedy chain then runs [[Mmr.selectLocal]] over the codes mapped
    * to floats: cosine is scale-invariant, so similarity over raw code
    * values IS the int8-domain cosine (the `absMax/127` dequantization
    * factor cancels in `dot/(‖a‖·‖b‖)`) — no dequantized copy is ever
    * materialized. rel = 1 − int8 distance, same λ-blend, same (score,
    * id) tie-breaks. Cosine-only, like the int8 serving family.
    */
  def mmrTopKCombinedInt8(
      combined: org.apache.spark.rdd.RDD[CombinedShardInt8],
      cents: Array[Array[Float]],
      queries: Seq[(Long, Array[Float])],
      absMax: Double,
      k: Int,
      pool: Int,
      nProbe: Int,
      lam: Double,
      oneMinusLam: Double,
      tombstones: Array[Long] = Array.emptyLongArray): Array[(Long, Long, Long, Double)] = {
    require(pool > 0 && pool <= Mmr.MaxPoolPerQuery,
      s"pool=$pool outside (0, ${Mmr.MaxPoolPerQuery}]")
    val tomb = sortedTombstones(tombstones)
    val qs = queries.sortBy(_._1).toArray
    require(qs.map(_._1).distinct.length == qs.length,
      "mmrTopKCombinedInt8: duplicate qids in the batch")
    val nq = qs.length
    if (nq == 0) return Array.empty
    val qids = qs.map(_._1)
    val qvecs = qs.map(_._2)
    val qcodes = qvecs.map(Ivf.quantizeArray(_, absMax))
    val qnorms = qcodes.map(Ivf.int8Norm)
    val probedByQ = invertProbes(Ivf.probeAssignments(cents,
      Ivf.bucketAdj(cents, "cosine"), l2 = false, qvecs, nProbe), nq)
    val bc = combined.sparkContext.broadcast((qcodes, qnorms, probedByQ, tomb))
    val partials = combined.mapPartitions { it =>
      val (qcs, qns, probed, tombB) = bc.value
      val p = new VecPoolPartial(qcs.length, pool)
      it.foreach { csh =>
        var qi = 0
        while (qi < qcs.length) {
          val qc = qcs(qi)
          val qn = qns(qi).toDouble
          val pb = probed(qi)
          var bi = 0
          while (bi < pb.length) {
            val blk = csh.bucketBlock.getOrElse(pb(bi).toLong, -1)
            if (blk >= 0) {
              var r = csh.bOff(blk)
              val end = csh.bOff(blk + 1)
              while (r < end) {
                val id = csh.text.ids(csh.vecLocal(r))
                if (tombB.length == 0 ||
                    java.util.Arrays.binarySearch(tombB, id) < 0) {
                  var dot = 0
                  var j = 0
                  val off = r * csh.dim
                  while (j < csh.dim) {
                    dot += csh.codes(off + j).toInt * qc(j).toInt; j += 1
                  }
                  val norm = csh.norms(r)
                  val dist =
                    if (norm == 0f || qn == 0.0) 1.0
                    else {
                      var sim = dot.toDouble / (norm.toDouble * qn)
                      if (sim > 1.0) sim = 1.0
                      if (sim < -1.0) sim = -1.0
                      1.0 - sim
                    }
                  val s = p.slotFor(qi, dist, id)
                  if (s >= 0) p.pv(qi)(s) =
                    java.util.Arrays.copyOfRange(csh.codes, off, off + csh.dim)
                }
                r += 1
              }
            }
            bi += 1
          }
          qi += 1
        }
      }
      Iterator.single(p)
    }
    val merged = Ivf.reducePartials(partials, new VecPoolPartial(nq, pool),
      (a: VecPoolPartial, b: VecPoolPartial) => a.merge(b))
    bc.destroy()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    var qi = 0
    while (qi < nq) {
      val hd = merged.pd(qi)
      var n = 0
      while (n < hd.length && hd(n) < Double.MaxValue) n += 1
      val ids = java.util.Arrays.copyOf(merged.pid(qi), n)
      val rel = new Array[Double](n)
      var i = 0
      while (i < n) { rel(i) = 1.0 - hd(i); i += 1 }
      val vecs = Array.tabulate(n) { i =>
        val c = merged.pv(qi)(i).asInstanceOf[Array[Byte]]
        val f = new Array[Float](c.length)
        var j = 0
        while (j < c.length) { f(j) = c(j).toFloat; j += 1 }
        f
      }
      Mmr.selectLocal(ids, rel, vecs, k, lam, oneMinusLam).foreach {
        case (rank, id, score) => out += ((qids(qi), rank, id, score))
      }
      qi += 1
    }
    out.toArray
  }

  /** ALL raw BM25 hits `(qid, idCol, score)` from the shards — the
    * parity/test surface pinning served scores against
    * [[Bm25.searchPostingsBatch]] (the t6_bm25_stored plan). Unbounded
    * output (every hit row), so this is for corpora the caller knows are
    * small; serving uses [[fusedTopK]].
    */
  def textScores(
      shards: org.apache.spark.rdd.RDD[Shard],
      qTokens: DataFrame,
      idCol: String = "id"): DataFrame = {
    val spark = qTokens.sparkSession
    import spark.implicits._
    val qrows = qTokens
      .select(col("qid").cast("long"), col("token"), col("qn").cast("int"))
      .collect()
    val qids = qrows.map(_.getLong(0)).distinct.sorted
    val qIndex = qids.zipWithIndex.toMap
    val qToks: Array[Array[(String, Int)]] = {
      val b = Array.fill(qids.length)(
        scala.collection.mutable.ArrayBuffer.empty[(String, Int)])
      qrows.foreach(r => b(qIndex(r.getLong(0))) += ((r.getString(1), r.getInt(2))))
      b.map(_.sortBy(_._1).toArray)
    }
    val bc = shards.sparkContext.broadcast((qids, qToks))
    shards.flatMap { sh =>
      val (qs, toksByQ) = bc.value
      val n = sh.ids.length
      val acc = new Array[Double](n)
      val seen = new Array[Int](n)
      val touched = new Array[Int](n)
      var epoch = 0
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var qi = 0
      while (qi < toksByQ.length) {
        epoch += 1
        val tn = scoreTokens(sh, toksByQ(qi), acc, seen, touched, epoch)
        var i = 0
        while (i < tn) {
          rows += ((qs(qi), sh.ids(touched(i)), acc(touched(i))))
          i += 1
        }
        qi += 1
      }
      rows
    }.toDF("qid", idCol, "score")
  }
}
