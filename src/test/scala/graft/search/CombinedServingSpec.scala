package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.FusionQueries
import graft.text.{Analyzer, Bm25}

/** The ONE-JOB combined serving path ([[ServingFusion.fusedTopKCombined]])
  * pinned against the two-leg pipeline it collapses: same probe selection,
  * same scalar kernels, same blend code — results must be BIT-identical to
  * [[ServingFusion.fusedTopK]] fed by [[Ivf.searchBatchedFast]] over the
  * same corpus/centroids/nProbe. Plus the latency claim itself: one call
  * submits exactly ONE Spark job.
  */
class CombinedServingSpec extends SparkSpec {
  import spark.implicits._

  private val Corpus = Seq(
    (0L, "spark shuffle join plan spark"),
    (1L, "join order and broadcast join"),
    (2L, "window agg stream state"),
    (3L, "vector scan filter scan scan"),
    (4L, "hash join probe build side"),
    (5L, "plan codegen stage whole"),
    (6L, "stream window watermark late"),
    (7L, "filter pushdown scan parquet"),
    (8L, "broadcast plan shuffle exchange"),
    (9L, "zebra quokka lemur"),
    (10L, ""))

  /** Corpus with decay metadata; doc 10 has NO vector (text-only doc) —
    * it must still text-serve through the combined shard.
    */
  private def table: DataFrame = {
    val base = FusionQueries.Now.toDouble - 86400.0
    Corpus.toDF("doc_id", "text")
      .withColumn("embedding",
        when(col("doc_id") === 10, lit(null).cast("array<float>"))
          .otherwise(array((0 until 4).map(j =>
            (sin(col("doc_id") * (j + 1)) + lit(1.5)).cast("float")): _*)))
      .withColumn("_created_at", lit(base) - col("doc_id") * 3600.0)
      .withColumn("_last_accessed", lit(base) - col("doc_id") * 1800.0)
      .withColumn("_pinned", col("doc_id") % 5 === 0)
      .withColumn("memory_layer",
        element_at(array(lit("episodic"), lit("semantic"), lit("procedural")),
          (col("doc_id") % 3 + 1).cast("int")))
      .withColumn("_decay_model",
        element_at(array(lit("exponential"), lit("linear"), lit("step"),
          lit("ebbinghaus")), (col("doc_id") % 4 + 1).cast("int")))
      .withColumn("_access_count", (col("doc_id") % 4).cast("double"))
  }

  private def queries: DataFrame = Seq(
    (0L, "spark join plan"),
    (1L, "scan filter"),
    (2L, "broadcast join join"),
    (3L, "the and of"), // all stopwords -> vector-only query
    (4L, "window stream state watermark"))
    .toDF("qid", "qtext")

  private def qTokens(qs: DataFrame): DataFrame =
    Analyzer.tokensDF(qs.select(col("qid"), col("qtext")), "qtext", "english")
      .groupBy(col("qid"), col("token")).agg(count(lit(1)).as("qn"))

  private val params = Fusion.FusionParams(alpha = 0.6, k = 4,
    metric = "cosine", memory = FusionQueries.memCfg, now = FusionQueries.Now)

  /** Both paths' shared fixtures, built once per test body. */
  private def fixtures() = {
    import graft.functions.VectorFunctions
    val t = table
    val post = Bm25.postings(t, "doc_id", "text")
    val dec = Fusion.decayFrame(t, "doc_id", params)
    assert(dec.nonEmpty)
    val tableN = t.filter(col("embedding").isNotNull)
      .select(col("doc_id").cast("long").as("id"),
        VectorFunctions.normalize(col("embedding")).as("vector"))
    val cents = Ivf.trainKMeansArrays(tableN, 3, iters = 2)
    val assigned = Ivf.assignFast(tableN, cents)
    val qsN = queries.select(col("qid"),
      VectorFunctions.normalize(array((0 until 4).map(j =>
        (cos(col("qid") * (j + 2)) + lit(1.2)).cast("float")): _*)).as("qvec"))
      .cache()
    qsN.count()
    val qt = qTokens(queries).cache()
    qt.count()
    (t, post, dec, cents, assigned, qsN, qt)
  }

  private def servedQueries(qsN: DataFrame, qt: DataFrame) =
    ServingFusion.collectServedQueries(qsN, qt)

  test("combined one-job serving is bit-identical to the two-leg path") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val shards = ServingFusion.buildShards(
      t.select(col("doc_id")), post, "doc_id", dec, numShards = 3).cache()
    val serving = Ivf.servingIndex(assigned).cache()
    serving.count()
    val vecTop = Ivf.searchBatchedFast(serving, cents, qsN, k = 3, nProbe = 2)
      .select(col("qid"), col("id").as("doc_id"), col("distance"))
      .localCheckpoint(true)
    val twoLeg = ServingFusion.fusedTopK(shards, qt, vecTop,
        params.alpha, params.k, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(r => (r._1, -r._3, r._2))

    val combined = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      dec, numShards = 3).cache()
    combined.count()
    val served = ServingFusion.fusedTopKCombined(combined, cents,
        servedQueries(qsN, qt), params.alpha, params.k, nProbe = 2, kVec = 3)
      .sortBy(r => (r._1, -r._3, r._2))

    assert(served.length === twoLeg.length)
    served.zip(twoLeg).foreach { case (s, p) =>
      assert(s._1 === p._1, s"qid order: $s vs $p")
      assert(s._2 === p._2, s"id at qid=${s._1}: $s vs $p")
      assert(s._3 === p._3, s"score at qid=${s._1} id=${s._2}: ${s._3} vs ${p._3}")
    }
    // The vector-only query (all stopwords) and the vector-less doc 10
    // both flowed through: qid 3 returns its ANN candidates.
    assert(served.count(_._1 == 3L) === 3)
    shards.unpersist(); serving.unpersist(); combined.unpersist()
    qsN.unpersist(); qt.unpersist()
  }

  test("combined serving under l2 is bit-identical to searchBatchedFast's leg") {
    val t = table
    val post = Bm25.postings(t, "doc_id", "text")
    val dec = Fusion.decayFrame(t, "doc_id", params)
    // Unnormalized vectors — the L2 metric's natural input.
    val tableL2 = t.filter(col("embedding").isNotNull)
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(tableL2, 3, iters = 2)
    val assigned = Ivf.assignFast(tableL2, cents, metric = "l2")
    val qsRaw = queries.select(col("qid"),
      array((0 until 4).map(j =>
        (cos(col("qid") * (j + 2)) + lit(1.2)).cast("float")): _*).as("qvec"))
      .cache()
    qsRaw.count()
    val qt = qTokens(queries).cache(); qt.count()
    val serving = Ivf.servingIndex(assigned).cache()
    serving.count()
    val vecTop = Ivf.searchBatchedFast(serving, cents, qsRaw, k = 3,
        nProbe = 2, metric = "l2")
      .select(col("qid"), col("id").as("doc_id"), col("distance"))
      .localCheckpoint(true)
    val shards = ServingFusion.buildShards(
      t.select(col("doc_id")), post, "doc_id", dec, numShards = 3).cache()
    val twoLeg = ServingFusion.fusedTopK(shards, qt, vecTop,
        params.alpha, params.k, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(r => (r._1, -r._3, r._2))
    val combined = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      dec, numShards = 3).cache()
    combined.count()
    val served = ServingFusion.fusedTopKCombined(combined, cents,
        servedQueries(qsRaw, qt), params.alpha, params.k, nProbe = 2,
        kVec = 3, metric = "l2")
      .sortBy(r => (r._1, -r._3, r._2))
    assert(served.length === twoLeg.length)
    served.zip(twoLeg).foreach { case (s, p) =>
      assert(s._1 === p._1 && s._2 === p._2 && s._3 === p._3,
        s"l2 parity: $s vs $p")
    }
    shards.unpersist(); serving.unpersist(); combined.unpersist()
    qsRaw.unpersist(); qt.unpersist()
  }

  test("one fusedTopKCombined call submits exactly one Spark job") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val combined = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      dec, numShards = 3).cache()
    combined.count() // materialize outside the pinned window
    val sqs = servedQueries(qsN, qt)
    val sc = spark.sparkContext
    val group = s"combined-one-job-${System.nanoTime}"
    sc.setJobGroup(group, "latency pin", interruptOnCancel = false)
    val out = try ServingFusion.fusedTopKCombined(
      combined, cents, sqs, params.alpha, params.k, nProbe = 2, kVec = 3)
    finally sc.clearJobGroup()
    assert(out.nonEmpty)
    // The status store is listener-fed (async): poll until the job lands,
    // then assert the count stopped at one.
    val deadline = System.nanoTime + 10_000_000_000L
    def n(): Int = sc.statusTracker.getJobIdsForGroup(group).length
    while (System.nanoTime < deadline && n() < 1) Thread.sleep(50)
    Thread.sleep(200)
    assert(n() === 1, "the combined serving call must be ONE Spark job")
    combined.unpersist(); qsN.unpersist(); qt.unpersist()
  }

  test("int8 combined serving is bit-identical to the two-leg int8 path") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val absMax = 1.0 // normalized vectors: |x| <= 1
    val shards = ServingFusion.buildShards(
      t.select(col("doc_id")), post, "doc_id", dec, numShards = 3).cache()
    val serving8 = Ivf.servingIndexInt8(assigned, absMax).cache()
    serving8.count()
    val vecTop = Ivf.searchBatchedFastInt8(serving8, cents, qsN, k = 3,
        nProbe = 2, absMax = absMax)
      .select(col("qid"), col("id").as("doc_id"), col("distance"))
      .localCheckpoint(true)
    val twoLeg = ServingFusion.fusedTopK(shards, qt, vecTop,
        params.alpha, params.k, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(r => (r._1, -r._3, r._2))
    val combined8 = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      dec, numShards = 3)(VecCodec.Int8(absMax)).cache()
    combined8.count()
    val served = ServingFusion.fusedTopKCombined(combined8, cents,
        servedQueries(qsN, qt), params.alpha, params.k,
        nProbe = 2, kVec = 3)(VecCodec.Int8(absMax))
      .sortBy(r => (r._1, -r._3, r._2))
    assert(served.length === twoLeg.length)
    served.zip(twoLeg).foreach { case (s, p) =>
      assert(s._1 === p._1 && s._2 === p._2 && s._3 === p._3,
        s"int8 parity: $s vs $p")
    }
    shards.unpersist(); serving8.unpersist(); combined8.unpersist()
    qsN.unpersist(); qt.unpersist()
  }

  test("served MMR equals the v26 plan chain on the same pool, in one job") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val serving = Ivf.servingIndex(assigned).cache()
    serving.count()
    val pool = 6
    val mk = 3
    // Plan side: the same probed pool (rel = 1 − distance) through
    // Mmr.select over the same normalized vectors.
    val cand = Ivf.searchBatchedFast(serving, cents, qsN, k = pool, nProbe = 2)
      .select(col("qid"), col("id"), (lit(1.0) - col("distance")).as("rel"))
    val plan = Mmr.select(cand,
        assigned.select(col("id"), col("vector").as("embedding")),
        k = mk, lam = lit(0.7), oneMinusLam = lit(0.3))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))
    val combined = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      dec, numShards = 3).cache()
    combined.count()
    val mmrQs = servedQueries(qsN, qt).map(q => (q.qid, q.qvec))
    val sc = spark.sparkContext
    val group = s"mmr-one-job-${System.nanoTime}"
    sc.setJobGroup(group, "mmr latency pin", interruptOnCancel = false)
    val served = try ServingFusion.mmrTopKCombined(combined, cents, mmrQs,
      k = mk, pool = pool, nProbe = 2, lam = 0.7, oneMinusLam = 0.3)
    finally sc.clearJobGroup()
    val deadline = System.nanoTime + 10_000_000_000L
    def n(): Int = sc.statusTracker.getJobIdsForGroup(group).length
    while (System.nanoTime < deadline && n() < 1) Thread.sleep(50)
    Thread.sleep(200)
    assert(n() === 1, "served MMR must be ONE Spark job")
    val sSorted = served.sortBy(r => (r._1, r._2))
    assert(sSorted.length === plan.length)
    sSorted.zip(plan).foreach { case (s, p) =>
      assert(s._1 === p._1 && s._2 === p._2 && s._3 === p._3,
        s"mmr selection order: $s vs $p")
      assert(s._4 === p._4, s"mmr score at qid=${s._1} rank=${s._2}: ${s._4} vs ${p._4}")
    }
    serving.unpersist(); combined.unpersist(); qsN.unpersist(); qt.unpersist()
  }

  test("int8 served MMR equals the two-job int8 pool + selectLocal chain") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val absMax = 1.0
    val pool = 6
    val mk = 3
    // Two-job twin: int8 serving scan for the pool, then selectLocal over
    // the pool candidates' CODES as floats (cosine is scale-invariant, so
    // code-domain similarity IS the int8 cosine).
    val servingI8 = Ivf.servingIndexInt8(assigned, absMax).cache()
    servingI8.count()
    val codesById = assigned.select(col("id"), col("vector"))
      .collect()
      .map(r => r.getLong(0) ->
        Ivf.quantizeArray(r.getSeq[Float](1).toArray, absMax))
      .toMap
    val twin = Ivf.searchBatchedFastInt8(servingI8, cents, qsN,
        k = pool, nProbe = 2, absMax = absMax)
      .select(col("qid"), col("id"), col("distance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (qid, rows) =>
        val sorted = rows.sortBy(r => (r._3, r._2))
        val ids = sorted.map(_._2).toArray
        val rel = sorted.map(1.0 - _._3).toArray
        val vecs = ids.map(id => codesById(id).map(_.toFloat))
        Mmr.selectLocal(ids, rel, vecs, mk, 0.7, 0.3)
          .map { case (rank, id, score) => (qid, rank, id, score) }
      }.sortBy(r => (r._1, r._2))

    val combined8 = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      dec, numShards = 3)(VecCodec.Int8(absMax)).cache()
    combined8.count()
    val mmrQs = servedQueries(qsN, qt).map(q => (q.qid, q.qvec))
    val served = ServingFusion.mmrTopKCombined(combined8, cents, mmrQs,
        k = mk, pool = pool, nProbe = 2, lam = 0.7,
        oneMinusLam = 0.3)(VecCodec.Int8(absMax))
      .sortBy(r => (r._1, r._2))
    assert(served.length === twin.length && served.nonEmpty)
    served.zip(twin).foreach { case (s, p) =>
      assert(s._1 === p._1 && s._2 === p._2 && s._3 === p._3,
        s"int8 mmr selection: $s vs $p")
      assert(s._4 === p._4,
        s"int8 mmr score at qid=${s._1} rank=${s._2}: ${s._4} vs ${p._4}")
    }
    servingI8.unpersist(); combined8.unpersist()
    qsN.unpersist(); qt.unpersist()
  }

  test("decay-disabled combined build defaults every factor to 1.0") {
    import graft.functions.VectorFunctions
    val t = table
    val post = Bm25.postings(t, "doc_id", "text")
    val p0 = params.copy(memory = params.memory.copy(enabled = false))
    val tableN = t.filter(col("embedding").isNotNull)
      .select(col("doc_id").cast("long").as("id"),
        VectorFunctions.normalize(col("embedding")).as("vector"))
    val cents = Ivf.trainKMeansArrays(tableN, 2, iters = 2)
    val assigned = Ivf.assignFast(tableN, cents)
    val combined = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      Fusion.decayFrame(t, "doc_id", p0), numShards = 2).cache()
    combined.count()
    // Text-less query vector aimed anywhere: every returned fused score
    // must be alpha/(1+d) exactly — dec fell back to 1.0 end to end.
    val raw = Array(1f, 0.5f, 0.25f, 0.125f)
    val nrm = math.sqrt(raw.map(x => x.toDouble * x).sum)
    val qv = raw.map(x => (x / nrm).toFloat)
    val served = ServingFusion.fusedTopKCombined(combined, cents,
      Seq(ServingFusion.ServedQuery(7L, qv, Array.empty)),
      p0.alpha, k = 4, nProbe = 2, kVec = 4)
    assert(served.nonEmpty)
    served.foreach { case (qid, _, score) =>
      assert(qid === 7L)
      assert(score <= 0.6 + 1e-12 && score > 0.0)
    }
    combined.unpersist()
  }

  test("segment append under frozen stats serves identically to a rebuild") {
    val (t, _, dec, cents, assigned, qsN, qt) = fixtures()
    // Base = docs 0-7; micro-batch = docs 8-10 (9 carries tokens absent
    // from the base vocabulary — frozen-tdf drop case; 10 is text-only
    // with no vector). Frozen artifacts pinned at the BASE build: corpus
    // scalars + token df — the appendCombined contract.
    val baseT = t.filter(col("doc_id") <= 7)
    val batchT = t.filter(col("doc_id") >= 8)
    val postBase = Bm25.postings(baseT, "doc_id", "text")
    val postBatch = Bm25.postings(batchT, "doc_id", "text")
    val postAll = Bm25.postings(t, "doc_id", "text")
    val frozen = Bm25.corpusStats(
      Bm25.docLengthsFromPostings(baseT.select(col("doc_id")), postBase,
        "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    val decBase = dec.map(_.filter(col("doc_id") <= 7))
    val decBatch = dec.map(_.filter(col("doc_id") >= 8))
    val asgBase = assigned.filter(col("id") <= 7)
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val asgBatch = assigned.filter(col("id") >= 8)
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val asgAll = assigned
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))

    val base = ServingFusion.buildCombined(
      baseT.select(col("doc_id")), postBase, "doc_id", asgBase, decBase,
      numShards = 3, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base.count()
    val appended = ServingFusion.appendCombined(
      base, batchT.select(col("doc_id")), postBatch, "doc_id", asgBatch,
      frozen, tdf, dec = decBatch, numShards = 2).cache()
    appended.count()
    val rebuilt = ServingFusion.buildCombined(
      t.select(col("doc_id")), postAll, "doc_id", asgAll, dec,
      numShards = 3, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    rebuilt.count()

    val sq = servedQueries(qsN, qt)
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq,
          params.alpha, params.k, nProbe = 2, kVec = 3)
        .sortBy(r => (r._1, -r._3, r._2))
    val a = serve(appended)
    val r = serve(rebuilt)
    assert(a.length === r.length && a.nonEmpty)
    a.zip(r).foreach { case (x, y) =>
      assert(x._1 === y._1 && x._2 === y._2, s"append $x vs rebuild $y")
      assert(x._3 === y._3, s"score drift at qid=${x._1} id=${x._2}")
    }
    // Batch docs actually reached the served surface (the staleness gap
    // the append path closes): at least one result id >= 8.
    assert(a.exists(_._2 >= 8L), "no batch doc served after append")

    // Int8 twin: same segments, same frozen absMax — equal to its rebuild.
    val base8 = ServingFusion.buildCombined(
      baseT.select(col("doc_id")), postBase, "doc_id", asgBase,
      decBase, numShards = 3, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))(VecCodec.Int8(1.0)).cache()
    base8.count()
    val app8 = ServingFusion.appendCombined(
      base8, batchT.select(col("doc_id")), postBatch, "doc_id", asgBatch,
      frozen, tdf, dec = decBatch, numShards = 2)(VecCodec.Int8(1.0))
    val reb8 = ServingFusion.buildCombined(
      t.select(col("doc_id")), postAll, "doc_id", asgAll,
      dec, numShards = 3, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))(VecCodec.Int8(1.0))
    def serve8(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShardInt8]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq,
          params.alpha, params.k, nProbe = 2, kVec = 3)(VecCodec.Int8(1.0))
        .sortBy(r => (r._1, -r._3, r._2))
    assert(serve8(app8).toSeq === serve8(reb8).toSeq)

    base.unpersist(); appended.unpersist(); rebuilt.unpersist()
    base8.unpersist(); tdf.unpersist(); qsN.unpersist(); qt.unpersist()
  }

  test("tombstoned docs serve exactly like a frozen-stats rebuild without them") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val asgAll = assigned
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    // Frozen artifacts pinned over the FULL corpus — the serving state a
    // delete arrives into (stats refresh is compaction's job, exactly as
    // for appends).
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      t.select(col("doc_id")), post, "doc_id"))
    val tdf = Bm25.tokenDf(post).cache()
    tdf.count()
    def build(docs: DataFrame) = {
      val keep = docs.select(col("doc_id"))
      ServingFusion.buildCombined(keep,
        post.join(keep, Seq("doc_id"), "left_semi"), "doc_id",
        asgAll.join(keep, Seq("doc_id"), "left_semi"),
        dec.map(_.join(keep, Seq("doc_id"), "left_semi")),
        numShards = 3, prebuiltTokenDf = Some(tdf),
        frozenStats = Some(frozen)).cache()
    }
    val full = build(t)
    full.count()
    // Doc 0 is a strong TEXT hit (qid 0 "spark join plan"); doc 9 serves
    // through the VECTOR leg only — the two scan paths a tombstone must
    // silence.
    val del = Array(9L, 0L) // unsorted on purpose: the kernels sort
    val reduced = build(t.filter(!col("doc_id").isin(del.toSeq: _*)))
    reduced.count()

    val sq = servedQueries(qsN, qt)
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard],
        tomb: Array[Long]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, params.alpha,
          params.k, nProbe = 2, kVec = 3, tombstones = tomb)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val baseline = serve(full, Array.emptyLongArray)
    assert(baseline.exists(r => del.contains(r._2)),
      "fixture must serve a to-be-deleted doc, or the test proves nothing")
    val tombed = serve(full, del)
    assert(tombed.forall(r => !del.contains(r._2)),
      "a tombstoned doc reached the served results")
    assert(tombed === serve(reduced, Array.emptyLongArray),
      "tombstoned serve must equal the rebuild without the docs, exactly")

    // Int8 twin: same tombstones, same frozen absMax.
    def build8(docs: DataFrame) = {
      val keep = docs.select(col("doc_id"))
      ServingFusion.buildCombined(keep,
        post.join(keep, Seq("doc_id"), "left_semi"), "doc_id",
        asgAll.join(keep, Seq("doc_id"), "left_semi"),
        dec.map(_.join(keep, Seq("doc_id"), "left_semi")),
        numShards = 3, prebuiltTokenDf = Some(tdf),
        frozenStats = Some(frozen))(VecCodec.Int8(1.0)).cache()
    }
    val full8 = build8(t)
    full8.count()
    val reduced8 = build8(t.filter(!col("doc_id").isin(del.toSeq: _*)))
    reduced8.count()
    def serve8(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShardInt8],
        tomb: Array[Long]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq,
          params.alpha, params.k, nProbe = 2, kVec = 3, tombstones = tomb)(
            VecCodec.Int8(1.0))
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(serve8(full8, del) === serve8(reduced8, Array.emptyLongArray))

    // Served MMR, both layouts: the pool must not admit tombstoned docs —
    // their absence changes the whole greedy chain, so equality with the
    // reduced index is the strong form.
    val mq = sq.map(q => (q.qid, q.qvec))
    def mmr(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard],
        tomb: Array[Long]) =
      ServingFusion.mmrTopKCombined(ix, cents, mq, k = 3, pool = 6,
        nProbe = 2, lam = 0.7, oneMinusLam = 0.3, tombstones = tomb).toSeq
    assert(mmr(full, del) === mmr(reduced, Array.emptyLongArray))
    assert(mmr(full, del).forall(r => !del.contains(r._3)))
    def mmr8(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShardInt8],
        tomb: Array[Long]) =
      ServingFusion.mmrTopKCombined(ix, cents, mq,
        k = 3, pool = 6, nProbe = 2, lam = 0.7, oneMinusLam = 0.3,
        tombstones = tomb)(VecCodec.Int8(1.0)).toSeq
    assert(mmr8(full8, del) === mmr8(reduced8, Array.emptyLongArray))

    full.unpersist(); reduced.unpersist(); full8.unpersist()
    reduced8.unpersist(); tdf.unpersist(); qsN.unpersist(); qt.unpersist()
  }

  test("decay overrides serve exactly like a rebuild with the updated decay frame") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val asgAll = assigned
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    // Live metadata update (reference ops.go:697): docs 0 (text-leg hit)
    // and 4 (vector doc) get new decay factors — 0 demoted hard, 4 boosted
    // to pinned-like 1.0. Frozen BM25 stats untouched (decay is per-doc
    // multiplicative), so override == rebuild is exact.
    val updates = Array((4L, 1.0), (0L, 0.125)) // unsorted: the kernel sorts
    val decUpdated = dec.map(_.select(col("doc_id"),
      when(col("doc_id") === 0, 0.125)
        .when(col("doc_id") === 4, 1.0)
        .otherwise(col("_dec")).as("_dec")))
    def build(d: Option[DataFrame]) = {
      val ix = ServingFusion.buildCombined(
        t.select(col("doc_id")), post, "doc_id", asgAll, d,
        numShards = 3).cache()
      ix.count()
      ix
    }
    val full = build(dec)
    val rebuilt = build(decUpdated)
    val sq = servedQueries(qsN, qt)
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard],
        ov: Array[(Long, Double)]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, params.alpha,
          params.k, nProbe = 2, kVec = 3, decOverrides = ov)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val baseline = serve(full, Array.empty)
    val overridden = serve(full, updates)
    assert(overridden !== baseline,
      "fixture overrides must change served scores, or the test proves nothing")
    assert(overridden === serve(rebuilt, Array.empty),
      "override serve must equal the rebuild with the updated decay frame")

    // Int8 twin.
    def build8(d: Option[DataFrame]) = {
      val ix = ServingFusion.buildCombined(
        t.select(col("doc_id")), post, "doc_id", asgAll, d,
        numShards = 3)(VecCodec.Int8(1.0)).cache()
      ix.count()
      ix
    }
    val full8 = build8(dec)
    val rebuilt8 = build8(decUpdated)
    def serve8(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShardInt8],
        ov: Array[(Long, Double)]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq,
          params.alpha, params.k, nProbe = 2, kVec = 3, decOverrides = ov)(
            VecCodec.Int8(1.0))
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(serve8(full8, updates) === serve8(rebuilt8, Array.empty))

    // Duplicate override ids fail loudly.
    val ex = intercept[IllegalArgumentException] {
      serve(full, Array((0L, 0.5), (0L, 0.7)))
    }
    assert(ex.getMessage.contains("duplicate decay override"))

    full.unpersist(); rebuilt.unpersist(); full8.unpersist()
    rebuilt8.unpersist(); qsN.unpersist(); qt.unpersist()
  }

  test("compaction folds segments and equals live tombstone+override serving, exactly") {
    val (t, _, dec, cents, assigned, qsN, qt) = fixtures()
    // Served state: base (docs 0-7, 3 shards) + one appended segment
    // (docs 8-10, 2 shards) + live mutations — doc 0 (text hit) and doc 9
    // (vector-only doc, lives in the SEGMENT) tombstoned, docs 2 and 4
    // decay-overridden. Compaction must fold the 5 partitions to 3, drop
    // the tombstoned docs physically, bake the overrides, and serve
    // BIT-identically to the live sets.
    val baseT = t.filter(col("doc_id") <= 7)
    val batchT = t.filter(col("doc_id") >= 8)
    val postBase = Bm25.postings(baseT, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseT.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    val asgBase = assigned.filter(col("id") <= 7)
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val asgBatch = assigned.filter(col("id") >= 8)
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val base = ServingFusion.buildCombined(
      baseT.select(col("doc_id")), postBase, "doc_id", asgBase,
      dec.map(_.filter(col("doc_id") <= 7)), numShards = 3,
      prebuiltTokenDf = Some(tdf), frozenStats = Some(frozen)).cache()
    base.count()
    val appended = ServingFusion.appendCombined(
      base, batchT.select(col("doc_id")),
      Bm25.postings(batchT, "doc_id", "text"), "doc_id", asgBatch,
      frozen, tdf, dec = dec.map(_.filter(col("doc_id") >= 8)),
      numShards = 2).cache()
    appended.count()
    val tomb = Array(9L, 0L)
    val ov = Array((4L, 1.0), (2L, 0.25))

    val compacted = ServingFusion.compactCombined(
      appended, tomb, ov, numPartitions = 3).cache()
    compacted.count()
    assert(compacted.getNumPartitions === 3, "segments must fold")
    assert(compacted.map(_ => 1).reduce(_ + _) <= 3,
      "each compacted partition must hold at most one merged shard")
    // Physical drop: no shard carries a tombstoned id anywhere.
    assert(compacted.flatMap(_.text.ids).collect().toSet ===
      (0L to 10L).toSet -- tomb.toSet)

    val sq = servedQueries(qsN, qt)
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard],
        tm: Array[Long], o: Array[(Long, Double)]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, params.alpha,
          params.k, nProbe = 2, kVec = 3, tombstones = tm,
          decOverrides = o)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val live = serve(appended, tomb, ov)
    assert(live !== serve(appended, Array.emptyLongArray, Array.empty),
      "fixture mutations must change served results, or the test proves nothing")
    assert(serve(compacted, Array.emptyLongArray, Array.empty) === live,
      "compacted serve must equal live tombstone+override serve, exactly")
    // Compaction is idempotent: a second pass with empty sets is a no-op
    // on served results.
    assert(serve(ServingFusion.compactCombined(compacted,
      numPartitions = 3), Array.emptyLongArray, Array.empty) === live)
    // Compaction commutes with further appends: a post-compaction segment
    // under the same frozen artifacts serves like appending to the
    // uncompacted index with the live sets still applied.
    val lateT = t.filter(col("doc_id") >= 8)
      .withColumn("doc_id", col("doc_id") + 20)
    val asgLate = asgBatch.withColumn("doc_id", col("doc_id") + 20)
    def appendLate(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard]) =
      ServingFusion.appendCombined(ix, lateT.select(col("doc_id")),
        Bm25.postings(lateT, "doc_id", "text"), "doc_id", asgLate,
        frozen, tdf, dec = None, numShards = 1)
    assert(serve(appendLate(compacted), Array.emptyLongArray, Array.empty)
      === serve(appendLate(appended), tomb, ov))

    // Served MMR runs over the compacted state too — equal to MMR over a
    // frozen-stats REBUILD with the docs dropped and the decay frame
    // updated (a no-op for MMR: pool relevance is pure vector cosine, so
    // only the physical tombstone drop is observable on this path).
    val decUpdated = dec.map(_.select(col("doc_id"),
      when(col("doc_id") === 2, 0.25)
        .when(col("doc_id") === 4, 1.0)
        .otherwise(col("_dec")).as("_dec")))
    val keepT = t.filter(!col("doc_id").isin(tomb.toSeq: _*))
    val keep = keepT.select(col("doc_id"))
    val rebuilt = ServingFusion.buildCombined(keep,
      Bm25.postings(t, "doc_id", "text")
        .join(keep, Seq("doc_id"), "left_semi"), "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket"))
        .join(keep, Seq("doc_id"), "left_semi"),
      decUpdated.map(_.join(keep, Seq("doc_id"), "left_semi")),
      numShards = 3, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    rebuilt.count()
    assert(serve(rebuilt, Array.emptyLongArray, Array.empty) === live,
      "sanity: the rebuild fixture must match the live serve")
    val mq = sq.map(q => (q.qid, q.qvec))
    def mmr(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard]) =
      ServingFusion.mmrTopKCombined(ix, cents, mq, k = 3, pool = 6,
        nProbe = 2, lam = 0.7, oneMinusLam = 0.3).toSeq
    assert(mmr(compacted) === mmr(rebuilt))

    // Int8 twin: same mutations, codes + norms copied verbatim.
    val base8 = ServingFusion.buildCombined(
      baseT.select(col("doc_id")), postBase, "doc_id", asgBase,
      dec.map(_.filter(col("doc_id") <= 7)), numShards = 3,
      prebuiltTokenDf = Some(tdf), frozenStats = Some(frozen))(
        VecCodec.Int8(1.0)).cache()
    base8.count()
    val app8 = ServingFusion.appendCombined(
      base8, batchT.select(col("doc_id")),
      Bm25.postings(batchT, "doc_id", "text"), "doc_id", asgBatch,
      frozen, tdf,
      dec = dec.map(_.filter(col("doc_id") >= 8)), numShards = 2)(
        VecCodec.Int8(1.0)).cache()
    app8.count()
    val comp8 = ServingFusion.compactCombined(
      app8, tomb, ov, numPartitions = 3)(VecCodec.Int8(1.0)).cache()
    comp8.count()
    assert(comp8.getNumPartitions === 3)
    def serve8(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShardInt8],
        tm: Array[Long], o: Array[(Long, Double)]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq,
          params.alpha, params.k, nProbe = 2, kVec = 3, tombstones = tm,
          decOverrides = o)(VecCodec.Int8(1.0))
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(serve8(comp8, Array.emptyLongArray, Array.empty) ===
      serve8(app8, tomb, ov))

    base.unpersist(); appended.unpersist(); compacted.unpersist()
    rebuilt.unpersist(); base8.unpersist(); app8.unpersist()
    comp8.unpersist(); tdf.unpersist(); qsN.unpersist(); qt.unpersist()
  }

  test("save/load round-trips the combined serving state, append-ready") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val asgAll = assigned
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      t.select(col("doc_id")), post, "doc_id"))
    val tdf = Bm25.tokenDf(post).cache()
    tdf.count()
    val built = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id", asgAll, dec,
      numShards = 3, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    built.count()
    val dir = java.nio.file.Files.createTempDirectory("combined-snap")
      .toString
    ServingFusion.saveCombined(built, dir, frozen, tdf)
    val snap = ServingFusion.loadCombined(spark, dir, numShards = 3)
    val (frozenL, tdfL) = (snap.frozenStats, snap.tokenDf)
    val loaded = snap.index.cache()
    loaded.count()
    assert(frozenL === frozen, "frozen corpus scalars must round-trip")
    assert(snap.maxId === 10L, "the snapshot must record its id watermark")
    assert(tdfL.orderBy("token").collect().toSeq ===
      tdf.select(col("token"), col("df").cast("long").as("df"))
        .orderBy("token").collect().toSeq,
      "the frozen token-df artifact must round-trip")

    val sq = servedQueries(qsN, qt)
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, params.alpha,
          params.k, nProbe = 2, kVec = 3)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(serve(loaded) === serve(built),
      "a loaded snapshot must serve bit-identically")

    // Append-ready: a post-restart segment lands on the LOADED index
    // under the loaded artifacts and equals the same append on the
    // original (the restart-continuation contract).
    val lateT = t.filter(col("doc_id") >= 8)
      .withColumn("doc_id", col("doc_id") + 20)
    val asgLate = asgAll.filter(col("doc_id") >= 8)
      .withColumn("doc_id", col("doc_id") + 20)
    def appendLate(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard],
        fz: (Long, Double), td: org.apache.spark.sql.DataFrame) =
      ServingFusion.appendCombined(ix, lateT.select(col("doc_id")),
        Bm25.postings(lateT, "doc_id", "text"), "doc_id", asgLate,
        fz, td, dec = None, numShards = 1)
    assert(serve(appendLate(loaded, frozenL, tdfL)) ===
      serve(appendLate(built, frozen, tdf)))

    // Int8 twin: codes + norms verbatim, absMax rides the meta.
    val built8 = ServingFusion.buildCombined(
      t.select(col("doc_id")), post, "doc_id", asgAll, dec,
      numShards = 3, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))(VecCodec.Int8(1.0)).cache()
    built8.count()
    val dir8 = java.nio.file.Files.createTempDirectory("combined-snap8")
      .toString
    ServingFusion.saveCombined(built8, dir8, frozen, tdf)(VecCodec.Int8(1.0))
    val snap8 = ServingFusion.loadCombined(spark, dir8, numShards = 3)(
      VecCodec.Int8(1.0))
    val loaded8 = snap8.index
    assert(snap8.frozenStats === frozen && snap8.maxId === 10L)
    // absMax rides the meta: a load under another absMax fails.
    assert(intercept[IllegalArgumentException](ServingFusion.loadCombined(
      spark, dir8)(VecCodec.Int8(0.5))).getMessage.contains("abs_max"))
    def serve8(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShardInt8]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq,
          params.alpha, params.k, nProbe = 2, kVec = 3)(VecCodec.Int8(1.0))
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(serve8(loaded8) === serve8(built8))

    built.unpersist(); loaded.unpersist(); built8.unpersist()
    tdf.unpersist(); qsN.unpersist(); qt.unpersist()
  }

  test("append id-watermark guard fails loudly on a base∩segment collision") {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val baseT = t.filter(col("doc_id") <= 7)
    val postBase = Bm25.postings(baseT, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseT.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    val asgBase = assigned.filter(col("id") <= 7)
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val base = ServingFusion.buildCombined(
      baseT.select(col("doc_id")), postBase, "doc_id", asgBase,
      dec.map(_.filter(col("doc_id") <= 7)), numShards = 2,
      prebuiltTokenDf = Some(tdf), frozenStats = Some(frozen)).cache()
    base.count()
    // Colliding batch: doc 5 is already in the base. Without the
    // watermark the append silently double-scores; with it, it throws.
    val badT = t.filter(col("doc_id") === 5 || col("doc_id") === 8)
    val postBad = Bm25.postings(badT, "doc_id", "text")
    val asgBad = assigned.filter(col("id") === 5 || col("id") === 8)
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val ex = intercept[IllegalArgumentException] {
      ServingFusion.appendCombined(base, badT.select(col("doc_id")),
        postBad, "doc_id", asgBad, frozen, tdf,
        dec = dec.map(_.filter(col("doc_id") === 5 || col("doc_id") === 8)),
        numShards = 1, baseMaxId = Some(7L))
    }
    assert(ex.getMessage.contains("watermark"))
    // A genuinely disjoint batch passes the same guard.
    val okT = t.filter(col("doc_id") >= 8)
    val appended = ServingFusion.appendCombined(base,
      okT.select(col("doc_id")), Bm25.postings(okT, "doc_id", "text"),
      "doc_id",
      assigned.filter(col("id") >= 8)
        .select(col("id").as("doc_id"), col("vector"), col("bucket")),
      frozen, tdf, dec = dec.map(_.filter(col("doc_id") >= 8)),
      numShards = 1, baseMaxId = Some(7L))
    val sq = servedQueries(qsN, qt)
    assert(ServingFusion.fusedTopKCombined(appended, cents, sq,
      params.alpha, params.k, nProbe = 2, kVec = 3).nonEmpty)
    base.unpersist(); tdf.unpersist(); qsN.unpersist(); qt.unpersist()
  }

  /** An f32 combined index and its served queries for the batch checks. */
  private def validationFixtures() = {
    val (t, post, dec, cents, assigned, qsN, qt) = fixtures()
    val ix = ServingFusion.buildCombined(t.select(col("doc_id")), post,
      "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      dec, numShards = 2)
    val sq = servedQueries(qsN, qt)
    qsN.unpersist(); qt.unpersist()
    (t, post, dec, cents, assigned, ix, sq)
  }

  private def rejected(f: => Any): String =
    intercept[IllegalArgumentException](f).getMessage

  test("served batches reject a metric other than cosine or l2") {
    val (_, _, _, cents, _, ix, sq) = validationFixtures()
    for (m <- Seq("euclidean", "dot", "L2")) {
      assert(rejected(ServingFusion.fusedTopKCombined(ix, cents, sq,
        params.alpha, params.k, nProbe = 2, kVec = 3, metric = m))
        .contains(s"unknown metric '$m'"))
      assert(rejected(ServingFusion.mmrTopKCombined(ix, cents,
        sq.map(q => (q.qid, q.qvec)), k = 3, pool = 6, nProbe = 2,
        lam = 0.7, oneMinusLam = 0.3, metric = m))
        .contains(s"unknown metric '$m'"))
    }
  }

  test("int8 served batches reject the l2 metric") {
    val (t, post, dec, cents, assigned, _, sq) = validationFixtures()
    val ix8 = ServingFusion.buildCombined(t.select(col("doc_id")), post,
      "doc_id",
      assigned.select(col("id").as("doc_id"), col("vector"), col("bucket")),
      dec, numShards = 2)(VecCodec.Int8(1.0))
    assert(rejected(ServingFusion.fusedTopKCombined(ix8, cents, sq,
      params.alpha, params.k, nProbe = 2, kVec = 3,
      metric = "l2")(VecCodec.Int8(1.0))).contains("cosine-only"))
    assert(rejected(ServingFusion.mmrTopKCombined(ix8, cents,
      sq.map(q => (q.qid, q.qvec)), k = 3, pool = 6, nProbe = 2, lam = 0.7,
      oneMinusLam = 0.3, metric = "l2")(VecCodec.Int8(1.0)))
      .contains("cosine-only"))
  }

  test("served batches reject a query vector of another dimension") {
    val (_, _, _, cents, _, ix, sq) = validationFixtures()
    for (dim <- Seq(3, 5)) {
      val q = sq.head.copy(qvec = Array.fill(dim)(0.5f))
      assert(rejected(ServingFusion.fusedTopKCombined(ix, cents, Seq(q),
        params.alpha, params.k, nProbe = 2, kVec = 3))
        .contains(s"has $dim dimensions, the centroids 4"))
      assert(rejected(ServingFusion.mmrTopKCombined(ix, cents,
        Seq((q.qid, q.qvec)), k = 3, pool = 6, nProbe = 2, lam = 0.7,
        oneMinusLam = 0.3)).contains(s"has $dim dimensions, the centroids 4"))
    }
  }

  test("served MMR rejects a null query vector") {
    val (_, _, _, cents, _, ix, _) = validationFixtures()
    assert(rejected(ServingFusion.mmrTopKCombined(ix, cents,
      Seq((7L, null: Array[Float])), k = 3, pool = 6, nProbe = 2, lam = 0.7,
      oneMinusLam = 0.3)).contains("query 7 has no query vector"))
  }
}
