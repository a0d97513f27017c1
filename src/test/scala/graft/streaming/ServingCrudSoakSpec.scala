package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.search.{Ivf, ServingFusion, VecCodec}
import graft.search.ServingFusion.CombinedBlocks
import graft.text.{Analyzer, Bm25}

/** End-to-end serving-CRUD soak (VERDICT r17 directive #6): the full
  * lifecycle — ingest, deletes, upserts, decay overrides, a compaction,
  * a snapshot-then-truncate, a crash+restart — run in RANDOMIZED
  * interleavings, each asserting the final serve equals a frozen-stats
  * rebuild of the logical state. Every piece is individually spec-pinned
  * in StreamsSpec; this is the COMPOSITION battery (the closest Spark
  * analogue to the reference's crash-survival engine tests,
  * `pkg/engine/engine_test.go:417,506`), the layer where r17's
  * lost-compaction race hid.
  *
  * Restart contract exercised per interleaving: segment docs + upsert
  * tombstones recover from the segment log alone (`graft_replaces`);
  * plain deletes and decay overrides replay from the caller's oplog
  * (simulated by the spec's history mirrors) — exactly the documented
  * split in [[Streams.tombstoneIngest]] / [[Streams.upsertIngest]].
  *
  * Both codecs run the same seeds and assertions: the f32 and the int8
  * layout go through the same streaming and serving core, and this is
  * where a codec-specific fault in crash, restart or compaction
  * composition would show.
  */
class ServingCrudSoakSpec extends SparkSpec {

  private def tempDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val words = Array("spark", "join", "plan", "scan", "filter",
    "window", "stream", "state", "hash", "probe")

  private def doc(i: Long): (Long, String, Array[Float]) = {
    val text = (0 until 5).map(j => words(((i + j * 3) % 10).toInt))
      .mkString(" ")
    val raw = Array.tabulate(4)(j => (math.sin(i * (j + 1)) + 1.5).toFloat)
    val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
    (i, text, raw.map(x => (x / n).toFloat))
  }

  test("50 randomized CRUD interleavings each serve == logical rebuild") {
    soak(VecCodec.F32)
  }

  test("int8: 50 randomized CRUD interleavings each serve == logical rebuild") {
    soak(VecCodec.Int8(absMax = 1.0))
  }

  /** The soak over one codec; every build, serve and streaming call below
    * picks it up implicitly.
    */
  private def soak[S <: CombinedBlocks](implicit codec: VecCodec[S]): Unit = {
    import spark.implicits._
    val baseIds = 0L until 6L
    val baseDocs = baseIds.map(doc).toDF("doc_id", "text", "embedding")
    def vecs(df: DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(vecs(baseDocs), 3, iters = 2)
    val postBase = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    def asg(df: DataFrame) =
      Ivf.assignFast(vecs(df), cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    // One shared base build: every interleaving starts from it (RDDs are
    // immutable — ops only union/replace the driver-side handle).
    val base = ServingFusion.buildCombined(
      baseDocs.select(col("doc_id")), postBase, "doc_id", asg(baseDocs),
      numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base.count()
    val sq = Seq(0L, 1L).map { qid =>
      val qtext = if (qid == 0) "spark join plan" else "filter window stream"
      val toks = Analyzer.analyze(qtext, "english")
        .groupBy(identity).map { case (t, g) => (t, g.size) }
        .toArray.sortBy(_._1)
      ServingFusion.ServedQuery(qid, doc(qid + 50)._3, toks)
    }
    def serve(ix: org.apache.spark.rdd.RDD[S],
        tomb: Array[Long], ov: Array[(Long, Double)]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, alpha0 = 0.6, k = 5,
          nProbe = 2, kVec = 3, tombstones = tomb, decOverrides = ov)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq

    (1 to 50).foreach { seed =>
      val rng = new scala.util.Random(seed)

      // Live driver state (what a crash loses, except the durable log).
      var ref = new java.util.concurrent.atomic.AtomicReference(base)
      var tombRef = new java.util.concurrent.atomic.AtomicReference(
        Array.emptyLongArray)
      var ovRef = new java.util.concurrent.atomic.AtomicReference(
        Map.empty[Long, (Double, Long)])
      val wm = new java.util.concurrent.atomic.AtomicLong(baseIds.last)
      val log = tempDir(s"soak-log-$seed")
      var snapDir: Option[String] = None

      // Logical mirrors: the ground truth the final rebuild uses, plus
      // the "oplog" histories the restart contract lets a caller replay.
      val alive = scala.collection.mutable.SortedMap.empty[Long,
        (String, Array[Float])]
      baseIds.foreach(i => alive(i) = (doc(i)._2, doc(i)._3))
      val factors = scala.collection.mutable.Map.empty[Long, Double]
      val deleteHistory = scala.collection.mutable.ArrayBuffer.empty[Long]
      val overrideHistory =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
      var nextId = baseIds.last + 1
      var batchId = 0L
      var ver = 1L

      def randomAlive(): Long = {
        val keys = alive.keys.toIndexedSeq
        keys(rng.nextInt(keys.size))
      }

      def opIngest(): Unit = {
        val ids = Seq(nextId, nextId + 1); nextId += 2
        val df = ids.map(doc).toDF("doc_id", "text", "embedding")
        Streams.ingestCombinedBatch(df, batchId, "doc_id", "text",
          "embedding", cents, frozen, tdf, ref, numShardsPerSegment = 1,
          segmentLog = Some(log), idWatermark = Some(wm))
        batchId += 1
        ids.foreach(i => alive(i) = (doc(i)._2, doc(i)._3))
      }

      def opDelete(): Unit = {
        val id = randomAlive()
        Streams.mergeTombstones(tombRef, Array(id))
        alive -= id
        deleteHistory += id
      }

      def opUpsert(): Unit = {
        val old = randomAlive()
        val id = nextId; nextId += 1
        val df = Seq((id, Some(old), doc(id)._2, doc(id)._3))
          .toDF("doc_id", "replaces", "text", "embedding")
        Streams.upsertCombinedBatch(df, batchId, "doc_id", "replaces",
          "text", "embedding", cents, frozen, tdf, ref, tombRef,
          numShardsPerSegment = 1, segmentLog = Some(log),
          idWatermark = Some(wm))
        batchId += 1
        alive -= old
        alive(id) = (doc(id)._2, doc(id)._3)
        // Deliberately NOT added to deleteHistory: the upsert's delete
        // half must recover from the log's graft_replaces alone.
      }

      def opOverride(): Unit = {
        val id = randomAlive()
        val f = 0.1 + rng.nextInt(9) / 10.0
        val v = ver; ver += 1
        ovRef.updateAndGet(cur => cur.get(id) match {
          case Some((_, v0)) if v0 >= v => cur
          case _ => cur.updated(id, (f, v))
        })
        factors(id) = f
        overrideHistory += ((id, f, v))
      }

      def opCompact(): Unit = {
        Streams.compactCombinedServing(ref, tombRef, ovRef,
          numPartitions = 2)
        ()
      }

      def opSnapshot(): Unit = {
        // Compact-first is snapshotCombined's documented contract (the
        // snapshot must carry no tombstoned docs).
        opCompact()
        val dir = tempDir(s"soak-snap-$seed-$batchId")
        Streams.snapshotCombined(ref.get(), dir, frozen, tdf, "doc_id",
          segmentLog = Some(log))
        snapDir = Some(dir)
      }

      def opRestart(): Unit = {
        // Crash: every driver handle dies; only the snapshot, the
        // segment log, and the caller's oplog histories survive.
        val (bIx, bMax) = snapDir match {
          case Some(d) =>
            val l = ServingFusion.loadCombined(spark, d, numShards = 2)
            (l.index, l.maxId)
          case None => (base, baseIds.last)
        }
        val freshTomb = new java.util.concurrent.atomic.AtomicReference(
          Array.emptyLongArray)
        val rec = Streams.recoverCombinedSegments(spark, log, "doc_id",
          "text", "embedding", cents, frozen, tdf, bIx, numShards = 1,
          minIdExclusive = Some(bMax), tombRef = Some(freshTomb))
        if (deleteHistory.nonEmpty)
          Streams.mergeTombstones(freshTomb, deleteHistory.toArray)
        ref = new java.util.concurrent.atomic.AtomicReference(rec)
        tombRef = freshTomb
        ovRef = new java.util.concurrent.atomic.AtomicReference(
          overrideHistory.foldLeft(Map.empty[Long, (Double, Long)]) {
            case (m, (id, f, v)) => m.get(id) match {
              case Some((_, v0)) if v0 >= v => m
              case _ => m.updated(id, (f, v))
            }
          })
        wm.set(math.max(bMax,
          Streams.maxLoggedId(spark, log, "doc_id").getOrElse(Long.MinValue)))
      }

      // One of each core mutation, shuffled; then compaction, the
      // snapshot rewrite, and the crash+restart spliced in at random
      // positions — every prefix is a legal system history.
      val core = rng.shuffle(Seq[() => Unit](
        () => opIngest(), () => opDelete(), () => opUpsert(),
        () => opOverride()))
      val withSpecials = Seq[() => Unit](
        () => opCompact(), () => opSnapshot(), () => opRestart())
        .foldLeft(core) { (ops, sp) =>
          val at = rng.nextInt(ops.size + 1)
          (ops.take(at) :+ sp) ++ ops.drop(at)
        }
      withSpecials.foreach(op => op())

      // Final check: what serves == a frozen-stats rebuild of the
      // logical state, with the still-live overrides riding the query.
      val aliveDf = alive.toSeq.map { case (id, (t, v)) => (id, t, v) }
        .toDF("doc_id", "text", "embedding")
      val rebuilt = ServingFusion.buildCombined(
        aliveDf.select(col("doc_id")),
        Bm25.postings(aliveDf, "doc_id", "text"), "doc_id", asg(aliveDf),
        numShards = 2, prebuiltTokenDf = Some(tdf),
        frozenStats = Some(frozen))
      val expected = serve(rebuilt, Array.emptyLongArray,
        factors.toArray.map { case (i, f) => (i, f) })
      val actual = serve(ref.get(), tombRef.get(),
        Streams.overridesArray(ovRef.get()))
      assert(actual === expected,
        s"seed $seed: serve after the interleaving must equal the " +
          "logical-state rebuild")
    }

    base.unpersist(); tdf.unpersist()
  }
}
