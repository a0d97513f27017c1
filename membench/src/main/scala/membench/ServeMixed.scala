package membench

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SyntheticVectors
import graft.queries.FusionQueries
import graft.search.{Fusion, Ivf, ServingFusion}
import graft.search.ServingFusion.{CombinedShard, CombinedShardInt8, ServedQuery}
import graft.streaming.Streams
import graft.text.{Analyzer, Bm25}

/** `serve_mixed`: hybrid memory serving under live CRUD, one client.
  *
  * Reads rotate through fused, MMR and int8-fused single-query calls on
  * the combined serving index; every tenth operation is a write — a
  * streaming micro-batch (ingest, upsert, delete or decay override, each
  * run to completion) landing on both layouts — with compaction at fixed
  * points and one snapshot at the end. Each read is one Spark job, so the
  * per-job floor and segment/tombstone growth between compactions set the
  * read latency; the batch IVF kernels and the analytics layers are not
  * touched.
  */
object ServeMixed extends Workload {

  val layers = Seq("search.serving.", "serving.", "streaming.", "serve.",
    "build.postings.", "build.kmeans.", "build.assign.", "build.combined.",
    "build.combined_int8.", "host.")

  final case class Sizes(docs: Int, dim: Int, clusters: Long, vocab: Int,
      docLen: Int, centroids: Int, pool: Int, batch: Int)

  val Full = Sizes(docs = 4000, dim = 32, clusters = 200, vocab = 4000,
    docLen = 24, centroids = 96, pool = 64, batch = 8)

  val K = 10
  val KVec = 10
  val NProbe = 8
  val Alpha = 0.6
  val MmrPool = 32
  val ReadsPerWrite = 10
  val CompactEvery = 2
  val WarmCycles = 1
  /** Untimed reads before the warm write cycle, so the read path is
    * compiled before timing starts. */
  val WarmReads = 45
  /** Nominal write cycles (ten reads + one write) per second of run. */
  val CyclesPerSecond = 0.5
  val ReadKinds = Vector("fused", "mmr", "fused_int8")
  val params = Fusion.FusionParams(alpha = Alpha, k = K,
    memory = FusionQueries.memCfg, now = FusionQueries.Now)

  sealed trait Op extends Product
  final case class Read(kind: String, query: Int) extends Op
  final case class Ingest(ids: Seq[Long]) extends Op
  /** (new id, id it replaces) */
  final case class Upsert(pairs: Seq[(Long, Long)]) extends Op
  final case class Delete(ids: Seq[Long]) extends Op
  final case class Override(entries: Seq[(Long, Double)], ver: Long) extends Op
  case object Compact extends Op
  case object Snapshot extends Op

  /** The operation script: `warm` untimed cycles then `cycles` timed ones,
    * each ten reads and one write, writes rotating ingest → override →
    * upsert → delete, compaction after every [[CompactEvery]] timed writes,
    * and at the end a compaction (unless one just ran) and a snapshot. Targets of deletes, upserts and
    * overrides are drawn from the docs alive at that point of the script.
    */
  def script(seed: Long, sz: Sizes, warm: Int, cycles: Int): (Vector[Op], Vector[Op]) = {
    val rng = new scala.util.Random(seed)
    val alive = mutable.LinkedHashSet.empty[Long] ++= (0L until sz.docs)
    var nextId = sz.docs.toLong
    var reads = 0
    var writes = 0
    var ver = 0L
    def pick(n: Int): Seq[Long] = {
      val a = alive.toIndexedSeq
      Iterator.continually(a(rng.nextInt(a.size))).distinct.take(n).toSeq
    }
    def fresh(n: Int): Seq[Long] = {
      val ids = nextId until nextId + n
      nextId += n
      ids
    }
    def cycle(timed: Boolean): Vector[Op] = {
      val rs = Vector.fill(ReadsPerWrite) {
        val kind = ReadKinds(reads % ReadKinds.size)
        reads += 1
        Read(kind, math.floor(sz.pool * math.pow(rng.nextDouble(), 2)).toInt)
      }
      val w: Op = writes % 4 match {
        case 0 =>
          val ids = fresh(sz.batch); alive ++= ids; Ingest(ids)
        case 1 =>
          ver += 1
          Override(pick(sz.batch).map(id => id -> (0.5 + rng.nextInt(6) / 10.0)), ver)
        case 2 =>
          val olds = pick(sz.batch / 2)
          val news = fresh(olds.size)
          alive --= olds; alive ++= news
          Upsert(news.zip(olds))
        case _ =>
          val ids = pick(sz.batch); alive --= ids; Delete(ids)
      }
      writes += 1
      val compact = timed && writes > WarmCycles &&
        (writes - WarmCycles) % CompactEvery == 0
      rs :+ w :++ (if (compact) Vector(Compact) else Vector.empty)
    }
    val warmOps = Vector.tabulate(WarmReads)(i => Read(ReadKinds(i % ReadKinds.size), i % sz.pool)) ++
      (1 to warm).flatMap(_ => cycle(false))
    val body = (1 to cycles).flatMap(_ => cycle(true)).toVector
    val timedOps = (if (body.last == Compact) body else body :+ Compact) :+ Snapshot
    (warmOps, timedOps)
  }

  def cyclesFor(seconds: Int): Int = math.max(2, math.round(seconds * CyclesPerSecond).toInt)

  private def seedOffset(seed: Long): Long = (seed * 1000003L) % 100000007L

  /** The base corpus: zipf text, clustered unit vectors, decay metadata. */
  def corpus(spark: SparkSession, seed: Long, sz: Sizes): DataFrame = {
    val id = col("id")
    def h(salt: String, m: Long): Column = pmod(xxhash64(id, lit(s"$salt-$seed")), lit(m))
    val base = FusionQueries.Base
    spark.range(sz.docs).select(
      id.as("doc_id"),
      SyntheticVectors.zipfText(id, sz.docLen, s"doc-$seed", sz.vocab).as("text"),
      SyntheticVectors.clusteredVec(id + lit(seedOffset(seed)), sz.dim,
        sz.clusters, s"nz-$seed").as("embedding"),
      (lit(base) + h("age", 720) * 3600).cast("double").as("_created_at"),
      (lit(base) + h("age", 720) * 3600 + h("acc", 5) * 86400)
        .cast("double").as("_last_accessed"),
      (h("pin", 13) === 0).as("_pinned"),
      element_at(array(lit("episodic"), lit("semantic"), lit("procedural")),
        (h("layer", 3) + 1).cast("int")).as("memory_layer"),
      element_at(array(lit("exponential"), lit("linear"), lit("ebbinghaus")),
        (h("model", 3) + 1).cast("int")).as("_decay_model"),
      h("cnt", 7).cast("double").as("_access_count"))
  }

  /** Docs arriving through writes: an ingested doc gets fresh content; an
    * upsert's replacement keeps the replaced doc's cluster, so the old
    * copy is a near neighbour the visibility probe must not return.
    */
  def writeDocs(spark: SparkSession, seed: Long, sz: Sizes,
      ops: Seq[Op]): Map[Long, (String, Array[Float])] = {
    import spark.implicits._
    val keys = ops.flatMap {
      case Ingest(ids) => ids.map(i => (i, i, "nz"))
      case Upsert(ps) => ps.map { case (n, o) => (n, o, "up") }
      case _ => Nil
    }
    keys.toDF("doc_id", "vkey", "salt").select(
      col("doc_id"),
      SyntheticVectors.zipfText(col("doc_id"), sz.docLen, s"doc-$seed", sz.vocab),
      when(col("salt") === "nz", SyntheticVectors.clusteredVec(
        col("vkey") + lit(seedOffset(seed)), sz.dim, sz.clusters, s"nz-$seed"))
        .otherwise(SyntheticVectors.clusteredVec(
          col("vkey") + lit(seedOffset(seed)), sz.dim, sz.clusters, s"up-$seed")))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getSeq[Float](2).toArray))
      .toMap
  }

  /** The query pool: zipf text sharing the corpus vocabulary, vectors from
    * held-out ids of the same clusters.
    */
  def queryPool(spark: SparkSession, seed: Long, sz: Sizes): IndexedSeq[ServedQuery] = {
    val id = col("id")
    spark.range(sz.pool).select(id,
        SyntheticVectors.zipfText(id, 3, s"q-$seed", sz.vocab),
        SyntheticVectors.clusteredVec(id + lit(10L * sz.docs + seedOffset(seed)),
          sz.dim, sz.clusters, s"q-$seed"))
      .collect().toIndexedSeq
      .map(r => served(r.getLong(0), r.getString(1), r.getSeq[Float](2).toArray))
  }

  def served(qid: Long, text: String, vec: Array[Float]): ServedQuery =
    ServedQuery(qid, vec, Analyzer.analyze(text, "english")
      .groupBy(identity).map { case (t, g) => (t, g.size) }.toArray.sortBy(_._1))

  /** Serving state after set-up. */
  final class State(val corpus: DataFrame, val tdf: DataFrame,
      val frozen: (Long, Double), val cents: Array[Array[Float]],
      val base32: RDD[CombinedShard], val base8: RDD[CombinedShardInt8])

  def setup(ctx: Ctx, sz: Sizes): State = {
    val tr = ctx.tracer
    val corpus = ServeMixed.corpus(ctx.spark, ctx.seed, sz).cache()
    corpus.count()
    val post = tr.span("build.postings") {
      val p = Bm25.postings(corpus, "doc_id", "text").cache(); p.count(); p
    }
    val tdf = Bm25.tokenDf(post).cache()
    tdf.count()
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      corpus.select(col("doc_id")), post, "doc_id"))
    val vecs = corpus.select(col("doc_id").as("id"), col("embedding").as("vector"))
    val cents = tr.span("build.kmeans")(Ivf.trainKMeansArrays(vecs, sz.centroids, iters = 3))
    val assigned = tr.span("build.assign") {
      val a = Ivf.assignFast(vecs, cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket")).cache()
      a.count(); a
    }
    val dec = Fusion.decayFrame(corpus, "doc_id", params)
    val b32 = tr.span("build.combined") {
      val b = ServingFusion.buildCombined(corpus.select(col("doc_id")), post,
        "doc_id", assigned, dec, numShards = ctx.cores,
        prebuiltTokenDf = Some(tdf), frozenStats = Some(frozen)).cache()
      b.count(); b
    }
    val b8 = tr.span("build.combined_int8") {
      val b = ServingFusion.buildCombinedInt8(corpus.select(col("doc_id")), post,
        "doc_id", assigned, absMax = 1.0, dec, numShards = ctx.cores,
        prebuiltTokenDf = Some(tdf), frozenStats = Some(frozen)).cache()
      b.count(); b
    }
    post.unpersist(); assigned.unpersist()
    new State(corpus, tdf, frozen, cents, b32, b8)
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))
  private val upsertSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("replaces", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))
  private val deleteSchema = StructType(Seq(StructField("doc_id", LongType)))
  private val overrideSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("factor", DoubleType),
    StructField("ver", LongType)))

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val sz = Full
    val spark = ctx.spark
    val tr = ctx.tracer
    val (warmOps, timedOps) = script(ctx.seed, sz, WarmCycles, cyclesFor(ctx.seconds))

    // One cold set-up in the fresh JVM: the cost a restarted server pays.
    val t0 = System.nanoTime()
    val st = setup(ctx, sz)
    out.e2e("setup_s") = (System.nanoTime() - t0) / 1e9
    out.e2e("resident_mb") = ctx.residentMb()

    val docs = writeDocs(spark, ctx.seed, sz, warmOps ++ timedOps)
    val pool = queryPool(spark, ctx.seed, sz)
    val baseForProbe: Map[Long, (String, Array[Float])] = {
      val ids = (warmOps ++ timedOps).flatMap {
        case Delete(ids) => ids
        case Upsert(ps) => ps.map(_._2)
        case _ => Nil
      }.filter(_ < sz.docs).distinct
      st.corpus.filter(col("doc_id").isin(ids: _*))
        .select("doc_id", "text", "embedding").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getSeq[Float](2).toArray)).toMap
    }
    Main.log("inputs " + InputHash.combine(Seq(InputHash.frame(st.corpus),
      docs.toSeq.sortBy(_._1).map { case (i, (t, v)) =>
        (i, t, v.toSeq).hashCode.toLong }.hashCode.toLong,
      pool.map(q => (q.qid, q.qvec.toSeq, q.tokens.toSeq).hashCode.toLong).hashCode.toLong,
      (warmOps ++ timedOps).hashCode.toLong)))

    val live = new Live(ctx, sz, st, docs, baseForProbe)
    tr.untraced(warmOps.foreach(op => live.apply(op, pool, record = false)))
    val gc0 = Host.gcMs()
    // The checkpoint sits before the final compaction, when the live state
    // carries segments, tombstones and overrides.
    val check = timedOps.length - 2
    timedOps.zipWithIndex.foreach { case (op, i) =>
      if (i == check) live.checkpoint(pool, out)
      live.apply(op, pool, record = true)
    }
    Main.log(f"gc during script: ${Host.gcMs() - gc0} ms")

    out.attempted = live.readMs.size + live.writeMs.size
    out.failedOps = live.failedProbes
    out.e2e("throughput") = out.attempted / ((live.readMs.sum + live.writeMs.sum) / 1000.0)
    out.latency(live.readMs.toSeq)
    Main.log(s"write ms: ${live.writeLog.mkString(" ")}")
    ReadKinds.foreach { k =>
      val xs = live.readKinds.zip(live.readMs).filter(_._1 == k).map(_._2).toSeq
      Main.log(f"reads $k: ${xs.size} samples, p50 ${Stats.median(xs)}%.1f ms")
    }
    Main.log(f"writes: ${live.writeMs.size} samples, p50 ${Stats.median(live.writeMs.toSeq)}%.1f ms")
    out.layer("serve.write_latency_p50_ms") = Stats.median(live.writeMs.toSeq)
    out.layer("serve.write_latency_tail_ms") = Stats.tail(live.writeMs.toSeq, 2)._1
    out.layer("serve.visible_p50_ms") = Stats.median(live.visibleMs.toSeq)
    out.check(live.failedProbes == 0, s"${live.failedProbes} visibility probes failed")

    if (tr.tracing) {
      out.layer("host.trace_overhead_pct") =
        tr.overheadPct(30)(live.read(Read("fused", 0), pool(0)))
      val spans = tr.finished()
      out.addSpans(spans)
      spans.filter(_._1.op == "search.serving.fused").foreach { case (s, w) =>
        out.check(w.jobs == 1, s"search.serving.fused#${s.id} ran ${w.jobs} jobs, not 1")
      }
      out.layer("serving.segments_max") = live.segmentsMax
      out.layer("serving.tombstones_max") = live.tombstonesMax
      out.layer("serving.overrides_max") = live.overridesMax
      live.progress.foreach { case (k, v) => out.layer(s"streaming.progress.$k") = Stats.median(v.toSeq) }
      out.layer("streaming.log_bytes_per_batch") = live.logBytesPerBatch
    }
    out
  }

  /** The live serving system plus the driver-side mirror of its logical
    * state that the checkpoint rebuilds use.
    */
  final class Live(ctx: Ctx, sz: Sizes, st: State,
      docs: Map[Long, (String, Array[Float])],
      baseDocs: Map[Long, (String, Array[Float])]) {
    private val spark = ctx.spark
    private val tr = ctx.tracer
    import spark.implicits._

    val ref32 = new AtomicReference(st.base32)
    val ref8 = new AtomicReference(st.base8)
    val tombRef = new AtomicReference(Array.emptyLongArray)
    val ovRef = new AtomicReference(Map.empty[Long, (Double, Long)])
    private var watermark = sz.docs - 1L

    // Logical mirror.
    private val added = mutable.LinkedHashMap.empty[Long, (String, Array[Float])]
    private val deleted = mutable.Set.empty[Long]
    private val factors = mutable.Map.empty[Long, Double]

    val readMs = mutable.ArrayBuffer.empty[Double]
    val readKinds = mutable.ArrayBuffer.empty[String]
    val writeMs = mutable.ArrayBuffer.empty[Double]
    val visibleMs = mutable.ArrayBuffer.empty[Double]
    val writeLog = mutable.ArrayBuffer.empty[String]
    val progress = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var failedProbes = 0
    var segmentsMax = 0.0
    var tombstonesMax = 0.0
    var overridesMax = 0.0
    var logBytesPerBatch = 0.0

    /** A probe armed by the last write: (write start ns, query, must find, must not find). */
    private var probe: Option[(Long, ServedQuery, Seq[Long], Seq[Long])] = None

    private def dir(s: String) = s"${ctx.work}/serve/$s"

    private def streamOf(name: String, schema: StructType): DataFrame =
      spark.readStream.schema(schema).parquet(dir(s"src/$name"))

    private def land(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(dir(s"src/$name"))

    /** Runs one streaming query to completion and keeps its progress. */
    private def await(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        val d = p.durationMs
        Seq("add_batch_ms" -> "addBatch", "wal_commit_ms" -> "walCommit",
          "query_planning_ms" -> "queryPlanning", "trigger_ms" -> "triggerExecution")
          .foreach { case (k, src) =>
            Option(d.get(src)).foreach(v =>
              progress.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v.toDouble)
          }
      }
    }

    private def docsDf(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, docs(i)._1, docs(i)._2)).toDF("doc_id", "text", "embedding")

    def read(r: Read, q: ServedQuery): Seq[Long] = {
      val tomb = tombRef.get()
      r.kind match {
        case "fused" =>
          tr.span("search.serving.fused")(ServingFusion.fusedTopKCombined(
            ref32.get(), st.cents, Seq(q), Alpha, K, NProbe, KVec,
            tombstones = tomb, decOverrides = Streams.overridesArray(ovRef.get())))
            .map(_._2).toSeq
        case "mmr" =>
          tr.span("search.serving.mmr")(ServingFusion.mmrTopKCombined(
            ref32.get(), st.cents, Seq((q.qid, q.qvec)), K, MmrPool, NProbe,
            0.7, 0.3, tombstones = tomb)).map(_._3).toSeq
        case "fused_int8" =>
          tr.span("search.serving.fused_int8")(ServingFusion.fusedTopKCombinedInt8(
            ref8.get(), st.cents, Seq(q), 1.0, Alpha, K, NProbe, KVec,
            tombstones = tomb, decOverrides = Streams.overridesArray(ovRef.get())))
            .map(_._2).toSeq
      }
    }

    private def docQuery(id: Long): ServedQuery = {
      val (t, v) = added.get(id).orElse(docs.get(id)).getOrElse(baseDocs(id))
      served(-1L - id, t, v)
    }

    def apply(op: Op, pool: IndexedSeq[ServedQuery], record: Boolean): Unit = op match {
      case r: Read =>
        val t0 = System.nanoTime()
        val q = probe.map(_._2).getOrElse(pool(r.query))
        val ids = read(r, q)
        val t1 = System.nanoTime()
        if (record) { readMs += (t1 - t0) / 1e6; readKinds += r.kind }
        probe.foreach { case (w0, _, found, absent) =>
          val ok = found.forall(ids.contains) && !absent.exists(ids.contains)
          if (!ok) {
            failedProbes += 1
            Main.log(s"probe failed after write: want ${found.mkString(",")} " +
              s"without ${absent.mkString(",")}, got ${ids.mkString(",")}")
          }
          if (record) visibleMs += (t1 - w0) / 1e6
        }
        probe = None
        if (record) {
          segmentsMax = math.max(segmentsMax, ref32.get().partitions.length.toDouble)
          tombstonesMax = math.max(tombstonesMax, tombRef.get().length.toDouble)
          overridesMax = math.max(overridesMax, ovRef.get().size.toDouble)
        }
      case w =>
        // The client lands the micro-batch file first; the write is timed
        // from the engine call that ingests it.
        w match {
          case Ingest(ids) => land("ingest", docsDf(ids))
          case Upsert(ps) =>
            land("upsert", ps.map { case (n, o) => (n, o, docs(n)._1, docs(n)._2) }
              .toDF("doc_id", "replaces", "text", "embedding"))
          case Delete(ids) => land("delete", ids.toDF("doc_id"))
          case Override(es, ver) =>
            land("override", es.map { case (i, f) => (i, f, ver) }.toDF("doc_id", "factor", "ver"))
          case _ =>
        }
        if (w == Snapshot && tr.tracing) logBytesPerBatch = logBytes()
        val t0 = System.nanoTime()
        write(w)
        val t1 = System.nanoTime()
        if (record) {
          writeMs += (t1 - t0) / 1e6
          writeLog += f"${w.productPrefix}=${(t1 - t0) / 1e6}%.0f"
        }
        // A compaction between a write and the next read leaves the
        // write's probe armed: visibility then includes the compaction.
        w match {
          case Ingest(ids) => probe = Some((t0, docQuery(ids.head), Seq(ids.head), Nil))
          case Upsert(ps) =>
            probe = Some((t0, docQuery(ps.head._1), Seq(ps.head._1), Seq(ps.head._2)))
          case Delete(ids) => probe = Some((t0, docQuery(ids.head), Nil, Seq(ids.head)))
          case _ =>
        }
    }

    private def write(w: Op): Unit = w match {
      case Ingest(ids) =>
        val wm = Some(watermark)
        tr.span("streaming.ingest")(await(Streams.combinedIngest(
          streamOf("ingest", docSchema), "doc_id", "text", "embedding",
          st.cents, st.frozen, st.tdf, ref32, dir("cp/ingest"),
          segmentLog = Some(dir("log/ingest")), idWatermark = wm)))
        tr.span("streaming.ingest_int8")(await(Streams.combinedIngestInt8(
          streamOf("ingest", docSchema), "doc_id", "text", "embedding",
          st.cents, 1.0, st.frozen, st.tdf, ref8, dir("cp/ingest_int8"),
          segmentLog = Some(dir("log/ingest_int8")), idWatermark = wm)))
        watermark = ids.max
        ids.foreach(i => added(i) = docs(i))
      case Upsert(ps) =>
        val wm = Some(watermark)
        tr.span("streaming.upsert") {
          await(Streams.upsertIngest(streamOf("upsert", upsertSchema), "doc_id",
            "replaces", "text", "embedding", st.cents, st.frozen, st.tdf,
            ref32, tombRef, dir("cp/upsert"),
            segmentLog = Some(dir("log/upsert")), idWatermark = wm))
          await(Streams.upsertIngestInt8(streamOf("upsert", upsertSchema), "doc_id",
            "replaces", "text", "embedding", st.cents, 1.0, st.frozen, st.tdf,
            ref8, tombRef, dir("cp/upsert_int8"),
            segmentLog = Some(dir("log/upsert_int8")), idWatermark = wm))
        }
        watermark = ps.map(_._1).max
        ps.foreach { case (n, o) => added(n) = docs(n); forget(o) }
      case Delete(ids) =>
        tr.span("streaming.delete")(await(Streams.tombstoneIngest(
          streamOf("delete", deleteSchema), "doc_id", tombRef, dir("cp/delete"))))
        ids.foreach(forget)
      case Override(es, _) =>
        tr.span("streaming.override")(await(Streams.decayOverrideIngest(
          streamOf("override", overrideSchema), "doc_id", "factor", "ver",
          ovRef, dir("cp/override"))))
        es.foreach { case (i, f) => factors(i) = f }
      case Compact =>
        // Both layouts share the tombstone and override sets; the int8
        // compaction works on copies so the f32 one still sees (and then
        // clears) the full sets.
        tr.span("streaming.compact") {
          Streams.compactCombinedServingInt8(ref8, new AtomicReference(tombRef.get()),
            new AtomicReference(ovRef.get()), ctx.cores)
          Streams.compactCombinedServing(ref32, tombRef, ovRef, ctx.cores)
        }
      case Snapshot =>
        tr.span("streaming.snapshot")(Streams.snapshotCombined(ref32.get(),
          dir("snapshot"), st.frozen, st.tdf, "doc_id", Some(dir("log/ingest"))))
      case _: Read =>
    }

    private def forget(id: Long): Unit = {
      deleted += id; added -= id; factors -= id
    }

    private def logBytes(): Double = {
      val batches = Seq("ingest", "ingest_int8", "upsert", "upsert_int8").flatMap { l =>
        val d = new java.io.File(dir(s"log/$l"))
        Option(d.listFiles()).toSeq.flatten.filter(_.getName.startsWith("batch="))
      }
      def size(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
      if (batches.isEmpty) 0.0 else batches.map(size).sum.toDouble / batches.size
    }

    /** Rebuilds both layouts from the logical doc state under the same
      * frozen statistics and requires a seeded sample of reads on the live
      * state to be bit-identical to reads on the rebuild. Untimed.
      */
    def checkpoint(pool: IndexedSeq[ServedQuery], out: Outcome): Unit = {
      val t0 = System.nanoTime()
      val dels = deleted.toSeq
      val alive = st.corpus.select("doc_id", "text", "embedding")
        .filter(!col("doc_id").isin(dels: _*))
        .unionByName(added.toSeq.map { case (i, (t, v)) => (i, t, v) }
          .toDF("doc_id", "text", "embedding"))
        .cache()
      val newDec = added.keys.toSeq.map(i => (i, 1.0)).toDF("doc_id", "_dec")
      val dec = Fusion.decayFrame(st.corpus, "doc_id", params).get
        .filter(!col("doc_id").isin(dels: _*)).unionByName(newDec)
        .join(factors.toSeq.toDF("doc_id", "_ov"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("_ov"), col("_dec")).as("_dec"))
      val post = Bm25.postings(alive, "doc_id", "text").cache()
      val assigned = Ivf.assignFast(
          alive.select(col("doc_id").as("id"), col("embedding").as("vector")), st.cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket")).cache()
      val r32 = ServingFusion.buildCombined(alive.select("doc_id"), post, "doc_id",
        assigned, Some(dec), numShards = ctx.cores, prebuiltTokenDf = Some(st.tdf),
        frozenStats = Some(st.frozen)).cache()
      val r8 = ServingFusion.buildCombinedInt8(alive.select("doc_id"), post,
        "doc_id", assigned, 1.0, Some(dec), numShards = ctx.cores,
        prebuiltTokenDf = Some(st.tdf), frozenStats = Some(st.frozen)).cache()
      val rng = new scala.util.Random(ctx.seed * 31)
      val sample = Seq.fill(2)(pool(rng.nextInt(pool.size))).distinct
      val tomb = tombRef.get()
      val ov = Streams.overridesArray(ovRef.get())
      sample.foreach { q =>
        val f = ServingFusion.fusedTopKCombined(ref32.get(), st.cents, Seq(q),
          Alpha, K, NProbe, KVec, tombstones = tomb, decOverrides = ov).toSeq
        val fr = ServingFusion.fusedTopKCombined(r32, st.cents, Seq(q),
          Alpha, K, NProbe, KVec).toSeq
        out.check(f == fr, s"fused read of query ${q.qid} differs from the rebuild")
        val m = ServingFusion.mmrTopKCombined(ref32.get(), st.cents,
          Seq((q.qid, q.qvec)), K, MmrPool, NProbe, 0.7, 0.3, tombstones = tomb).toSeq
        val mr = ServingFusion.mmrTopKCombined(r32, st.cents,
          Seq((q.qid, q.qvec)), K, MmrPool, NProbe, 0.7, 0.3).toSeq
        out.check(m == mr, s"mmr read of query ${q.qid} differs from the rebuild")
        val i8 = ServingFusion.fusedTopKCombinedInt8(ref8.get(), st.cents, Seq(q),
          1.0, Alpha, K, NProbe, KVec, tombstones = tomb, decOverrides = ov).toSeq
        val i8r = ServingFusion.fusedTopKCombinedInt8(r8, st.cents, Seq(q),
          1.0, Alpha, K, NProbe, KVec).toSeq
        out.check(i8 == i8r, s"int8 read of query ${q.qid} differs from the rebuild")
      }
      Seq(r32, r8).foreach(_.unpersist())
      Seq(alive, post, assigned).foreach(_.unpersist())
      Main.log(f"checkpoint: ${sample.size} queries x 3 read kinds compared " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }
}
