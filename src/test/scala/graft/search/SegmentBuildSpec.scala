package graft.search

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{JobCount, SparkSpec}
import graft.search.ServingFusion.{CombinedShard, CombinedShardInt8, ServedQuery}
import graft.streaming.Streams
import graft.text.{Analyzer, Bm25}

/** The one-pass frozen-stats segment build ([[ServingFusion.buildSegment]])
  * against the full build it replaces for streaming segments:
  * `base ∪ buildSegment(batch)` must hold the same per-doc postings,
  * weights and vectors as `buildCombined(base ∪ batch)` under the same
  * frozen artifacts, and serve bit-identical fused, MMR and int8 results
  * — for both codecs, at one and three shards per segment, over a batch
  * with empty, null and all-stopword text, repeated tokens, tokens the
  * frozen token-df lacks, and a null vector.
  */
class SegmentBuildSpec extends SparkSpec {
  import spark.implicits._

  private val Words = Array("spark", "join", "plan", "scan", "filter",
    "window", "stream", "state", "hash", "probe")
  private val AbsMax = 1.0

  private def vec(i: Long): Array[Float] = {
    val raw = Array.tabulate(4)(j => (math.sin(i * (j + 1)) + 1.5).toFloat)
    val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private val baseRows: Seq[(Long, String, Array[Float])] = (0L until 12L).map { i =>
    (i, (0 until 5).map(j => Words(((i + j * 3) % 10).toInt)).mkString(" "), vec(i))
  }

  /** The edge cases a micro-batch can carry. */
  private val batchRows: Seq[(Long, String, Array[Float])] = Seq(
    (100L, "", vec(100)),
    (101L, "the of and to", vec(101)),
    (102L, "spark spark spark join Spark", vec(102)),
    (103L, "zebra quux spark zebra", vec(103)),
    (104L, null, vec(104)),
    (105L, "window streams state", null),
    (106L, "probe hash hashing filter", vec(106)))

  private def frame(rows: Seq[(Long, String, Array[Float])]): DataFrame =
    rows.toDF("doc_id", "text", "embedding")

  private lazy val baseDocs = frame(baseRows)
  private lazy val batchDocs = frame(batchRows)
  private lazy val allDocs = frame(baseRows ++ batchRows)

  private def assigned(df: DataFrame, cents: Array[Array[Float]]): DataFrame =
    Ivf.assignFast(df.filter(col("embedding").isNotNull)
        .select(col("doc_id").as("id"), col("embedding").as("vector")), cents)
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))

  private lazy val cents = Ivf.trainKMeansArrays(
    baseDocs.select(col("doc_id").as("id"), col("embedding").as("vector")), 3,
    iters = 2)
  private lazy val basePost = Bm25.postings(baseDocs, "doc_id", "text")
  private lazy val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
    baseDocs.select(col("doc_id")), basePost, "doc_id"))
  private lazy val tdf = { val t = Bm25.tokenDf(basePost).cache(); t.count(); t }

  private def full(docs: DataFrame): RDD[CombinedShard] =
    ServingFusion.buildCombined(docs.select(col("doc_id")),
      Bm25.postings(docs, "doc_id", "text"), "doc_id", assigned(docs, cents),
      numShards = 2, prebuiltTokenDf = Some(tdf), frozenStats = Some(frozen))

  private def fullInt8(docs: DataFrame): RDD[CombinedShardInt8] =
    ServingFusion.buildCombined(docs.select(col("doc_id")),
      Bm25.postings(docs, "doc_id", "text"), "doc_id", assigned(docs, cents),
      numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))(VecCodec.Int8(AbsMax))

  /** Per doc: decay factor, postings as (token, raw weight bits) and the
    * vector payload (bucket plus raw bits) — exact, layout-free.
    */
  private type DocView = (Double, Seq[(String, Long)], Option[(Long, Seq[Int])])

  /** One shard's docs; `payload(r)` is vector row r's raw bits. */
  private def view(sh: ServingFusion.Shard, buckets: Array[Long],
      bOff: Array[Int], vecLocal: Array[Int])(
      payload: Int => Seq[Int]): Seq[(Long, DocView)] = {
    val text = sh.tokens.indices.flatMap { s =>
      (sh.offsets(s) until sh.offsets(s + 1)).map(e =>
        sh.docIx(e) -> (sh.tokens(s), java.lang.Double.doubleToRawLongBits(sh.w(e))))
    }.groupBy(_._1).map { case (li, xs) => li -> xs.map(_._2).sorted }
    val rows = buckets.indices.flatMap(b =>
      (bOff(b) until bOff(b + 1)).map(r => vecLocal(r) -> (buckets(b), r))).toMap
    sh.ids.indices.map { li =>
      sh.ids(li) -> ((sh.dec(li), text.getOrElse(li, Nil),
        rows.get(li).map { case (b, r) => (b, payload(r)) }))
    }
  }

  private def docsOf(ix: RDD[CombinedShard]): Map[Long, DocView] =
    ix.collect().flatMap(c => view(c.text, c.buckets, c.bOff, c.vecLocal)(r =>
      c.flat.slice(r * c.dim, (r + 1) * c.dim)
        .map(java.lang.Float.floatToRawIntBits).toSeq)).toMap

  private def docsOfInt8(ix: RDD[CombinedShardInt8]): Map[Long, DocView] =
    ix.collect().flatMap(c => view(c.text, c.buckets, c.bOff, c.vecLocal)(r =>
      c.codes.slice(r * c.dim, (r + 1) * c.dim).map(_.toInt).toSeq :+
        java.lang.Float.floatToRawIntBits(c.norms(r)))).toMap

  private lazy val queries: Seq[ServedQuery] =
    Seq("spark join plan", "zebra window state", "hash probe filter", "")
      .zipWithIndex.map { case (t, i) =>
        ServedQuery(i.toLong, vec(200L + i), Analyzer.analyze(t, "english")
          .groupBy(identity).map { case (tok, g) => (tok, g.size) }
          .toArray.sortBy(_._1))
      }

  private def serveF32(ix: RDD[CombinedShard]) = (
    ServingFusion.fusedTopKCombined(ix, cents, queries, alpha0 = 0.6, k = 6,
      nProbe = 2, kVec = 4).toSeq,
    ServingFusion.mmrTopKCombined(ix, cents, queries.map(q => (q.qid, q.qvec)),
      k = 4, pool = 8, nProbe = 3, lam = 0.7, oneMinusLam = 0.3).toSeq)

  private def serveInt8(ix: RDD[CombinedShardInt8]) = (
    ServingFusion.fusedTopKCombined(ix, cents, queries,
      alpha0 = 0.6, k = 6, nProbe = 2, kVec = 4)(VecCodec.Int8(AbsMax)).toSeq,
    ServingFusion.mmrTopKCombined(ix, cents,
      queries.map(q => (q.qid, q.qvec)), k = 4, pool = 8, nProbe = 3,
      lam = 0.7, oneMinusLam = 0.3)(VecCodec.Int8(AbsMax)).toSeq)

  for (shards <- Seq(1, 3)) {
    test(s"f32 segment at $shards shard(s): base ∪ segment == full rebuild") {
      val base = full(baseDocs).cache()
      val seg = ServingFusion.buildSegment(batchDocs, "doc_id", "text",
        "embedding", cents, frozen, tdf, numShards = shards)(
        VecCodec.F32).cache()
      assert(seg.getNumPartitions === shards)
      val live = base.union(seg)
      val rebuilt = full(allDocs)
      val got = docsOf(live)
      assert(got === docsOf(rebuilt))
      // The edge cases land as the full build lands them.
      assert(got(100L)._2.isEmpty && got(101L)._2.isEmpty && got(104L)._2.isEmpty)
      assert(got(105L)._3.isEmpty && got(105L)._2.nonEmpty)
      assert(!got(103L)._2.exists(_._1 == "zebra"),
        "a token absent from the frozen token-df gets no posting")
      assert(got(102L)._2.map(_._1) === Seq("join", "spark"))
      val served = serveF32(live)
      assert(served === serveF32(rebuilt))
      assert(served._1.exists(_._2 >= 100L), "a segment doc must serve")
      base.unpersist(); seg.unpersist()
    }

    test(s"int8 segment at $shards shard(s): base ∪ segment == full rebuild") {
      val base = fullInt8(baseDocs).cache()
      val seg = ServingFusion.buildSegment(batchDocs, "doc_id", "text",
        "embedding", cents, frozen, tdf, numShards = shards)(
        VecCodec.Int8(AbsMax)).cache()
      val live = base.union(seg)
      val rebuilt = fullInt8(allDocs)
      assert(docsOfInt8(live) === docsOfInt8(rebuilt))
      assert(serveInt8(live) === serveInt8(rebuilt))
      base.unpersist(); seg.unpersist()
    }

    test(s"an ingest micro-batch at $shards shard(s) runs at most 5 jobs, both codecs") {
      val log = java.nio.file.Files.createTempDirectory("segment-jobs").toString
      val ref32 = new AtomicReference[RDD[CombinedShard]](full(baseDocs).cache())
      val ref8 = new AtomicReference[RDD[CombinedShardInt8]](fullInt8(baseDocs).cache())
      ref32.get().count(); ref8.get().count()
      val (_, jobs32) = JobCount(spark) {
        Streams.ingestCombinedBatch(batchDocs, 0L, "doc_id", "text",
          "embedding", cents, frozen, tdf, ref32, numShardsPerSegment = shards,
          segmentLog = Some(s"$log/f32"), idWatermark = Some(new AtomicLong(11L)))
      }
      val (_, jobs8) = JobCount(spark) {
        Streams.ingestCombinedBatch(batchDocs, 0L, "doc_id", "text",
          "embedding", cents, frozen, tdf, ref8,
          numShardsPerSegment = shards, segmentLog = Some(s"$log/int8"),
          idWatermark = Some(new AtomicLong(11L)))(VecCodec.Int8(AbsMax))
      }
      info(s"jobs per micro-batch: f32 $jobs32, int8 $jobs8")
      assert(jobs32 <= 5, s"f32 ingest ran $jobs32 jobs")
      assert(jobs8 <= 5, s"int8 ingest ran $jobs8 jobs")
      assert(docsOf(ref32.get()) === docsOf(full(allDocs)))
      assert(docsOfInt8(ref8.get()) === docsOfInt8(fullInt8(allDocs)))
    }
  }

  test("termWeightOf is bit-identical to the termWeight column on a grid") {
    val n = 100L
    val grid = for {
      tf <- Seq(1L, 2L, 3L, 7L, 40L)
      df <- Seq(1L, 2L, 9L, 50L, 99L, 100L)
      dl <- Seq(1L, 3L, 12L, 41L, 500L)
      avgDl <- Seq(1.0, 3.7, 12.25, 77.0 / 3.0)
    } yield (tf, df, dl, n, avgDl)
    // Repartitioned so the column is evaluated by generated code over a
    // real scan, not folded on a local relation.
    val got = grid.toDF("tf", "df", "dl", "total_docs", "avg_dl")
      .repartition(3)
      .select(col("tf"), col("df"), col("dl"), col("avg_dl"),
        Bm25.termWeight.as("w"))
      .collect()
    assert(got.length === grid.length)
    got.foreach { r =>
      val want = Bm25.termWeightOf(r.getLong(0), r.getLong(1), r.getLong(2), n,
        r.getDouble(3))
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(4)) ===
        java.lang.Double.doubleToRawLongBits(want), s"at $r: ${r.getDouble(4)} vs $want")
    }
  }
}
