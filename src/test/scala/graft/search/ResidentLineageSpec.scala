package graft.search

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{JobCount, SparkSpec}
import graft.search.ServingFusion.{CombinedShard, ServedQuery}
import graft.text.Bm25

/** Every long-lived serving structure is resident ([[graft.core.Resident]]):
  * once its first action has run, its lineage is cut, so what a read's task
  * binary carries of it is a few KB, not the SQL plans and builder
  * closures it was built from (with its lineage, a combined base
  * serializes to ~100 KB, an f32 IVF index to ~40 KB, and a served union
  * adds each segment's on top). Measured with the closure serializer the
  * scheduler builds task binaries with, against one fixed bound for all.
  */
class ResidentLineageSpec extends SparkSpec {
  import spark.implicits._

  private val Bound = 16 * 1024
  private val Dim = 32

  private val Words = Array("spark", "join", "plan", "scan", "filter",
    "window", "stream", "state", "hash", "probe", "shuffle", "stage")

  private def vec(i: Long): Array[Float] = {
    val raw = Array.tabulate(Dim)(j => math.sin(i * 0.37 + j * 1.1).toFloat)
    val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private def docs(from: Long, until: Long): DataFrame =
    (from until until).map { i =>
      (i, (0 until 6).map(j => Words(((i * 7 + j * 5) % Words.length).toInt))
        .mkString(" "), vec(i))
    }.toDF("doc_id", "text", "embedding")

  /** 64 centroids: a segment's builder closure holds them (8 KB of floats),
    * which a resident segment must not carry into the union either.
    */
  private lazy val cents: Array[Array[Float]] =
    Array.tabulate(64)(c => vec(10000L + c))

  private lazy val baseDocs = docs(0L, 160L).cache()
  private lazy val post = Bm25.postings(baseDocs, "doc_id", "text").cache()
  private lazy val tdf = { val t = Bm25.tokenDf(post).cache(); t.count(); t }
  private lazy val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
    baseDocs.select(col("doc_id")), post, "doc_id"))

  private def assigned(df: DataFrame): DataFrame =
    Ivf.assignFast(df.select(col("doc_id").as("id"),
      col("embedding").as("vector")), cents)

  private def base[S <: ServingFusion.CombinedBlocks](
      implicit codec: VecCodec[S]): RDD[S] =
    ServingFusion.buildCombined(baseDocs.select(col("doc_id")), post,
      "doc_id", assigned(baseDocs).select(col("id").as("doc_id"),
        col("vector"), col("bucket")),
      numShards = 4, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))(codec)

  private def bytes(rdd: RDD[_]): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(rdd).limit()

  private def materialized[T](rdd: RDD[T]): RDD[T] = {
    rdd.cache(); rdd.count(); rdd
  }

  private def assertResident(what: String, rdd: RDD[_]): Unit = {
    val b = bytes(rdd)
    assert(b < Bound, s"$what serializes to $b bytes after its first action")
  }

  private lazy val query = ServedQuery(0L, vec(3L), Array(("join", 1), ("spark", 1)))

  private def served[S <: ServingFusion.CombinedBlocks](ix: RDD[S])(
      implicit codec: VecCodec[S]): Seq[(Long, Long, Double)] =
    ServingFusion.fusedTopKCombined(ix, cents, Seq(query), 0.6, 5,
      nProbe = 8, kVec = 5)(codec).toSeq

  test("a combined base is resident after its first action, both codecs") {
    val b32 = materialized(base[CombinedShard])
    val b8 = materialized(base(VecCodec.Int8(1.0)))
    assertResident("the f32 combined base", b32)
    assertResident("the int8 combined base", b8)
    assert(served(b32).nonEmpty)
    b32.unpersist(); b8.unpersist()
  }

  test("the first action materializes and cuts in one job") {
    val (jobs, _) = JobCount.withoutAdaptive(spark) {
      val ix = base[CombinedShard].cache()
      val (_, n) = JobCount(spark)(ix.count())
      assertResident("the f32 combined base", ix)
      ix.unpersist()
      n
    }
    assert(jobs === 1)
  }

  test("a union of appended segments, a compaction and a snapshot stay resident") {
    val b = materialized(base[CombinedShard])
    val segs = (0 until 3).map { i =>
      materialized(ServingFusion.buildSegment(docs(1000L + 10 * i,
        1010L + 10 * i), "doc_id", "text", "embedding", cents, frozen, tdf))
    }
    val union = segs.foldLeft(b)(_ union _)
    val before = served(union)
    assert(before.nonEmpty)
    assertResident("a base with three appended segments", union)
    val compacted = materialized(ServingFusion.compactCombined(union,
      tombstones = Array(before.head._2), numPartitions = 2))
    assertResident("a compacted union", compacted)
    assert(!served(compacted).map(_._2).contains(before.head._2))
    val dir = java.nio.file.Files.createTempDirectory("resident-snap").toString
    try {
      ServingFusion.saveCombined(union, dir, frozen, tdf)
      val loaded = materialized(
        ServingFusion.loadCombined(spark, dir, numShards = 2).index)
      assertResident("a loaded snapshot", loaded)
      assert(served(loaded) === before)
      loaded.unpersist()
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    (b +: compacted +: segs).foreach(_.unpersist())
  }

  test("every IVF index and the binary index are resident") {
    val a = assigned(baseDocs).cache()
    val cb = Array.tabulate(4, 16)((s, c) =>
      Array.tabulate(Dim / 4)(j => math.cos(s + c * 0.5 + j).toFloat))
    val ixs: Seq[(String, RDD[_])] = Seq(
      "servingIndex" -> materialized(Ivf.servingIndex(a)),
      "servingIndexInt8" -> materialized(Ivf.servingIndexInt8(a, 1.0)),
      "servingIndexF16" -> materialized(Ivf.servingIndexF16(a)),
      "servingIndexPqResidual" -> materialized(
        Pq.servingIndexPqResidual(a, cents, cb)),
      "servingIndexBinary" -> materialized(VectorSearch.servingIndexBinary(a)))
    ixs.foreach { case (name, ix) => assertResident(name, ix) }
    ixs.foreach(_._2.unpersist())
    a.unpersist()
  }

  test("reading an unpersisted resident index fails instead of recomputing") {
    val ix = materialized(base[CombinedShard])
    assert(served(ix).nonEmpty)
    ix.unpersist(blocking = true)
    val e = intercept[Exception](served(ix))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("Checkpoint block"), msgs)
  }
}
