package graft.search

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{JobCount, SparkSpec}
import graft.queries.FusionQueries
import graft.search.Decay.MemoryConfig

/** The one-pass default path of [[Fusion.searchWithFusionBatch]] as a
  * property: on random batches it must equal the DataFrame plan
  * ([[Fusion.searchWithFusionBatchPlan]]) query by query. The batches
  * cover empty and null text, all-stopword and repeated query tokens,
  * exact score ties (duplicated docs), decay on and off, a `filter`, an
  * `allowList`, null and zero vectors, out-of-range alpha, and cosine
  * narrow/wide plus euclidean. Fixed seeds; failures reproduce exactly.
  *
  * The comparison is ServingFusionSpec's score-principled one: the plan's
  * aggregate sums a doc's term scores in shuffle order while the pass sums
  * them in sorted token order, so per-id scores agree within 1e-9 and an
  * id on one side only must sit within that tolerance of the other side's
  * k-th score (a near-tie at the boundary).
  */
class BatchFusionPropertySpec extends SparkSpec {

  private val Words = Seq("spark", "join", "plan", "scan", "filter",
    "window", "stream", "hash", "vector", "merge", "the", "and", "of")
  private val Stop = Seq("the", "and", "of", "a")

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("tag", StringType),
    StructField("_created_at", DoubleType),
    StructField("_last_accessed", DoubleType),
    StructField("_pinned", BooleanType),
    StructField("memory_layer", StringType),
    StructField("_decay_model", StringType),
    StructField("_access_count", DoubleType)))

  private final case class Case(table: DataFrame, queries: DataFrame,
      params: Fusion.FusionParams, filter: Option[Column],
      allowList: Option[DataFrame], label: String)

  /** One random batch. Every fourth doc copies an earlier doc's text,
    * vector and metadata, so fused scores tie exactly and rank by id.
    */
  private def randomCase(seed: Long): Case = {
    // Nearby seeds start java.util.Random on correlated draws: mix first.
    val rng = new Random(seed * 0x9E3779B97F4A7C15L)
    val metric = Seq(("cosine", false), ("cosine", true), ("euclidean", false),
      ("euclidean", true))((seed % 4).toInt)
    val dim = 2 + rng.nextInt(4)
    def text(): String = rng.nextInt(10) match {
      case 0 => null
      case 1 => ""
      case 2 => Seq.fill(1 + rng.nextInt(3))(Stop(rng.nextInt(Stop.size))).mkString(" ")
      case _ => Seq.fill(1 + rng.nextInt(8))(Words(rng.nextInt(Words.size))).mkString(" ")
    }
    def vector(zeroOk: Boolean): Array[Float] = rng.nextInt(10) match {
      case 0 => null
      case 1 if zeroOk => Array.fill(dim)(0f)
      case _ => Array.fill(dim)(rng.nextInt(9) / 4f - 1f)
    }
    // Wide cosine divides by the norms: the plan errors on a zero vector.
    val zeroOk = metric != (("cosine", true))
    val base = FusionQueries.Now.toDouble
    val nDocs = 8 + rng.nextInt(30)
    val ids = rng.shuffle((1L to (nDocs * 3).toLong).toList).take(nDocs)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    ids.zipWithIndex.foreach { case (id, i) =>
      if (i % 4 == 3) {
        val src = rows(rng.nextInt(rows.size))
        rows += Row.fromSeq(id +: src.toSeq.tail)
      } else rows += Row(id, text(), vector(zeroOk),
        Seq("a", "b", "x", null)(rng.nextInt(4)),
        if (rng.nextInt(8) == 0) null else base - rng.nextInt(60) * 86400.0,
        if (rng.nextInt(3) == 0) null else base - rng.nextInt(30) * 86400.0,
        rng.nextInt(6) == 0,
        Seq("episodic", "semantic", "procedural", null)(rng.nextInt(4)),
        Seq("exponential", "linear", "step", "ebbinghaus", null)(rng.nextInt(5)),
        rng.nextInt(5).toDouble)
    }
    val table = spark.createDataFrame(spark.sparkContext.parallelize(
      rng.shuffle(rows.toList), 1 + rng.nextInt(4)), schema)

    val nq = 1 + rng.nextInt(5)
    val qids = rng.shuffle((0L until 20L).toList).take(nq)
    val queries = spark.createDataFrame(spark.sparkContext.parallelize(
      qids.map { q =>
        val qt = rng.nextInt(6) match {
          case 0 => "the and of"                    // all stopwords
          case 1 => "join join plan unseen"         // repeated + unknown token
          case _ => Seq.fill(1 + rng.nextInt(4))(Words(rng.nextInt(Words.size))).mkString(" ")
        }
        Row(q, Array.fill(dim)(rng.nextInt(9) / 4f - 1f + 0.125f), qt)
      }, 2), StructType(Seq(StructField("qid", LongType),
        StructField("qvec", ArrayType(FloatType)), StructField("qtext", StringType))))

    val memory =
      if (rng.nextBoolean()) FusionQueries.memCfg
      else MemoryConfig(enabled = false)
    val alpha = Seq(0.0, 0.3, 0.6, 1.0, 1.7, -0.2)(rng.nextInt(6))
    val params = Fusion.FusionParams(alpha = alpha, k = 1 + rng.nextInt(6),
      metric = metric._1, memory = memory, now = FusionQueries.Now,
      wide = metric._2)
    val filter = if (rng.nextInt(3) == 0) Some(col("tag") =!= "x") else None
    val allowList =
      if (rng.nextInt(3) == 0) {
        import spark.implicits._
        Some(rng.shuffle(ids).take(nDocs / 2).toDF("doc_id"))
      } else None
    Case(table, queries, params, filter, allowList,
      s"seed=$seed metric=$metric alpha=$alpha k=${params.k} " +
        s"decay=${memory.enabled} filter=${filter.nonEmpty} allow=${allowList.nonEmpty}")
  }

  private def rows(df: DataFrame): Map[Long, Map[Long, Double]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => r._2 -> r._3).toMap }

  private def assertMatches(onePass: Map[Long, Map[Long, Double]],
      plan: Map[Long, Map[Long, Double]], label: String): Unit = {
    def tol(x: Double): Double = 1e-9 * math.max(1.0, math.abs(x))
    assert(onePass.keySet === plan.keySet, s"$label: qids")
    onePass.foreach { case (qid, o) =>
      val p = plan(qid)
      assert(o.size === p.size, s"$label qid=$qid sizes: $o vs $p")
      for ((id, s) <- o; ps <- p.get(id))
        assert(math.abs(s - ps) <= tol(ps), s"$label qid=$qid id=$id: $s vs $ps")
      val pMin = p.values.min
      val oMin = o.values.min
      for (id <- o.keySet.diff(p.keySet))
        assert(math.abs(o(id) - pMin) <= tol(pMin),
          s"$label qid=$qid one-pass-only id=$id ${o(id)} not at plan k-th $pMin")
      for (id <- p.keySet.diff(o.keySet))
        assert(math.abs(p(id) - oMin) <= tol(oMin),
          s"$label qid=$qid plan-only id=$id ${p(id)} not at one-pass k-th $oMin")
    }
  }

  test("property: the one-pass path equals the DataFrame plan on random batches") {
    val seeds = 1L to 30L
    val kinds = seeds.map { seed =>
      val c = randomCase(seed)
      val onePass = rows(Fusion.searchWithFusionBatch(c.table, "doc_id",
        "embedding", "text", c.queries, c.params, c.filter, c.allowList))
      val plan = rows(Fusion.searchWithFusionBatchPlan(c.table, "doc_id",
        "embedding", "text", c.queries, c.params, c.filter, c.allowList))
      assertMatches(onePass, plan, c.label)
      (c.params.metric, c.params.wide, c.params.memory.enabled,
        c.filter.nonEmpty, c.allowList.nonEmpty)
    }
    // The seeds reach every metric and both decay settings, filters and
    // allow-lists.
    assert(kinds.map(k => (k._1, k._2)).toSet.size === 4)
    assert(kinds.map(_._3).toSet === Set(true, false))
    assert(kinds.exists(_._4) && kinds.exists(_._5))
  }

  test("zero-token queries fuse to alpha * vscore on both paths") {
    import spark.implicits._
    val t = Seq((1L, "spark join", Array(1f, 0f)), (2L, "plan", Array(0f, 1f)))
      .toDF("doc_id", "text", "embedding")
    val q = Seq((7L, Array(1f, 0f), "the and of")).toDF("qid", "qvec", "qtext")
    val p = Fusion.FusionParams(alpha = 0.6, k = 2, metric = "euclidean")
    val got = rows(Fusion.searchWithFusionBatch(t, "doc_id", "embedding",
      "text", q, p))
    // Decay off: dec = 1. Squared euclidean distances 0 and 2.
    assert(got.keySet === Set(7L) && got(7L).keySet === Set(1L, 2L))
    assert(math.abs(got(7L)(1L) - 0.6) <= 1e-12)
    assert(math.abs(got(7L)(2L) - 0.6 / 3.0) <= 1e-12)
    assertMatches(got, rows(Fusion.searchWithFusionBatchPlan(t, "doc_id",
      "embedding", "text", q, p)), "zero-token")
  }

  test("JobCount: the default path runs in three jobs") {
    val c = randomCase(3L)
    val table = c.table.cache()
    table.count()
    val (res, jobs) = JobCount.withoutAdaptive(spark)(
      Fusion.searchWithFusionBatch(table, "doc_id", "embedding", "text",
        c.queries, c.params.copy(memory = FusionQueries.memCfg), c.filter)
        .collect())
    assert(res.nonEmpty)
    // Query collect, token statistics, scoring pass (its partial merge);
    // the result is a local frame, so collecting it runs no job.
    assert(jobs === 3)
    table.unpersist()
  }
}
