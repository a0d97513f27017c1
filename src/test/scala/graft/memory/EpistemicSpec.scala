package graft.memory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Mirrors `pkg/engine/epistemic_test.go` edge cases. */
class EpistemicSpec extends SparkSpec {

  import spark.implicits._

  private def nodes(rows: Seq[(Long, Seq[Float], Double, Int, Boolean)]): DataFrame =
    rows.toDF("id", "vector", "created_at", "access_count", "is_historical")
      .withColumn("vector", col("vector").cast("array<float>"))

  private def edges(rows: Seq[(String, Long, String, Long, Option[Long])]): DataFrame =
    rows.toDF("src", "dst", "rel", "created_at", "deleted_at")

  private val noEdges = edges(Seq.empty)
  private def q(v: Seq[Float]): DataFrame =
    Seq(Tuple1(v)).toDF("qvec").withColumn("qvec", col("qvec").cast("array<float>"))

  private val now = 1000000.0

  test("single candidate → consensus 1, variance 0") {
    val r = Epistemic.beliefState(
      nodes(Seq((1L, Seq(1f, 0f), now - 86400, 0, false))),
      noEdges, q(Seq(1f, 0f)), k = 5, now = now).collect().head
    assert(r.getAs[Double]("consensus") === 1.0)
    assert(r.getAs[Double]("variance") === 0.0)
    assert(r.getAs[Long]("contradictions") === 0L)
    assert(r.getAs[String]("state") != null)
  }

  test("identical vectors → consensus 1 (maxVar epsilon path)") {
    val v = Seq(0.6f, 0.8f)
    val r = Epistemic.beliefState(
      nodes(Seq((1L, v, now - 3600, 5, false), (2L, v, now - 7200, 3, false),
        (3L, v, now - 1800, 1, false))),
      noEdges, q(v), k = 5, now = now).collect().head
    assert(r.getAs[Double]("consensus") === 1.0)
  }

  test("historical nodes excluded from pillars") {
    val r = Epistemic.beliefState(
      nodes(Seq(
        (1L, Seq(1f, 0f), now - 3600, 0, false),
        (2L, Seq(1f, 0f), now - 3600, 0, true))), // historical twin
      noEdges, q(Seq(1f, 0f)), k = 5, now = now).collect().head
    assert(r.getAs[Long]("n_sources") === 1L)
  }

  test("friction floors at 0 and forces contested state") {
    val e = edges((1 to 6).map(i => (s"x$i", 1L, "invalidates", 0L, None)))
    val r = Epistemic.beliefState(
      nodes(Seq((1L, Seq(1f, 0f), now - 3600, 0, false))),
      e, q(Seq(1f, 0f)), k = 5, now = now).collect().head
    assert(r.getAs[Double]("friction") === 0.0) // 1 - 6*0.5 clamped
    assert(r.getAs[Long]("invalidations") === 6L)
    assert(r.getAs[String]("state") === "contested")
  }

  test("soft-deleted negative edges don't count at now") {
    val e = edges(Seq(("x", 1L, "contradicts", 0L, Some(500000L))))
    val r = Epistemic.beliefState(
      nodes(Seq((1L, Seq(1f, 0f), now - 3600, 0, false))),
      e, q(Seq(1f, 0f)), k = 5, now = now).collect().head
    assert(r.getAs[Long]("contradictions") === 0L)
    assert(r.getAs[Double]("friction") === 1.0)
  }

  test("ebbinghaus stability: higher access count decays slower") {
    val age = 40.0 * 24 * 3600 // 40 days
    def stab(access: Int): Double = Epistemic.beliefState(
      nodes(Seq((1L, Seq(1f, 0f), now - age, access, false))),
      noEdges, q(Seq(1f, 0f)), k = 5, now = now)
      .collect().head.getAs[Double]("stability")
    assert(stab(10) > stab(0))
    val expected = math.exp(-age / (Epistemic.BaseHalfLife * (1.0 + math.log1p(10))))
    assert(math.abs(stab(10) - expected) < 1e-12)
  }

  /** Chain rows (root, node, pos) with the root column's type, sorted,
    * in every regime.
    */
  private def chainRows(e: DataFrame, roots: DataFrame, maxDepth: Int = 4) =
    graft.graph.Regimes.agree {
      val t = Epistemic.evolutionChainT(e, roots, maxDepth)
      val rows = t.result.collect()
        .map(r => (String.valueOf(r.get(0)), r.getAs[String]("node"), r.getAs[Long]("pos")))
        .toSeq.sortBy(r => (r._1, r._3, Option(r._2)))
      t.release()
      (t.result.schema("root").dataType, rows)
    }

  private def chainEdges(pairs: (String, String)*): DataFrame =
    pairs.toDF("src", "dst").select(col("src"), col("dst"),
      lit("superseded_by").as("rel"), lit(0L).as("created_at"),
      lit(null).cast("long").as("deleted_at"))

  test("evolution chain follows superseded_by only while edges are live") {
    val e = edges(Seq(
      ("a", 0L, "superseded_by", 0L, None),
      ("b", 0L, "superseded_by", 0L, None),
      ("c", 0L, "superseded_by", 0L, Some(5L))))
      .withColumn("dst", when(col("src") === "a", "b")
        .when(col("src") === "b", "c").otherwise("d"))
    val (_, chain) = chainRows(e, Seq("a").toDF("root"))
    assert(chain === Seq(("a", "a", 0L), ("a", "b", 1L), ("a", "c", 2L)))
  }

  test("evolution chain: duplicate edges emit once per edge, cycles unroll") {
    val e = chainEdges("a" -> "b", "a" -> "b", "b" -> "c", "x" -> "y", "y" -> "x")
    val (_, chain) = chainRows(e, Seq("a", "x").toDF("root"), maxDepth = 3)
    assert(chain === Seq(("a", "a", 0L), ("a", "b", 1L), ("a", "b", 1L),
      ("a", "c", 2L), ("a", "c", 2L),
      ("x", "x", 0L), ("x", "y", 1L), ("x", "x", 2L), ("x", "y", 3L)))
  }

  test("evolution chain: a long root keeps its type; null roots and ends") {
    val e = chainEdges("7" -> "7b", "7b" -> null, (null, "7"), "9" -> "9")
    val (rootType, chain) = chainRows(e,
      Seq(Some(7L), None, Some(9L)).toDF("root"), maxDepth = 2)
    assert(rootType === org.apache.spark.sql.types.LongType)
    assert(chain === Seq(("7", "7", 0L), ("7", "7b", 1L), ("7", null, 2L),
      ("9", "9", 0L), ("9", "9", 1L), ("9", "9", 2L), ("null", null, 0L)))
  }

  test("evolution chain: one Spark job in the small regime") {
    val e = chainEdges("a" -> "b", "b" -> "c")
    val roots = Seq("a").toDF("root")
    val (rows, jobs) = graft.JobCount.withoutAdaptive(spark)(
      Epistemic.evolutionChain(e, roots, maxDepth = 4).collect())
    assert(rows.length === 3)
    assert(jobs === 1)
  }

  test("evolution chain: the distributed regime releases its level blocks") {
    val sc = spark.sparkContext
    val e = chainEdges("a" -> "b", "b" -> "c")
    val roots = Seq("a", "b").toDF("root")
    val before = sc.getPersistentRDDs.keySet
    val t = graft.graph.GraphOps.withLocalEdgeLimit(0)(
      Epistemic.evolutionChainT(e, roots, maxDepth = 3))
    assert(t.result.collect().length === 5)
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "the distributed regime cached no level")
    t.release()
    assert(sc.getPersistentRDDs.keySet === before)
  }
}
