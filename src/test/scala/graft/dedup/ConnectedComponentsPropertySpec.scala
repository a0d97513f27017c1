package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{JobCount, SparkSpec}
import graft.graph.{GraphOps, Regimes}

/** [[Dedup.connectedComponents]] as properties: on random graphs the
  * (id, component) labels must equal a driver-side union-find labelling
  * each component by its minimum id. Covers inputs that already are star
  * forests (either orientation), a single (small, large) pair, duplicates,
  * self-loops, null ids and empty input. Every property runs in both
  * regimes ([[Regimes.agree]]); [[JobCount]] pins the small regime at one
  * job and, with the bound forced to 0, that the distributed loop stops on
  * the round whose output is a star forest.
  */
class ConnectedComponentsPropertySpec extends SparkSpec {

  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Regimes.agree(labels(pairs.toDF("id1", "id2")))

  /** Labels as a map; fails on a node labelled twice. */
  private def labels(pairs: DataFrame): Map[Long, Long] = {
    val rows = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length === rows.length, "one row per node")
    rows.toMap
  }

  /** Union-find over the pairs; self-loops add no node. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    nodes <- Gen.choose(1, 40)
    n <- Gen.choose(0, 50)
    pairs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, nodes.toLong),
      Gen.choose(0L, nodes.toLong)))
  } yield pairs

  /** Disjoint stars: a root joined to its leaves, every leaf larger. */
  private val starForestGen: Gen[Seq[(Long, Long)]] =
    Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, Gen.choose(1, 5)))
      .map(_.zipWithIndex.flatMap { case (leaves, s) =>
        val root = s * 100L + 50L
        (1 to leaves).map(l => (root + l, root))
      })

  test("property: labels == union-find on random graphs") {
    (1 to 25).foreach { i =>
      val pairs = sample(graphGen, i.toLong)
      assert(cc(pairs) === unionFind(pairs), s"seed $i: $pairs")
    }
  }

  test("property: star forests in both orientations, with duplicates") {
    (1 to 8).foreach { i =>
      val star = sample(starForestGen, 100L + i)
      val flipped = star.map(_.swap)
      assert(cc(star) === unionFind(star), s"seed $i: $star")
      assert(cc(flipped) === unionFind(flipped), s"seed $i: $flipped")
      assert(cc(star ++ flipped ++ star) === unionFind(star), s"seed $i")
    }
  }

  test("single pair, self-loops, duplicates and empty input") {
    assert(cc(Seq((3L, 9L))) === Map(3L -> 3L, 9L -> 3L))
    assert(cc(Seq((9L, 3L))) === Map(3L -> 3L, 9L -> 3L))
    assert(cc(Seq((4L, 4L), (4L, 4L))) === Map.empty)
    assert(cc(Seq((1L, 2L), (1L, 2L), (2L, 2L), (2L, 3L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(cc(Seq.empty) === Map.empty)
  }

  test("null ids and ids cast to long") {
    val withNulls = Seq[(java.lang.Long, java.lang.Long)](
      (1L, null), (null, 2L), (null, null), (3L, 4L), (4L, 3L), (5L, 5L))
    assert(Regimes.agree(labels(withNulls.toDF("id1", "id2"))) === Map(3L -> 3L, 4L -> 3L))
    val strings = Seq(("10", "2"), ("7", "10")).toDF("id1", "id2")
    assert(Regimes.agree(labels(strings)) === Map(2L -> 2L, 7L -> 2L, 10L -> 2L))
  }

  test("JobCount: the small regime is one job") {
    val pairs = Seq((1L, 5L), (5L, 7L), (2L, 9L)).toDF("id1", "id2")
    val (got, jobs) = JobCount.withoutAdaptive(spark)(labels(pairs))
    assert(got === Map(1L -> 1L, 5L -> 1L, 7L -> 1L, 2L -> 2L, 9L -> 2L))
    assert(jobs === 1)
  }

  test("JobCount: the loop stops on the round that yields a star forest") {
    // Bound 0: the distributed loop. Jobs = one termination test on the
    // input, one per round (the star steps' per-node minima are windows
    // inside the round's test job), and the final collect.
    def distributed(pairs: Seq[(Long, Long)]) = GraphOps.withLocalEdgeLimit(0)(
      JobCount.withoutAdaptive(spark)(labels(pairs.toDF("id1", "id2"))))
    // Already a star forest (child > root): no round at all.
    val (star, starJobs) = distributed(Seq((5L, 1L), (7L, 1L), (9L, 2L)))
    assert(star === Map(1L -> 1L, 5L -> 1L, 7L -> 1L, 2L -> 2L, 9L -> 2L))
    assert(starJobs === 2)
    // Root-first orientation: one round turns it into a star forest.
    val (one, oneJobs) = distributed(Seq((1L, 5L), (1L, 7L), (2L, 9L)))
    assert(one === star)
    assert(oneJobs === 3)
  }
}
