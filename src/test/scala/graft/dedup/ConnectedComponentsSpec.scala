package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.{GraphOps, Regimes}

/** Large-star/small-star connected components: labels must equal the
  * component minimum for every member, across shapes that stress the
  * algorithm differently — chains (worst-case diameter), stars (already
  * converged), forests (no cross-component bleed), and an adversarial
  * long path that only converges through the O(log n) doubling. Each case
  * runs in both regimes ([[Regimes.agree]]).
  */
class ConnectedComponentsSpec extends SparkSpec {

  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Regimes.agree(Dedup.connectedComponents(pairs.toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap)

  test("two components + chain: every node labeled with component min") {
    // {1,2,3,4} as a chain, {10,11,12} as a triangle, edge dup/reversed.
    val got = cc(Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("long path (128 nodes) converges to a single min label") {
    val got = cc((0L until 127L).map(i => (i, i + 1)))
    assert(got.size === 128)
    assert(got.values.forall(_ === 0L))
  }

  test("descending-id path — min at the far end") {
    val got = cc((0L until 63L).map(i => (1000L - i, 1000L - i - 1)))
    assert(got.size === 64)
    assert(got.values.forall(_ === 937L))
  }

  test("self-loops and empty input are harmless") {
    assert(cc(Seq((5L, 5L))) === Map.empty)
    assert(cc(Seq.empty) === Map.empty)
  }

  test("an overflowing fetch leaves the pair list computed once") {
    // The distributed loop must read what the probe job computed, not
    // plan the pair list's upstream again.
    val evaluated = spark.sparkContext.longAccumulator("pairs evaluated")
    val tally = udf { (x: Long) => evaluated.add(1); x }.asNondeterministic()
    val pairs = (0L until 100L).map(i => (i, i + 1)).toDF("id1", "id2")
      .repartition(4)
      .select(tally(col("id1")).as("id1"), col("id2"))
    val got = GraphOps.withLocalEdgeLimit(1)(
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap)
    assert(got.size === 101 && got.values.forall(_ === 0L))
    assert(evaluated.value === 100L)
  }

  test("forest of pairs: labels never bleed across components") {
    val pairs = (0L until 40L by 2L).map(i => (i + 1, i))
    val got = cc(pairs)
    assert(got.size === 40)
    (0L until 40L by 2L).foreach { i =>
      assert(got(i) === i && got(i + 1) === i)
    }
  }
}
