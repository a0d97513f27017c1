package membench

import org.scalatest.funsuite.AnyFunSuite

/** Spark work is attributed to the span whose local property the job
  * carries, and the derived times stay within the span.
  */
class SpanListenerSpec extends AnyFunSuite with LocalSpark {

  test("a known job is attributed to its span, and only to it") {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, tracing = true)
    try {
      sc.parallelize(1 to 10, 2).count() // outside any span
      tr.span("t.shuffle") {
        Thread.sleep(200) // driver-side work before the job
        sc.parallelize(1 to 1000, 3).map { i => Thread.sleep(1); (i % 7, i) }
          .reduceByKey(_ + _, 2).collect()
      }
      tr.span("t.empty")(Thread.sleep(20))
      val spans = tr.finished().map { case (s, w) => s.op -> (s, w) }.toMap
      val (s, w) = spans("t.shuffle")
      assert(w.jobs == 1)
      assert(w.tasks == 3 + 2, "one map stage of 3 tasks, one reduce stage of 2")
      assert(w.shuffleBytes > 0)
      assert(w.taskRunMs >= 1000 * 0.9, "each of 1000 map records sleeps 1 ms")
      assert(w.driverMs >= 190 && w.driverMs <= s.endMs - s.startMs)
      assert(w.schedDelayMs >= 0 && w.schedDelayMs <= s.endMs - s.startMs)
      val (_, e) = spans("t.empty")
      assert(e.jobs == 0 && e.tasks == 0 && e.taskRunMs == 0)
    } finally tr.detach()
  }

  test("covered time is the union of intervals, clipped to the span") {
    assert(Trace.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30)
    assert(Trace.coveredMs(Seq((0L, 10L), (50L, 200L)), 5, 60) == 15)
    assert(Trace.coveredMs(Nil, 0, 10) == 0)
  }

  test("the critical chain walks back through disjoint intervals") {
    // Two overlapping stages, then a final one: the chain takes the final
    // stage and the later-ending of the two that finished before it.
    val ivs = IndexedSeq((0L, 10L), (2L, 12L), (12L, 20L))
    assert(Trace.criticalChain(ivs) == Seq(2, 1))
    assert(Trace.criticalChain(IndexedSeq.empty) == Nil)
  }
}
