package membench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side replay that gates `oplog.fold` agrees with the engine. */
class FoldReferenceSpec extends AnyFunSuite with LocalSpark {

  test("oplog.fold equals the driver-side replay of the generated oplog") {
    val work = Files.createTempDirectory("membench-fold")
    try {
      val ctx = new Ctx(spark, new Tracer(spark.sparkContext, false), 5, 1, 2,
        work.toString)
      val sz = AnalyticsBatch.Full.copy(docs = 80, nodes = 50, edges = 100,
        chains = 10, queries = 4)
      val (st, in) = AnalyticsBatch.setup(ctx, sz)
      val got = AnalyticsBatch.job("oplog.fold", st, in, Nil)
      assert(got == AnalyticsBatch.foldReference(in))
      assert(got != AnalyticsBatch.foldReference(AnalyticsBatch.inputs(6, sz)))
    } finally {
      Files.walk(work).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }
}
