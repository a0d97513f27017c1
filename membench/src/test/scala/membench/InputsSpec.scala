package membench

import org.scalatest.funsuite.AnyFunSuite

/** Every input of every workload comes from the seed alone. */
class InputsSpec extends AnyFunSuite with LocalSpark {

  private val serve = ServeMixed.Full.copy(docs = 300, pool = 8)

  test("serve_mixed: same seed, same inputs and operation script") {
    assert(ServeMixed.script(7, serve, 1, 6) == ServeMixed.script(7, serve, 1, 6))
    assert(InputHash.frame(ServeMixed.corpus(spark, 7, serve)) ==
      InputHash.frame(ServeMixed.corpus(spark, 7, serve)))
    val ops = ServeMixed.script(7, serve, 1, 6)
    assert(ServeMixed.writeDocs(spark, 7, serve, ops._1 ++ ops._2).toSeq
      .map { case (i, (t, v)) => (i, t, v.toSeq) }.sortBy(_._1) ==
      ServeMixed.writeDocs(spark, 7, serve, ops._1 ++ ops._2).toSeq
        .map { case (i, (t, v)) => (i, t, v.toSeq) }.sortBy(_._1))
  }

  test("serve_mixed: a different seed gives different inputs and script") {
    assert(ServeMixed.script(7, serve, 1, 6) != ServeMixed.script(8, serve, 1, 6))
    assert(InputHash.frame(ServeMixed.corpus(spark, 7, serve)) !=
      InputHash.frame(ServeMixed.corpus(spark, 8, serve)))
  }

  test("serve_mixed: the script has a fixed length and ends compacted") {
    val (warm, timed) = ServeMixed.script(3, serve, 1, 6)
    assert(warm.size == ServeMixed.WarmReads + ServeMixed.ReadsPerWrite + 1)
    assert(timed.count(_.isInstanceOf[ServeMixed.Read]) == 6 * ServeMixed.ReadsPerWrite)
    assert(timed.takeRight(2) == Seq(ServeMixed.Compact, ServeMixed.Snapshot))
    assert(timed.size == ServeMixed.script(4, serve, 1, 6)._2.size)
  }

  test("batch_jobs, IVF half: queries and corpus follow the seed") {
    val sz = AnnBatch.Full.copy(docs = 200, batch = 4, batches = 2)
    def q(seed: Long) = AnnBatch.queries(spark, seed, sz).map { case (i, v) => (i, v.toSeq) }
    assert(q(5) == q(5))
    assert(q(5) != q(6))
    assert(InputHash.frame(AnnBatch.corpus(spark, 5, sz)) ==
      InputHash.frame(AnnBatch.corpus(spark, 5, sz)))
    assert(InputHash.frame(AnnBatch.corpus(spark, 5, sz)) !=
      InputHash.frame(AnnBatch.corpus(spark, 6, sz)))
  }

  test("batch_jobs, analytics half: same seed, same hash; another seed, another hash") {
    val sz = AnalyticsBatch.Full.copy(docs = 200, nodes = 100, edges = 300, chains = 20)
    assert(AnalyticsBatch.inputs(11, sz).hash == AnalyticsBatch.inputs(11, sz).hash)
    assert(AnalyticsBatch.inputs(11, sz).hash != AnalyticsBatch.inputs(12, sz).hash)
  }
}
