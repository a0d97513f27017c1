package membench

import scala.collection.mutable

/** `batch_jobs`: batched IVF search, then the background knowledge jobs,
  * one client.
  *
  * The script is a block of IVF batch requests ([[AnnBatch]], codecs in
  * rotation, [[IvfPerSecond]] per second of run), then one pass over
  * [[AnalyticsBatch.Jobs]]. Both halves are batch work where one call
  * amortizes the per-job floor — kernels and top-k for the IVF requests,
  * plan shape, jobs per call and shuffles for the analytics jobs — and
  * neither touches the serving-fusion or streaming layers that
  * `serve_mixed` exercises. The latency percentiles are taken over the IVF
  * requests alone: among seconds-long analytics jobs the tail would be a
  * near-maximum request. The analytics jobs hold most of the time and so
  * set the throughput.
  */
object BatchJobs extends Workload {

  val IvfPerSecond = 5

  val layers = Seq("search.ivf.", "build.kmeans.", "build.assign.",
    "build.serving_index.", "build.serving_index_int8.",
    "build.serving_index_f16.", "dedup.", "graph.", "oplog.", "search.fusion.",
    "host.")

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val tr = ctx.tracer
    // One cold set-up in the fresh JVM: the cost a restarted job host pays.
    val t0 = System.nanoTime()
    val annSt = AnnBatch.setup(ctx, AnnBatch.Full)
    val (st, in) = AnalyticsBatch.setup(ctx, AnalyticsBatch.Full)
    out.e2e("setup_s") = (System.nanoTime() - t0) / 1e9
    out.e2e("resident_mb") = ctx.residentMb()
    val ann = new AnnBatch.Part(ctx, AnnBatch.Full, annSt)
    val requests = IvfPerSecond * ctx.seconds
    Main.log("inputs " + InputHash.combine(ann.inputHashes ++ Seq(in.hash,
      AnalyticsBatch.Jobs.hashCode.toLong, requests.toLong)))

    (0 until AnnBatch.WarmRequests).foreach(ann.request)
    val ms = mutable.ArrayBuffer.empty[Double]
    (0 until requests).foreach { i =>
      val (rows, t) = tr.timed(ann.op(i))(ann.request(i))
      ms += t
      ann.score(i, rows)
    }
    Main.log(f"ivf requests: ${ms.size} samples, p50 ${Stats.median(ms.toSeq)}%.1f ms")
    val results = mutable.LinkedHashMap.empty[String, Any]
    val jobMs = AnalyticsBatch.Jobs.map { j =>
      val pairs = results.getOrElse("dedup.lsh", Nil).asInstanceOf[Seq[(Long, Long)]]
      val (r, t) = tr.timed(j)(AnalyticsBatch.job(j, st, in, pairs))
      results(j) = r
      Main.log(f"job $j: $t%.0f ms")
      t
    }
    out.attempted = ms.size + jobMs.size
    out.e2e("throughput") = out.attempted / ((ms.sum + jobMs.sum) / 1000.0)
    out.latency(ms.toSeq)
    ann.finish(out)
    AnalyticsBatch.checks(results, in, out)
    if (tr.tracing) {
      out.layer("host.trace_overhead_pct") = tr.overheadPct(20)(ann.request(0))
      out.addSpans(tr.finished())
    }
    out
  }
}
