package membench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Entry point of one benchmark run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --spec <BENCHMARK.json>
  *
  * One fresh JVM, one client thread, Spark `local[nproc]`. The workload
  * builds its seeded inputs (set-up, timed), runs an untimed warm phase,
  * then a fixed operation script whose length depends only on `--seconds`,
  * checks its outputs, and prints every metric the spec names for this
  * mode (end-to-end untraced, per-layer traced), ending with one JSON line.
  * Exits 1 when any output check failed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, spec: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("spec"))
  }

  val workloads: Map[String, Workload] = Map(
    "serve_mixed" -> ServeMixed,
    "batch_jobs" -> BatchJobs)

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val wl = workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; " +
        s"known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val spec = Spec.read(args.spec)
    val cores = Runtime.getRuntime.availableProcessors()
    val host = Host.start()
    val t0 = System.nanoTime()
    val spark = session(args, cores)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val ok = try {
      val ctx = new Ctx(spark, new Tracer(spark.sparkContext, args.trace),
        args.seed, args.seconds, cores, args.work)
      val out = wl.run(ctx)
      val hostM = host.finish()
      out.layer("host.session_start_ms") = sessionMs
      out.layer("host.steal_s") = hostM.stealS
      out.layer("host.gc_ms") = hostM.gcMs
      log(f"host load average start ${hostM.loadStart} end ${hostM.loadEnd}, " +
        f"steal ${hostM.stealS}%.2f s, gc ${hostM.gcMs}%.0f ms")
      report(args, spec, wl, out)
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  def session(args: Args, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"membench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", math.max(2, cores / 2).toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val jvmStart = System.nanoTime()

  def log(s: String): Unit =
    println(f"[membench ${(System.nanoTime() - jvmStart) / 1e9}%6.1fs] $s")

  /** Prints every metric of this mode by name and unit, then the result
    * line; returns whether all checks passed.
    */
  def report(args: Args, spec: Spec, wl: Workload, out: Outcome): Boolean = {
    // A layer of the other workload did no work here: it reads 0. A layer
    // of this workload must have been measured.
    val (names, values) =
      if (args.trace) (spec.perLayer, spec.perLayer.map(_._1).flatMap { n =>
        if (wl.layers.exists(n.startsWith)) out.layer.get(n).map(n -> _)
        else Some(n -> 0.0)
      }.toMap)
      else (spec.endToEnd, out.e2e.toMap)
    names.map(_._1).filterNot(values.contains)
      .foreach(n => out.fail(s"metric $n was not measured"))
    val metrics = names.filter(n => values.contains(n._1)).map { case (n, u) =>
      log(f"$n%-46s ${values(n)}%14.4f $u")
      n -> Map("value" -> values(n), "unit" -> u).asJava
    }
    out.failures.foreach(f => log(s"CHECK FAILED: $f"))
    val ok = out.failures.isEmpty
    val failed = out.failedOps + (if (ok) 0 else math.max(1, out.failures.size))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(Map[String, Any](
        "correct" -> ok,
        "attempted" -> math.max(1, out.attempted),
        "failed" -> failed,
        "metrics" -> metrics.toMap.asJava).asJava)
    println(json)
    ok
  }
}

/** What a run shares with its workload: the session, the tracer, the seed,
  * the run length and a private scratch directory.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Int, val cores: Int, val work: String) {

  /** Bytes held by cached RDDs and DataFrames, in MB. */
  def residentMb(): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
}

/** A workload's measurements and check results. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failedOps = 0

  def fail(msg: String): Unit = failures += msg

  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  /** Per-layer fields of every traced span, grouped by `<layer>.<op>`.
    * Times are per-call medians; counts are per-call means.
    */
  def addSpans(spans: Seq[(Trace.Span, Trace.SpanWork)]): Unit =
    spans.groupBy(_._1.op).toSeq.sortBy(_._1).foreach { case (op, xs) =>
      val w = xs.map(_._2)
      layer(s"$op.ms_p50") = Stats.median(xs.map(_._1.wallMs))
      layer(s"$op.ms") = layer(s"$op.ms_p50")
      layer(s"$op.jobs") = Stats.mean(w.map(_.jobs.toDouble))
      layer(s"$op.tasks") = Stats.mean(w.map(_.tasks.toDouble))
      layer(s"$op.shuffle_bytes") = Stats.mean(w.map(_.shuffleBytes.toDouble))
      layer(s"$op.task_run_ms") = Stats.median(w.map(_.taskRunMs))
      layer(s"$op.task_cpu_ms") = Stats.median(w.map(_.taskCpuMs))
      layer(s"$op.sched_delay_ms") = Stats.median(w.map(_.schedDelayMs))
      layer(s"$op.driver_ms") = Stats.median(w.map(_.driverMs))
      check(w.exists(_.jobs > 0), s"$op ran no Spark job in any of its ${xs.size} calls")
      xs.foreach { case (s, wk) =>
        check(wk.schedDelayMs <= s.endMs - s.startMs,
          s"span ${s.op}#${s.id}: sched_delay ${wk.schedDelayMs} ms exceeds " +
            s"its wall time ${s.endMs - s.startMs} ms")
      }
    }

  /** End-to-end latency metrics over a fixed-size sample set. */
  def latency(samplesMs: Seq[Double]): Unit = {
    val (tv, pct, n) = Stats.tail(samplesMs)
    e2e("latency_p50_ms") = Stats.median(samplesMs)
    e2e("latency_tail_ms") = tv
    Main.log(f"latency: $n samples, tail = p$pct%.2f")
  }
}

/** The metric names and units BENCHMARK.json declares. */
final case class Spec(endToEnd: Seq[(String, String)],
    perLayer: Seq[(String, String)])

object Spec {
  def read(path: String): Spec = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    def metrics(key: String) = root.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText() -> m.get("unit").asText())
    Spec(metrics("end_to_end"), metrics("per_layer"))
  }
}

/** Host telemetry over a run. Recorded only: never used to drop, retry or
  * reweight a run.
  */
final class Host private (steal0: Long, gc0: Long, val loadStart: String) {
  def finish(): Host.Result =
    Host.Result((Host.stealTicks() - steal0) / 100.0, (Host.gcMs() - gc0).toDouble,
      loadStart, Host.loadAvg())
}

object Host {
  final case class Result(stealS: Double, gcMs: Double, loadStart: String,
      loadEnd: String)

  def start(): Host = new Host(stealTicks(), gcMs(), loadAvg())

  /** Aggregate steal ticks (USER_HZ, 100/s) from /proc/stat; 0 elsewhere. */
  def stealTicks(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    finally src.close()
  } catch { case _: java.io.IOException => 0L }

  def loadAvg(): String = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ").take(3).mkString(" ") finally src.close()
  } catch { case _: java.io.IOException => "n/a" }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** A benchmark workload. */
trait Workload {
  /** Name prefixes of the per-layer metrics this workload measures. */
  def layers: Seq[String]

  def run(ctx: Ctx): Outcome
}

/** Content hashes of generated inputs, for the printed input fingerprint. */
object InputHash {

  /** Order-insensitive hash of a frame: row count and xor of row hashes. */
  def frame(df: org.apache.spark.sql.DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    r.getLong(0) * 0x9E3779B97F4A7C15L ^ r.getLong(1)
  }

  def combine(parts: Seq[Long]): String =
    f"${scala.util.hashing.MurmurHash3.orderedHash(parts.map(_.toString))}%08x" +
      f"${parts.foldLeft(17L)((a, b) => a * 31 + b)}%016x"
}
