package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.core.Tables

/** E1-E4: the streaming surface runs the same transforms as the batch
  * oracle queries — these tests assert stream == batch on the same files,
  * incremental file-source processing, and the adaptive trigger rule.
  */
class StreamsSpec extends SparkSpec {

  private def tempDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("streaming windowed agg (complete mode) equals batch agg") {
    val dir = tempDir("events-stream")
    Files.copy(Paths.get(sf() + "/events.parquet"),
      Paths.get(dir, "part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // Tables.events sets the nanosAsLong conf the stream schema relies on.
    val batch = Streams.eventWindowAgg(Tables.events(spark, sf()))

    val q = Streams.eventWindowAgg(Streams.eventsStream(spark, dir))
      .writeStream.format("memory").queryName("ewin")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("ewin")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("file source processes incrementally (maxFilesPerTrigger=1)") {
    val dir = tempDir("docs-stream")
    val docs = Tables.documents(spark, sf()).filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text"))
    // Two separate files → at least two micro-batches.
    docs.filter(col("doc_id") < 10).coalesce(1).write
      .mode("overwrite").parquet(dir + "/b1")
    docs.filter(col("doc_id") >= 10).coalesce(1).write
      .mode("overwrite").parquet(dir + "/b2")

    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(dir)

    var batches = 0
    var rows = 0L
    val q = Streams.vectorize(stream)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        rows += df.count()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val expected = Streams.vectorize(docs).count()
    assert(rows === expected)
    assert(batches >= 2, s"expected incremental batches, got $batches")
  }

  test("vectorizer output is deterministic and chains prev links") {
    val docs = Tables.documents(spark, sf()).filter(col("doc_id") < 5)
      .select(col("doc_id"), col("text"))
    val a = Streams.vectorize(docs).orderBy("chunk_id").collect()
    val b = Streams.vectorize(docs).orderBy("chunk_id").collect()
    assert(a.sameElements(b))
    val first = a.filter(_.getAs[Long]("chunk_index") == 0L)
    assert(first.forall(_.getAs[String]("prev_chunk") == null))
    val rest = a.filter(_.getAs[Long]("chunk_index") > 0L)
    assert(rest.forall(r => r.getAs[String]("prev_chunk") != null))
  }

  test("adaptive think scheduler: threshold AND min-interval must both hold") {
    val s = Streams.ThinkScheduler(writeThreshold = 50, minIntervalMs = 30000)
    assert(!s.shouldThink(49, 0, 31000))   // not enough writes
    assert(!s.shouldThink(50, 0, 29999))   // too soon
    assert(s.shouldThink(50, 0, 30000))
    assert(s.shouldThink(500, 100000, 130000))
  }

  test("thinkTriggers: fire resets both gates; streams are independent") {
    import spark.implicits._
    // key 1: writes every second t=0..9s, threshold 3, interval 5000 ms.
    // The replay clock starts at epoch (lastThink = 0), so with these tiny
    // timestamps the FIRST fire is interval-gated too: threshold crosses
    // at t=2000 but Δt<5000 until t=5000 → fire@5000 with 6 accumulated
    // writes; then writes reach 3 again at t=8000 but Δt from 5000 stays
    // <5000 through t=9000 → no second fire.
    // key 2: only 2 writes — below threshold, never fires.
    val ev = ((0L to 9L).map(i => (1L, i * 1000, i)) ++
      Seq((2L, 0L, 100L), (2L, 1000L, 101L)))
      .toDF("user_id", "ts_ms", "event_id")
    val fires = Streams.thinkTriggers(ev, "user_id", "ts_ms", "event_id",
        writeThreshold = 3L, minIntervalMs = 5000L)
      .orderBy("key", "fire_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fires.toSeq === Seq((1L, 5000L, 6L)))
  }

  test("thinkTriggers: event at exactly lastThink + interval fires (>=)") {
    import spark.implicits._
    val ev = Seq((1L, 0L, 0L), (1L, 1L, 1L), (1L, 5001L, 2L))
      .toDF("user_id", "ts_ms", "event_id")
    val fires = Streams.thinkTriggers(ev, "user_id", "ts_ms", "event_id",
        writeThreshold = 2L, minIntervalMs = 5000L)
      .orderBy("fire_ms").collect().map(r => (r.getLong(1), r.getLong(2)))
    // First fire at t=1 (clock starts at epoch 0... 1-0 < 5000 → hold;
    // writes keep accumulating until 5001-0 >= 5000 → fire with 3 writes).
    assert(fires.toSeq === Seq((5001L, 3L)))
  }

  test("thinkTriggerStream: stateful stream across micro-batches == batch replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Same workload as the batch gate test (key 1 fires at t=5000 with 6
    // writes; key 2 never fires) — but split mid-stream so the fire
    // depends on state carried ACROSS batches: at the batch-1 boundary
    // (t≤3000) nothing has fired yet, the counter is 4.
    val all = ((0L to 9L).map(i => (1L, i * 1000, i)) ++
      Seq((2L, 0L, 100L), (2L, 1000L, 101L)))
    val (b1, b2) = all.partition(_._2 <= 3000)

    val ms = MemoryStream[(Long, Long, Long)]
    val out = Streams.thinkTriggerStream(
      ms.toDF.toDF("user_id", "ts_ms", "event_id"),
      "user_id", "ts_ms", "event_id",
      writeThreshold = 3L, minIntervalMs = 5000L)
    val q = out.writeStream.format("memory").queryName("think_s")
      .outputMode("append").start()
    val streamed = try {
      ms.addData(b1: _*); q.processAllAvailable()
      assert(spark.table("think_s").isEmpty,
        "no fire may happen before the interval gate passes")
      ms.addData(b2: _*); q.processAllAvailable()
      spark.table("think_s").orderBy("key", "fire_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    } finally q.stop()
    assert(streamed === Seq((1L, 5000L, 6L)))

    // Batch degradation: the same entry point folds identically.
    val batch = Streams.thinkTriggerStream(
      all.toDF("user_id", "ts_ms", "event_id"),
      "user_id", "ts_ms", "event_id",
      writeThreshold = 3L, minIntervalMs = 5000L)
      .orderBy("key", "fire_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch === streamed)
  }

  test("thinkTriggerStream: cross-batch arrival out of event-time order " +
      "follows the documented arrival-order contract") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // One key, threshold 2, interval 5000 ms. Batch 1 delivers the LATER
    // event times (t=6000, 7000); batch 2 delivers the EARLIER ones
    // (t=1000, 2000) plus t=13000. The contract (Streams.scala ordering
    // note; the reference's live scheduler counts writes as they arrive,
    // gardener.go:506-528) is that the fold consumes ARRIVAL order across
    // batches — late-arriving old events are new writes against the
    // scheduler's current clock, never a rewind:
    //   batch 1: w=2 @7000, 7000-0 >= 5000        -> fire (7000, 2)
    //   batch 2: w=2 @2000, 2000-7000 < 5000      -> held (no clock rewind)
    //            w=3 @13000, 13000-7000 >= 5000   -> fire (13000, 3)
    val b1 = Seq((1L, 6000L, 10L), (1L, 7000L, 11L))
    val b2 = Seq((1L, 1000L, 1L), (1L, 2000L, 2L), (1L, 13000L, 12L))

    val ms = MemoryStream[(Long, Long, Long)]
    val out = Streams.thinkTriggerStream(
      ms.toDF.toDF("user_id", "ts_ms", "event_id"),
      "user_id", "ts_ms", "event_id",
      writeThreshold = 2L, minIntervalMs = 5000L)
    val q = out.writeStream.format("memory").queryName("think_ooo")
      .outputMode("append").start()
    val streamed = try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      spark.table("think_ooo").orderBy("fire_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    } finally q.stop()
    assert(streamed === Seq((1L, 7000L, 2L), (1L, 13000L, 3L)))

    // The same events replayed IN event-time order give a different
    // answer — the divergence is the contract, not a bug: batch replay
    // reconstructs what a scheduler that saw history in order would have
    // done, the live stream tracks what the always-on scheduler actually
    // does with the arrival sequence it got.
    val batch = Streams.thinkTriggers(
      (b1 ++ b2).toDF("user_id", "ts_ms", "event_id"),
      "user_id", "ts_ms", "event_id",
      writeThreshold = 2L, minIntervalMs = 5000L)
      .orderBy("fire_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batch === Seq((1L, 6000L, 3L), (1L, 13000L, 2L)))

    // And in-order delivery across batches still degrades to batch replay
    // (the r11 equivalence stays green alongside the adversarial case).
    val ms2 = MemoryStream[(Long, Long, Long)]
    val out2 = Streams.thinkTriggerStream(
      ms2.toDF.toDF("user_id", "ts_ms", "event_id"),
      "user_id", "ts_ms", "event_id",
      writeThreshold = 2L, minIntervalMs = 5000L)
    val q2 = out2.writeStream.format("memory").queryName("think_inorder")
      .outputMode("append").start()
    val inOrder = try {
      val sorted = (b1 ++ b2).sortBy(e => (e._2, e._3))
      ms2.addData(sorted.take(3): _*); q2.processAllAvailable()
      ms2.addData(sorted.drop(3): _*); q2.processAllAvailable()
      spark.table("think_inorder").orderBy("fire_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    } finally q2.stop()
    assert(inOrder === batch)
  }

  test("streaming exact dedup suppresses duplicate content across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Streams.dedupStream(
      ms.toDF.toDF("doc_id", "text", "ts"), "text", "ts")
    val q = out.writeStream.format("memory").queryName("dedup_s")
      .outputMode("append").start()
    try {
      // Batch 1: "aaa" twice (in-batch dup) + "bbb".
      ms.addData((1L, "aaa", t(0)), (2L, "bbb", t(1)), (3L, "aaa", t(2)))
      q.processAllAvailable()
      // Batch 2: "aaa" again within the watermark horizon (suppressed by
      // state) + fresh "ccc" (kept).
      ms.addData((4L, "aaa", t(10)), (5L, "ccc", t(11)))
      q.processAllAvailable()
      val rows = spark.table("dedup_s").select(col("text")).collect()
        .map(_.getString(0)).sorted
      assert(rows.toSeq == Seq("aaa", "bbb", "ccc"), rows.mkString(","))
    } finally q.stop()

    // Batch degradation: same call, plain content-hash dedup.
    val batch = Seq((1L, "aaa", t(0)), (2L, "bbb", t(1)), (3L, "aaa", t(2)))
      .toDF("doc_id", "text", "ts")
    assert(Streams.dedupStream(batch, "text", "ts").count() == 2)
  }

  test("streaming paragraph gate: first arrival wins across batches, " +
      "docs reassemble from surviving chunks") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Streams.paragraphGateStream(
      ms.toDF.toDF("doc_id", "text", "ts"), "text", "ts",
      lateness = "10 seconds", windowSize = "1 minute", chunkTokens = 2)
    val q = out.writeStream.format("memory").queryName("para_gate")
      .outputMode("append").start()
    try {
      // Batches are the stream's arrival order — every collision here is
      // CROSS-batch, so the survivor is determined by state, never by
      // intra-batch shuffle order.
      ms.addData((1L, "a b c d", t(0))) // ("a b")("c d") both fresh
      q.processAllAvailable()
      ms.addData((2L, "a b x y", t(1))) // "a b" suppressed, "x y" fresh
      q.processAllAvailable()
      // doc 3 re-uses "c d" (suppressed by state) + fresh "z w"; doc 4 is
      // a full re-occurrence — every chunk seen — and must emit nothing.
      ms.addData((3L, "c d z w", t(5)), (4L, "a b c d", t(6)))
      q.processAllAvailable()
      // Flush: push the watermark past the first window's end.
      ms.addData((99L, "flush flush", t(600)))
      q.processAllAvailable()
      val rows = spark.table("para_gate")
        .filter(col("doc_id") < 99)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(rows.toSeq == Seq(
        (1L, "a b c d", 2L, 0L),
        (2L, "x y", 1L, 1L),
        (3L, "z w", 1L, 1L))) // doc 4 absent: nothing survived
    } finally q.stop()

    // Batch degradation IS d13 (deterministic keep-first by (doc_id, pos)).
    val batch = Seq((1L, "a b c d", t(0)), (2L, "a b x y", t(1)))
      .toDF("doc_id", "text", "ts")
    val got = Streams.paragraphGateStream(batch, "text", "ts", chunkTokens = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a b c d"), (2L, "x y")))
  }

  test("streaming surprisal gate: hand-computed bits, stream == batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

    // Frozen LM trained on "a b a b": bigram counts (a,b)=2, (b,a)=1;
    // unigram heads a=2, b=1; vocabulary {a, b} → nv=2. x36's bits
    // formula: floor(log2((c1 + nv) div (c12 + 1))).
    val lm = Seq(("a", "b", 2L), ("b", "a", 1L)).toDF("w1", "w2", "c12")
    val uni = Seq(("a", 2L), ("b", 1L)).toDF("w1", "c1")
    // doc 0 "a b a b": (a,b) 4div3=1→0 bits, (b,a) 3div2=1→0, (a,b) 0
    //   → mean_milli 0, keep.
    // doc 1 "a b c d": (a,b) 0 bits, (b,c) 3div1=3→1, (c,d) 2div1=2→1
    //   → 2 bits / 3 → mean_milli 666, keep (cut 700).
    // doc 2 "x y x y": all unseen → 1+1+1 → mean_milli 1000, dropped.
    val docsB = Seq((0L, "a b a b", t(0)), (1L, "a b c d", t(1)),
      (2L, "x y x y", t(2))).toDF("doc_id", "text", "ts")
    val expect = Set(
      (0L, 3L, 0L, 0L, true),
      (1L, 3L, 2L, 666L, true),
      (2L, 3L, 3L, 1000L, false))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val batchOut = Streams.surprisalGateStream(
      docsB, "text", "ts", lm, uni, nv = 2L, cutMilli = 700L)
    assert(rows(batchOut) == expect)

    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Streams.surprisalGateStream(
      ms.toDF.toDF("doc_id", "text", "ts"), "text", "ts", lm, uni,
      nv = 2L, cutMilli = 700L,
      lateness = "10 seconds", windowSize = "1 minute")
    val q = out.writeStream.format("memory").queryName("ppl_gate")
      .outputMode("append").start()
    try {
      ms.addData((0L, "a b a b", t(0)), (1L, "a b c d", t(1)))
      q.processAllAvailable()
      ms.addData((2L, "x y x y", t(2)))
      q.processAllAvailable()
      ms.addData((99L, "flush flush", t(600))) // push the watermark
      q.processAllAvailable()
      val got = rows(spark.table("ppl_gate").filter(col("doc_id") < 99))
      assert(got == expect, got)
    } finally q.stop()
  }

  test("per-language streaming LM gate: langid routes docs to their own LM and cut, stream == batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

    // Two frozen per-language LMs with distinct vocab sizes, and — the
    // per-language point — DIFFERENT calibrated cuts: docs 1 (en) and 3
    // (es) score the same 1333 mean_milli, but en's cut drops it while
    // es's keeps it. Doc 4's profile predicts 'de', which has no
    // vocabulary row: CCNet cannot score a language it has no LM for, so
    // the doc drops entirely (x40's inner-join contract).
    val lm = Seq(("en", "the", "of", 2L), ("en", "of", "the", 1L),
      ("es", "el", "de", 2L), ("es", "de", "el", 1L))
      .toDF("plang", "w1", "w2", "c12")
    val uni = Seq(("en", "the", 2L), ("en", "of", 1L),
      ("es", "el", 2L), ("es", "de", 1L)).toDF("plang", "w1", "c1")
    val vocab = Seq(("en", 2L), ("es", 3L)).toDF("plang", "nv")
    val cuts = Seq(("en", 1000L), ("es", 1400L)).toDF("plang", "cut_milli")
    val docsB = Seq(
      (0L, "the of the of", t(0)),      // en: 0+0+0 → 0, keep
      (1L, "the unknown weird stuff", t(1)), // en: 2+1+1 → 1333 > 1000, drop
      (2L, "el de el de", t(2)),        // es: 0+1+0 → 333, keep
      (3L, "el raro cosa x", t(3)),     // es: 2+1+1 → 1333 <= 1400, keep
      (4L, "der die das und", t(4)))    // de: no LM → no output row
      .toDF("doc_id", "text", "ts")
    val expect = Set(
      (0L, "en", 3L, 0L, 0L, true),
      (1L, "en", 3L, 4L, 1333L, false),
      (2L, "es", 3L, 1L, 333L, true),
      (3L, "es", 3L, 4L, 1333L, true))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet

    val batchOut = Streams.surprisalGatePerLangStream(
      docsB, "text", "ts", lm, uni, vocab, cuts)
    assert(rows(batchOut) == expect)

    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Streams.surprisalGatePerLangStream(
      ms.toDF.toDF("doc_id", "text", "ts"), "text", "ts", lm, uni, vocab,
      cuts, lateness = "10 seconds", windowSize = "1 minute")
    val q = out.writeStream.format("memory").queryName("perlang_gate")
      .outputMode("append").start()
    try {
      ms.addData((0L, "the of the of", t(0)),
        (1L, "the unknown weird stuff", t(1)))
      q.processAllAvailable()
      ms.addData((2L, "el de el de", t(2)), (3L, "el raro cosa x", t(3)),
        (4L, "der die das und", t(4)))
      q.processAllAvailable()
      ms.addData((99L, "the flush", t(600))) // push the watermark
      q.processAllAvailable()
      val got = rows(spark.table("perlang_gate").filter(col("doc_id") < 99))
      assert(got == expect, got)
    } finally q.stop()

    // Pre-predicted language column: langCol bypasses the in-row langid
    // (for callers whose id ran on a different field).
    val pre = Streams.surprisalGatePerLangStream(
      docsB.withColumn("already", lit("es")), "text", "ts", lm, uni, vocab,
      cuts, langCol = Some("already"))
    assert(pre.select(col("plang")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("es"))
  }

  test("streaming near-dup: stream == batch, fingerprint == TextPipeline's") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

    // 1/2 share every 4-gram shingle of doc 1 (2 appends a tail, so its
    // shingle set is a superset — min hash can only move if the tail
    // wins; assert against the REAL computed fingerprints either way).
    val base = "the quick brown fox jumps over the lazy dog again"
    val rows = Seq(
      (1L, base, t(0)),
      (2L, base + " and then some trailing words", t(1)),
      (3L, "completely different content about spark shuffles here", t(2)),
      (4L, "tiny doc", t(3))) // < 4 words: whole-text-hash fallback

    val batchOut = Streams.nearDedupStream(
      rows.toDF("doc_id", "text", "ts"), "text", "ts")
      .select(col("doc_id"), col("fingerprint")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

    // Fingerprints of >=4-word docs match the batch x4 fingerprint op.
    val fpRef = graft.text.TextPipeline.fingerprint(
        rows.toDF("doc_id", "text", "ts").filter(col("doc_id") <= 3),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    batchOut.foreach { case (id, fp) =>
      if (id <= 3 && fpRef.contains(id)) assert(fp == fpRef(id), s"doc $id")
    }

    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = Streams.nearDedupStream(
      ms.toDF.toDF("doc_id", "text", "ts"), "text", "ts")
    val q = out.writeStream.format("memory").queryName("neardedup_s")
      .outputMode("append").start()
    try {
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("neardedup_s")
        .select(col("fingerprint")).collect().map(_.getLong(0)).sorted.toSeq
      // Stream keeps exactly one row per distinct fingerprint — the same
      // survivor set as the batch call.
      assert(streamed == batchOut.values.toSeq.distinct.sorted, streamed)
    } finally q.stop()
  }

  test("streaming DSIR gate: stream == batch == the x34 operator's weights") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Train the frozen weight table exactly as x34 does (target = en,
    // raw = rest, 4096 PolyHash buckets, integer-ppm difference).
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("lang"), col("text"))
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(transform(split(col("text"), " "),
        t => graft.dedup.Dedup.polyHash(t) % 4096L)).as("bucket"))
    val tgt = tok.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(count(lit(1)).as("tc"))
    val tt = tgt.agg(sum(col("tc")).as("ts"))
    val raw = tok.filter(col("lang") =!= "en")
      .groupBy(col("bucket")).agg(count(lit(1)).as("rc"))
    val rt = raw.agg(sum(col("rc")).as("rs"))
    val weights = new Array[Long](4096)
    raw.crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .join(tgt, Seq("bucket"), "left")
      .select(col("bucket"),
        (coalesce(expr("(1000000 * tc) div ts"), lit(0L)) -
          expr("(1000000 * rc) div rs")).as("d"))
      .collect()
      .foreach(r => weights(r.getLong(0).toInt) = r.getLong(1))

    // Gate == the registered x34 operator on the raw pool (en buckets
    // absent from the raw table carry weight 0 in BOTH constructions).
    val rawDocs = docs.filter(col("lang") =!= "en")
    val gated = Streams.dsirGate(rawDocs, "text", weights)
      .select(col("doc_id"), col("dsir_weight"), col("keep"))
    val x34 = graft.SparkEntry.queries("x34_dsir")(spark, sf())
      .select(col("doc_id"), col("dsir_weight"), col("keep"))
    assert(gated.exceptAll(x34).isEmpty && x34.exceptAll(gated).isEmpty)

    // Stateless projection: the same plan on a MemoryStream yields the
    // same rows across micro-batch boundaries.
    val rows = rawDocs.select(col("doc_id"), col("text"))
      .limit(6).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val ms = MemoryStream[(Long, String)]
    val q = Streams.dsirGate(ms.toDF.toDF("doc_id", "text"), "text", weights)
      .writeStream.format("memory").queryName("dsir_s")
      .outputMode("append").start()
    try {
      ms.addData(rows.take(3): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("dsir_s")
        .select(col("doc_id"), col("dsir_weight"), col("keep"))
      val expect = Streams.dsirGate(
          rows.toDF("doc_id", "text"), "text", weights)
        .select(col("doc_id"), col("dsir_weight"), col("keep"))
      assert(streamed.exceptAll(expect).isEmpty &&
        expect.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming curation funnel: quality gate -> PII scrub -> near-dedup, stream == batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

    // 40+ words so the quality gate's length band can pass; doc 2 is a
    // near-dup (same text + tail), doc 3 fails the gate (single repeated
    // word), doc 4 carries PII to scrub.
    val long = (1 to 45).map(i => s"word$i").mkString("the quick brown fox ", " ", " end of the doc")
    val rows = Seq(
      (1L, long, t(0)),
      (2L, long + " trailing tail words", t(1)),
      (3L, ("spam " * 60).trim, t(2)),
      (4L, long + " mail me at bob@example.com now", t(3)))

    // The funnel: stateless quality gate + PII scrub, then the single
    // stateful op (watermark-bounded near-dedup) LAST — one stateful
    // operator per stream, the shape Structured Streaming supports in
    // append mode without multi-stateful caveats.
    def funnel(df: org.apache.spark.sql.DataFrame) = {
      val sig = graft.text.TextPipeline
        .qualitySignals(col("text"), Nil).toMap
      val gated = df.filter(sig("n_words") >= 40 && sig("uniq_ratio") >= 0.3)
        .withColumn("text", graft.text.Pii.redact(col("text")))
      Streams.nearDedupStream(gated, "text", "ts")
    }

    val batchKept = funnel(rows.toDF("doc_id", "text", "ts"))
      .select(col("fingerprint")).collect().map(_.getLong(0)).sorted.toSeq

    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = funnel(ms.toDF.toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("funnel_s")
      .outputMode("append").start()
    try {
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("funnel_s")
        .select(col("fingerprint")).collect().map(_.getLong(0)).sorted.toSeq
      assert(streamed == batchKept, s"stream=$streamed batch=$batchKept")
      // The gate dropped doc 3; the scrubbed PII doc is distinct content
      // and survives; the near-dup pair collapsed iff fingerprints agree.
      assert(spark.table("funnel_s").count() == batchKept.size)
    } finally q.stop()
  }

  test("streaming PII scrub equals batch scrub (stateless projection)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.text.Pii
    val rows = Seq(
      (1L, "mail me a@b.com or call 555-123-4567"),
      (2L, "host 10.0.0.1 card 4111111111111111"),
      (3L, "nothing sensitive here"))
    def scrub(df: org.apache.spark.sql.DataFrame) = {
      val cnt = Pii.counts(col("text")).map(_._2).reduce(_ + _).as("n_pii")
      df.select(col("doc_id"), Pii.redact(col("text")).as("rtext"), cnt)
    }
    val ms = MemoryStream[(Long, String)]
    val q = scrub(ms.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_s")
      .outputMode("append").start()
    try {
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("pii_s")
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      val batch = scrub(rows.toDF("doc_id", "text"))
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      assert(streamed == batch)
      assert(streamed.map(_._3) == Seq(2L, 2L, 0L))
      assert(streamed(0)._2 == "mail me <EMAIL> or call <PHONE>")
    } finally q.stop()
  }

  test("streaming IVF ingest: assignment equals batch, layout is probe-able") {
    import graft.search.Ivf
    val emb = Tables.embeddings(spark, sf())
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
      .filter(col("id") < 100)
    val cents = Ivf.trainKMeansArrays(emb, k = 4, iters = 3)

    // Stage the vectors as two parquet files → two micro-batches.
    val src = tempDir("ivf-ingest-src")
    emb.filter(col("id") < 50).coalesce(1).write.mode("append").parquet(src)
    emb.filter(col("id") >= 50).coalesce(1).write.mode("append").parquet(src)
    val layout = tempDir("ivf-ingest-layout")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = Streams.ivfIngest(Ivf.assignFast(stream, cents), layout,
      tempDir("ivf-ingest-cp"))
    q.awaitTermination(120000)

    val stored = spark.read.parquet(layout)
      .select(col("id"), col("bucket").cast("long").as("bucket"))
    val batch = Ivf.assignFast(emb, cents).select(col("id"), col("bucket"))
    assert(stored.count() === 100)
    assert(stored.exceptAll(batch).isEmpty && batch.exceptAll(stored).isEmpty)
    // The layout is the partition-pruned serving shape: bucket is a
    // partition column, so a probe filter prunes files.
    assert(stored.select(col("bucket")).distinct().count() === 4)
  }

  test("streaming sign-code ingest: layout equals batch packing, codes serve search") {
    import graft.search.VectorSearch
    val emb = Tables.embeddings(spark, sf())
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .filter(col("vec_id") < 100)

    val src = tempDir("sign-ingest-src")
    emb.filter(col("vec_id") < 50).coalesce(1).write.mode("append").parquet(src)
    emb.filter(col("vec_id") >= 50).coalesce(1).write.mode("append").parquet(src)
    val layout = tempDir("sign-ingest-layout")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = Streams.signCodesIngest(stream, "vec_id", "embedding",
      layout, tempDir("sign-ingest-cp"))
    q.awaitTermination(120000)

    val stored = spark.read.parquet(layout)
    val batch = emb.select(col("vec_id"),
      graft.functions.VectorFunctions.packSignBits(col("embedding")).as("_signs"))
    assert(stored.count() === 100)
    assert(stored.exceptAll(batch).isEmpty && batch.exceptAll(stored).isEmpty)

    // The streamed layout serves the binary path: identical results to
    // packing in-plan.
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val fromLayout = VectorSearch.binaryTopKBatch(emb, qs, k = 5, rerank = 20,
      idCol = "vec_id", vecCol = "embedding", prebuiltCodes = Some(stored))
    val inPlan = VectorSearch.binaryTopKBatch(emb, qs, k = 5, rerank = 20,
      idCol = "vec_id", vecCol = "embedding")
    assert(fromLayout.exceptAll(inPlan).isEmpty
      && inPlan.exceptAll(fromLayout).isEmpty)
  }

  test("drift repair: recall recovers to fresh-build level after re-cluster") {
    import graft.functions.VectorFunctions
    import graft.search.Ivf
    val k = 8
    val nProbe = 1
    val emb = Tables.embeddings(spark, sf())
      .select(col("vec_id").cast("long").as("id"),
        VectorFunctions.normalize(col("embedding")).as("vector"))

    // Initial corpus + frozen centroids; layout as the streamed ingest
    // writes it (bucket-partitioned parquet).
    val a = emb.filter(col("id") < 200)
    val centsA = Ivf.trainKMeansArrays(a, k, iters = 3)
    val layout = tempDir("ivf-drift-layout")
    Ivf.assignFast(a, centsA)
      .write.mode("append").partitionBy("bucket").parquet(layout)

    // Drift: a second wave concentrated in a cone AROUND THE BOUNDARY of
    // the two most-similar frozen centroids — the worst case for a frozen
    // geometry: assignments split noisily across the two buckets (so both
    // crowd → skew) while each vector's true neighbors straddle the
    // boundary (so a fixed-nProbe probe misses the other half → recall
    // decays). Assigned under the frozen geometry exactly as ivfIngest
    // would.
    val u: Array[Float] = {
      def norm(v: Array[Float]): Array[Float] = {
        val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        v.map(_ / n)
      }
      val cn = centsA.map(norm)
      val pairs = for (i <- cn.indices; j <- cn.indices if i < j)
        yield (i, j, cn(i).zip(cn(j)).map { case (x, y) => x * y }.sum)
      val (bi, bj, _) = pairs.maxBy(_._3)
      norm(cn(bi).zip(cn(bj)).map { case (x, y) => x + y })
    }
    val uLit = array(u.map(x => lit(x)).toIndexedSeq: _*)
    val b = emb.filter(col("id").between(200, 399))
      .select(col("id"),
        VectorFunctions.normalize(
          zip_with(col("vector"), uLit, (x, c) => x * lit(0.6f) + c))
          .cast("array<float>").as("vector"))
    Ivf.assignFast(b, centsA)
      .write.mode("append").partitionBy("bucket").parquet(layout)

    // The drifted wave crowds into few buckets: skew fires the repair.
    val threshold = 3.0
    val drifted = spark.read.parquet(layout)
    assert(Ivf.bucketSkew(drifted, k) >= threshold)

    def recallOf(cents: Array[Array[Float]], table: org.apache.spark.sql.DataFrame,
                 queries: org.apache.spark.sql.DataFrame): Double = {
      val approx = Ivf.searchBatchedFast(
        Ivf.servingIndex(table), cents, queries, 10, nProbe)
      val exact = graft.search.VectorSearch.topKBatch(
          table.select(col("id"), col("vector")), queries, 10, "cosine",
          "id", "vector", normalized = true)
        .select(col("qid"), col("id"))
      Ivf.recallAt(approx, exact, 10)
    }
    // Queries drawn from the drifted wave — the traffic the frozen
    // geometry serves badly.
    val queries = b.filter(col("id") < 220)
      .select((col("id") - 200).as("qid"), col("vector").as("qvec"))
    val before = recallOf(centsA, drifted, queries)

    // Repair: healthy layouts are left alone; the drifted one rewrites.
    val healthy = tempDir("ivf-drift-healthy")
    Ivf.assignFast(a, centsA)
      .write.mode("append").partitionBy("bucket").parquet(healthy)
    assert(Ivf.repairLayout(spark, healthy, healthy + "-out", k,
      threshold = threshold).isEmpty)

    val repairedPath = tempDir("ivf-drift-repaired")
    val centsR = Ivf.repairLayout(spark, layout, repairedPath, k,
      threshold = threshold)
    assert(centsR.nonEmpty, "skewed layout must trigger a rewrite")
    val repaired = spark.read.parquet(repairedPath)
    assert(repaired.count() === drifted.count())
    val after = recallOf(centsR.get, repaired, queries)

    // Fresh-build baseline: same k/iters trained on the full current data.
    val full = a.unionByName(b)
    val centsF = Ivf.trainKMeansArrays(full, k, iters = 3)
    val fresh = recallOf(centsF, Ivf.assignFast(full, centsF), queries)

    assert(after >= fresh - 0.05,
      s"repaired recall $after must recover to fresh-build $fresh")
    assert(after > before,
      s"repair must improve drifted recall (before=$before after=$after)")
  }

  test("streaming combined ingest: segments serve == frozen-stats rebuild") {
    import graft.search.{Ivf, ServingFusion}
    import graft.text.{Analyzer, Bm25}
    import spark.implicits._
    val words = Array("spark", "join", "plan", "scan", "filter", "window",
      "stream", "state", "hash", "probe")
    def doc(i: Long): (Long, String, Array[Float]) = {
      val text = (0 until 5).map(j => words(((i + j * 3) % 10).toInt))
        .mkString(" ")
      val raw = Array.tabulate(4)(j => (math.sin(i * (j + 1)) + 1.5).toFloat)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
      (i, text, raw.map(x => (x / n).toFloat))
    }
    val baseDocs = (0L until 10L).map(doc).toDF("doc_id", "text", "embedding")
    val newDocs = (10L until 16L).map(doc).toDF("doc_id", "text", "embedding")
    val allDocs = baseDocs.unionByName(newDocs)

    def vecs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(vecs(baseDocs), 3, iters = 2)
    val postBase = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    def asg(df: org.apache.spark.sql.DataFrame) =
      Ivf.assignFast(vecs(df), cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket"))

    val base = ServingFusion.buildCombined(
      baseDocs.select(col("doc_id")), postBase, "doc_id", asg(baseDocs),
      numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base.count()
    val ref = new java.util.concurrent.atomic.AtomicReference(base)

    // Two staged files → two micro-batches → two appended segments.
    val src = tempDir("combined-ingest-src")
    newDocs.filter(col("doc_id") < 13).coalesce(1)
      .write.mode("append").parquet(src)
    newDocs.filter(col("doc_id") >= 13).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = spark.readStream.schema(allDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = Streams.combinedIngest(stream, "doc_id", "text", "embedding",
      cents, frozen, tdf, ref, tempDir("combined-ingest-cp"),
      numShardsPerSegment = 1)
    q.awaitTermination(120000)
    assert(ref.get() ne base, "ingest must have swapped the served index")

    val rebuilt = ServingFusion.buildCombined(
      allDocs.select(col("doc_id")), Bm25.postings(allDocs, "doc_id", "text"),
      "doc_id", asg(allDocs), numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))
    val sq = Seq(0L, 1L).map { qid =>
      val qtext = if (qid == 0) "spark join plan" else "filter window stream"
      val toks = Analyzer.analyze(qtext, "english")
        .groupBy(identity).map { case (t, g) => (t, g.size) }
        .toArray.sortBy(_._1)
      val (_, _, qv) = doc(qid + 50)
      ServingFusion.ServedQuery(qid, qv, toks)
    }
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, alpha0 = 0.6, k = 5,
          nProbe = 2, kVec = 3)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val served = serve(ref.get())
    assert(served === serve(rebuilt))
    assert(served.exists(_._2 >= 10L),
      "a streamed-in doc must be servable without a rebuild")

    // Durable shape: the same two micro-batches through a segment log,
    // then a simulated restart — a FRESH ref rebuilt from the base plus
    // recoverCombinedSegments over the log must serve the same results
    // as the live unioned index (and the rebuild).
    val log = tempDir("combined-ingest-log")
    val ref2 = new java.util.concurrent.atomic.AtomicReference(base)
    val q2 = Streams.combinedIngest(stream, "doc_id", "text", "embedding",
      cents, frozen, tdf, ref2, tempDir("combined-ingest-cp2"),
      numShardsPerSegment = 1, segmentLog = Some(log))
    q2.awaitTermination(120000)
    assert(serve(ref2.get()) === served)
    val recovered = Streams.recoverCombinedSegments(spark, log,
      "doc_id", "text", "embedding", cents, frozen, tdf, base)
    assert(serve(recovered) === served,
      "post-restart recovery from the segment log must serve identically")
    // An absent log recovers to the base unchanged.
    assert(Streams.recoverCombinedSegments(spark,
      tempDir("combined-ingest-nolog") + "/missing",
      "doc_id", "text", "embedding", cents, frozen, tdf, base) eq base)

    // CRASH-WINDOW RE-DELIVERY (VERDICT r16 #1): foreachBatch is
    // at-least-once — a crash between the log write and the checkpoint
    // commit re-delivers the batch. The batch's log directory is already
    // complete, so the re-delivery must change NOTHING: not the log (the
    // r16 `mode("append")` bug doubled it), not the served ref (its docs
    // arrived through recovery/the original delivery).
    val logRows = spark.read.parquet(log).count()
    val refBefore = ref2.get()
    Streams.ingestCombinedBatch(
      newDocs.filter(col("doc_id") < 13), batchId = 0L,
      "doc_id", "text", "embedding", cents, frozen, tdf, ref2,
      numShardsPerSegment = 1, segmentLog = Some(log))
    assert(ref2.get() eq refBefore,
      "a re-delivered batch must not append a duplicate segment")
    assert(spark.read.parquet(log).count() === logRows,
      "a re-delivered batch must not grow the log")
    assert(serve(Streams.recoverCombinedSegments(spark, log,
      "doc_id", "text", "embedding", cents, frozen, tdf, base)) === served,
      "served results must be unchanged after a re-delivered batch")

    // Crash MID-LOG-WRITE: a batch directory without _SUCCESS is invisible
    // to recovery, and the re-delivery rewrites it whole and appends.
    val extraDocs = (16L until 19L).map(doc).toDF("doc_id", "text", "embedding")
    Streams.ingestCombinedBatch(extraDocs, batchId = 2L,
      "doc_id", "text", "embedding", cents, frozen, tdf, ref2,
      numShardsPerSegment = 1, segmentLog = Some(log))
    val servedExtra = serve(ref2.get())
    val succ = new java.io.File(s"$log/batch=2/_SUCCESS")
    assert(succ.exists())
    assert(succ.delete())
    assert(Streams.completedLogBatches(spark, log).size === 2,
      "a partial batch directory must be invisible to recovery")
    assert(serve(Streams.recoverCombinedSegments(spark, log,
      "doc_id", "text", "embedding", cents, frozen, tdf, base)) === served,
      "recovery must not read a partially-written batch directory")
    val ref3 = new java.util.concurrent.atomic.AtomicReference(recovered)
    Streams.ingestCombinedBatch(extraDocs, batchId = 2L,
      "doc_id", "text", "embedding", cents, frozen, tdf, ref3,
      numShardsPerSegment = 1, segmentLog = Some(log))
    assert(serve(ref3.get()) === servedExtra,
      "re-delivery after a mid-write crash must land the batch exactly once")
    assert(Streams.completedLogBatches(spark, log).size === 3)
    assert(serve(Streams.recoverCombinedSegments(spark, log,
      "doc_id", "text", "embedding", cents, frozen, tdf, base)) === servedExtra)
    assert(Streams.maxLoggedId(spark, log, "doc_id") === Some(18L))

    // Compaction trigger: two appended segments at threshold 2 fire the
    // hook exactly once (the hook schedules the offline rebuild).
    locally {
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      val refC = new java.util.concurrent.atomic.AtomicReference(base)
      val qc = Streams.combinedIngest(
        spark.readStream.schema(allDocs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        "doc_id", "text", "embedding", cents, frozen, tdf, refC,
        tempDir("combined-ingest-cp3"), numShardsPerSegment = 1,
        baseBuildId = Some("base-A"), idWatermark = Some(9L),
        compactionThreshold = 2, onCompactionNeeded = () => {
          fired.incrementAndGet(); ()
        })
      qc.awaitTermination(120000)
      assert(fired.get() === 1,
        "2 segments at threshold 2 must request compaction exactly once")
      assert(serve(refC.get()) === served)
    }

    // Append-only id watermark (VERDICT r16 #3): an id at or below the
    // served watermark fails the batch loudly instead of double-scoring.
    val wm = new java.util.concurrent.atomic.AtomicLong(18L)
    val ex = intercept[IllegalArgumentException] {
      Streams.ingestCombinedBatch(extraDocs, batchId = 3L,
        "doc_id", "text", "embedding", cents, frozen, tdf, ref3,
        numShardsPerSegment = 1, segmentLog = None, idWatermark = Some(wm))
    }
    assert(ex.getMessage.contains("watermark"))
    val okDocs = (19L until 21L).map(doc).toDF("doc_id", "text", "embedding")
    Streams.ingestCombinedBatch(okDocs, batchId = 3L,
      "doc_id", "text", "embedding", cents, frozen, tdf, ref3,
      numShardsPerSegment = 1, segmentLog = None, idWatermark = Some(wm))
    assert(wm.get() === 20L, "the watermark must advance past a clean batch")

    base.unpersist(); tdf.unpersist()
  }

  test("an ingest or upsert micro-batch runs 5 Spark jobs on either layout") {
    import graft.JobCount
    import graft.search.{Ivf, ServingFusion}
    import graft.text.Bm25
    import spark.implicits._
    // Per micro-batch: the persisted batch's cache stage (its own job under
    // adaptive execution), ONE aggregate (count, watermark, duplicates,
    // superseded ids, distinct tokens), the log write, the frozen-df
    // lookup for the batch's tokens and the segment build.
    val PerBatch = 5
    def doc(i: Long): (Long, String, Array[Float]) =
      (i, s"spark join plan${i % 3} window", Array(1f, (i % 5).toFloat, 0.5f))
    val baseDocs = (0L until 8L).map(doc).toDF("doc_id", "text", "embedding")
    val cents = Ivf.trainKMeansArrays(baseDocs.select(col("doc_id").as("id"),
      col("embedding").as("vector")), 2, iters = 2)
    val post = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), post, "doc_id"))
    val tdf = Bm25.tokenDf(post).cache()
    tdf.count()
    val asg = Ivf.assignFast(baseDocs.select(col("doc_id").as("id"),
        col("embedding").as("vector")), cents)
      .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val base32 = ServingFusion.buildCombined(baseDocs.select(col("doc_id")),
      post, "doc_id", asg, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    val base8 = ServingFusion.buildCombinedInt8(baseDocs.select(col("doc_id")),
      post, "doc_id", asg, absMax = 1.0, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base32.count(); base8.count()
    val ref32 = new java.util.concurrent.atomic.AtomicReference(base32)
    val ref8 = new java.util.concurrent.atomic.AtomicReference(base8)
    val tombRef = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)

    val src = tempDir("jobs-ingest-src")
    (8L until 12L).map(doc).toDF("doc_id", "text", "embedding").coalesce(1)
      .write.mode("append").parquet(src)
    val upSrc = tempDir("jobs-upsert-src")
    (12L until 14L).map { i => val (_, t, v) = doc(i); (i, i - 10, t, v) }
      .toDF("doc_id", "replaces", "text", "embedding").coalesce(1)
      .write.mode("append").parquet(upSrc)
    def stream(dir: String, like: org.apache.spark.sql.DataFrame) =
      spark.readStream.schema(like.schema).parquet(dir)
    def run(q: => org.apache.spark.sql.streaming.StreamingQuery): Int =
      JobCount(spark) {
        val sq = q
        sq.awaitTermination(120000)
        sq.exception.foreach(e => throw e)
      }._2
    val log = tempDir("jobs-log")
    val ingest32 = run(Streams.combinedIngest(stream(src, baseDocs), "doc_id",
      "text", "embedding", cents, frozen, tdf, ref32, tempDir("jobs-cp1"),
      segmentLog = Some(s"$log/i32"), idWatermark = Some(7L)))
    val ingest8 = run(Streams.combinedIngestInt8(stream(src, baseDocs),
      "doc_id", "text", "embedding", cents, 1.0, frozen, tdf, ref8,
      tempDir("jobs-cp2"), segmentLog = Some(s"$log/i8"),
      idWatermark = Some(7L)))
    val upDocs = spark.read.parquet(upSrc)
    val upsert32 = run(Streams.upsertIngest(stream(upSrc, upDocs), "doc_id",
      "replaces", "text", "embedding", cents, frozen, tdf, ref32, tombRef,
      tempDir("jobs-cp3"), segmentLog = Some(s"$log/u32"),
      idWatermark = Some(11L)))
    val upsert8 = run(Streams.upsertIngestInt8(stream(upSrc, upDocs),
      "doc_id", "replaces", "text", "embedding", cents, 1.0, frozen, tdf,
      ref8, tombRef, tempDir("jobs-cp4"), segmentLog = Some(s"$log/u8"),
      idWatermark = Some(11L)))
    assert(Seq(ingest32, ingest8, upsert32, upsert8) ===
      Seq(PerBatch, PerBatch, PerBatch, PerBatch),
      "jobs per micro-batch (ingest f32, ingest int8, upsert f32, upsert int8)")
    assert(tombRef.get().toSeq === Seq(2L, 3L))
    assert(ref32.get().map(_.text.ids.length).sum() === 14)
    assert(ref8.get().map(_.text.ids.length).sum() === 14)
    base32.unpersist(); base8.unpersist(); tdf.unpersist()
  }

  test("streaming delete ingest merges a sorted tombstone set across batches") {
    import spark.implicits._
    val src = tempDir("tombstone-src")
    // Two staged files → two micro-batches; doc 12 deleted twice (deletes
    // are idempotent set unions — re-delivery needs no batchId keying).
    Seq(12L).toDF("doc_id").coalesce(1).write.mode("append").parquet(src)
    Seq(10L, 12L, 3L).toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(src)
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val q = Streams.tombstoneIngest(
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", 1).parquet(src),
      "doc_id", ref, tempDir("tombstone-cp"))
    q.awaitTermination(120000)
    assert(ref.get().toSeq === Seq(3L, 10L, 12L),
      "tombstones must merge sorted and deduped across micro-batches")
  }

  test("streaming upsert ingest replaces a doc live, delete-visible first") {
    import graft.search.{Ivf, ServingFusion}
    import graft.text.{Analyzer, Bm25}
    import spark.implicits._
    val words = Array("spark", "join", "plan", "scan", "filter", "window",
      "stream", "state", "hash", "probe")
    def doc(i: Long): (Long, String, Array[Float]) = {
      val text = (0 until 5).map(j => words(((i + j * 3) % 10).toInt))
        .mkString(" ")
      val raw = Array.tabulate(4)(j => (math.sin(i * (j + 1)) + 1.5).toFloat)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
      (i, text, raw.map(x => (x / n).toFloat))
    }
    val baseDocs = (0L until 10L).map(doc).toDF("doc_id", "text", "embedding")
    def vecs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(vecs(baseDocs), 3, iters = 2)
    val postBase = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    def asg(df: org.apache.spark.sql.DataFrame) =
      Ivf.assignFast(vecs(df), cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val base = ServingFusion.buildCombined(
      baseDocs.select(col("doc_id")), postBase, "doc_id", asg(baseDocs),
      numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base.count()

    // Upsert batch: doc 11 REPLACES doc 3 (new text+vector under a fresh
    // internal id — the reference's delete-then-add update flow,
    // hnsw_index.go:525 rejects an existing id); doc 12 is a plain insert.
    val upDocs = Seq(
      (11L, Some(3L), "probe hash state window filter",
        doc(11L)._3),
      (12L, None: Option[Long], doc(12L)._2, doc(12L)._3))
      .toDF("doc_id", "replaces", "text", "embedding")
    val ref = new java.util.concurrent.atomic.AtomicReference(base)
    val tombRef = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val log = tempDir("upsert-log")
    val wm = new java.util.concurrent.atomic.AtomicLong(9L)
    Streams.upsertCombinedBatch(upDocs, batchId = 0L, "doc_id", "replaces",
      "text", "embedding", cents, frozen, tdf, ref, tombRef,
      numShardsPerSegment = 1, segmentLog = Some(log), idWatermark = Some(wm))
    assert(tombRef.get().toSeq === Seq(3L),
      "the superseded id must join the tombstone set")
    assert(wm.get() === 12L)

    // Serve == frozen-stats rebuild with the doc REPLACED.
    val sq = Seq(0L, 1L).map { qid =>
      val qtext = if (qid == 0) "spark join plan" else "probe hash window"
      val toks = Analyzer.analyze(qtext, "english")
        .groupBy(identity).map { case (t, g) => (t, g.size) }
        .toArray.sortBy(_._1)
      ServingFusion.ServedQuery(qid, doc(qid + 50)._3, toks)
    }
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard],
        tomb: Array[Long]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, alpha0 = 0.6, k = 5,
          nProbe = 2, kVec = 3, tombstones = tomb)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val replacedDocs = baseDocs.filter(col("doc_id") =!= 3)
      .unionByName(upDocs.drop("replaces"))
    val rebuilt = ServingFusion.buildCombined(
      replacedDocs.select(col("doc_id")),
      Bm25.postings(replacedDocs, "doc_id", "text"), "doc_id",
      asg(replacedDocs), numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))
    val served = serve(ref.get(), tombRef.get())
    assert(served === serve(rebuilt, Array.emptyLongArray),
      "upsert serve must equal the rebuild with the doc replaced")
    assert(!served.exists(_._2 === 3L) && served.exists(_._2 >= 11L))

    // Crash-window re-delivery: same frame, same batchId — the tombstone
    // union is idempotent and the logged segment is skipped, INCLUDING
    // the watermark guard (the replayed ids are at/below the advanced
    // watermark by construction; the guard must not fire on a replay).
    val refBefore = ref.get()
    Streams.upsertCombinedBatch(upDocs, batchId = 0L, "doc_id", "replaces",
      "text", "embedding", cents, frozen, tdf, ref, tombRef,
      numShardsPerSegment = 1, segmentLog = Some(log), idWatermark = Some(wm))
    assert(ref.get() eq refBefore)
    assert(tombRef.get().toSeq === Seq(3L))
    assert(serve(ref.get(), tombRef.get()) === served)

    // RESTART FROM THE LOG ALONE (VERDICT r17 missing #1): crash after
    // the upsert batch landed; a fresh process recovers base + segment
    // log with a FRESH tombstone set. The batch logged its superseded
    // ids (`graft_replaces`) alongside the new docs, so the delete half
    // of the upsert recovers WITH the add half — no caller-side oplog
    // replay; a caller that skipped one previously served BOTH copies.
    val tombRec = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val recovered = Streams.recoverCombinedSegments(spark, log, "doc_id",
      "text", "embedding", cents, frozen, tdf, base,
      tombRef = Some(tombRec))
    assert(tombRec.get().toSeq === Seq(3L),
      "recovery must rebuild the tombstone set from the log's replaced ids")
    assert(serve(recovered, tombRec.get()) === served,
      "post-restart serve must equal the pre-crash serve — the old doc " +
        "never serves again")

    // The stream wrapper wires the same batch function.
    val src = tempDir("upsert-src")
    upDocs.coalesce(1).write.mode("append").parquet(src)
    val ref2 = new java.util.concurrent.atomic.AtomicReference(base)
    val tombRef2 = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val q = Streams.upsertIngest(
      spark.readStream.schema(upDocs.schema).parquet(src),
      "doc_id", "replaces", "text", "embedding", cents, frozen, tdf,
      ref2, tombRef2, tempDir("upsert-cp"), numShardsPerSegment = 1,
      baseBuildId = Some("base-U"), idWatermark = Some(9L))
    q.awaitTermination(120000)
    assert(serve(ref2.get(), tombRef2.get()) === served)

    base.unpersist(); tdf.unpersist()
  }

  test("decay override ingest merges last-write-wins by version") {
    import spark.implicits._
    val src = tempDir("override-src")
    // Two staged files → two micro-batches. Doc 1 is updated twice
    // (version 2 must win regardless of arrival order); doc 2's second
    // write is STALE (version 0 — e.g. a replayed old oplog row) and must
    // not clobber version 1.
    Seq((1L, 0.5, 1L), (2L, 0.8, 1L)).toDF("doc_id", "factor", "ver")
      .coalesce(1).write.mode("append").parquet(src)
    Seq((1L, 0.9, 2L), (2L, 0.1, 0L)).toDF("doc_id", "factor", "ver")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("factor",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ver",
        org.apache.spark.sql.types.LongType)))
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[Long, (Double, Long)])
    val q = Streams.decayOverrideIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
      "doc_id", "factor", "ver", ref, tempDir("override-cp"))
    q.awaitTermination(120000)
    assert(ref.get() === Map(1L -> (0.9, 2L), 2L -> (0.8, 1L)))
    assert(Streams.overridesArray(ref.get()).sortBy(_._1).toSeq ===
      Seq((1L, 0.9), (2L, 0.8)))

    // Re-delivery of EVERYTHING (fresh checkpoint, same in-memory map):
    // version arbitration makes the merge idempotent.
    val q2 = Streams.decayOverrideIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
      "doc_id", "factor", "ver", ref, tempDir("override-cp2"))
    q2.awaitTermination(120000)
    assert(ref.get() === Map(1L -> (0.9, 2L), 2L -> (0.8, 1L)))
  }

  test("compactCombinedServing folds the live state and clears exactly the snapshot") {
    import graft.search.{Ivf, ServingFusion}
    import graft.text.{Analyzer, Bm25}
    import spark.implicits._
    val words = Array("spark", "join", "plan", "scan", "filter", "window",
      "stream", "state", "hash", "probe")
    def doc(i: Long): (Long, String, Array[Float]) = {
      val text = (0 until 5).map(j => words(((i + j * 3) % 10).toInt))
        .mkString(" ")
      val raw = Array.tabulate(4)(j => (math.sin(i * (j + 1)) + 1.5).toFloat)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
      (i, text, raw.map(x => (x / n).toFloat))
    }
    val baseDocs = (0L until 10L).map(doc).toDF("doc_id", "text", "embedding")
    val newDocs = (10L until 13L).map(doc).toDF("doc_id", "text", "embedding")
    def vecs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(vecs(baseDocs), 3, iters = 2)
    val postBase = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    def asg(df: org.apache.spark.sql.DataFrame) =
      Ivf.assignFast(vecs(df), cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val base = ServingFusion.buildCombined(
      baseDocs.select(col("doc_id")), postBase, "doc_id", asg(baseDocs),
      numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base.count()
    val live = ServingFusion.appendCombined(base,
      newDocs.select(col("doc_id")),
      Bm25.postings(newDocs, "doc_id", "text"), "doc_id", asg(newDocs),
      frozen, tdf, numShards = 1).cache()
    live.count()

    val ref = new java.util.concurrent.atomic.AtomicReference(live)
    val tombRef = new java.util.concurrent.atomic.AtomicReference(
      Array(4L, 11L))
    val ovRef = new java.util.concurrent.atomic.AtomicReference(
      Map(2L -> (0.25, 5L)))
    val sq = Seq(0L, 1L).map { qid =>
      val qtext = if (qid == 0) "spark join plan" else "filter window stream"
      val toks = Analyzer.analyze(qtext, "english")
        .groupBy(identity).map { case (t, g) => (t, g.size) }
        .toArray.sortBy(_._1)
      ServingFusion.ServedQuery(qid, doc(qid + 50)._3, toks)
    }
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard],
        tomb: Array[Long], ov: Array[(Long, Double)]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, alpha0 = 0.6, k = 5,
          nProbe = 2, kVec = 3, tombstones = tomb, decOverrides = ov)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val before = serve(live, tombRef.get(),
      Streams.overridesArray(ovRef.get()))

    val compacted = Streams.compactCombinedServing(ref, tombRef, ovRef,
      numPartitions = 2)
    assert(ref.get() eq compacted, "the swap must be visible through ref")
    assert(compacted.getNumPartitions === 2, "base+segment must fold")
    assert(tombRef.get().isEmpty && ovRef.get().isEmpty,
      "compaction must clear the snapshot it baked in")
    assert(serve(compacted, Array.emptyLongArray, Array.empty) === before,
      "compacted serve must equal the live sets' serve, exactly")

    // Growing the shard count needs the shuffle (ADVICE r17: coalesce
    // alone silently yielded fewer partitions than requested). Whole
    // shards move — 2 input shards spread over 4 partitions (2 empty),
    // serve-identical.
    val grown = ServingFusion.compactCombined(compacted, numPartitions = 4)
    assert(grown.getNumPartitions === 4,
      "requesting more partitions than the input has must shuffle up")
    assert(serve(grown, Array.emptyLongArray, Array.empty) === before)

    base.unpersist(); live.unpersist(); tdf.unpersist()
  }

  test("snapshot-then-truncate restarts clean and survives the half-rewrite crash") {
    import graft.search.{Ivf, ServingFusion}
    import graft.text.{Analyzer, Bm25}
    import spark.implicits._
    val words = Array("spark", "join", "plan", "scan", "filter", "window",
      "stream", "state", "hash", "probe")
    def doc(i: Long): (Long, String, Array[Float]) = {
      val text = (0 until 5).map(j => words(((i + j * 3) % 10).toInt))
        .mkString(" ")
      val raw = Array.tabulate(4)(j => (math.sin(i * (j + 1)) + 1.5).toFloat)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
      (i, text, raw.map(x => (x / n).toFloat))
    }
    val baseDocs = (0L until 10L).map(doc).toDF("doc_id", "text", "embedding")
    val newDocs = (10L until 14L).map(doc).toDF("doc_id", "text", "embedding")
    def vecs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(vecs(baseDocs), 3, iters = 2)
    val postBase = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    def asg(df: org.apache.spark.sql.DataFrame) =
      Ivf.assignFast(vecs(df), cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val base = ServingFusion.buildCombined(
      baseDocs.select(col("doc_id")), postBase, "doc_id", asg(baseDocs),
      numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base.count()

    // Two durable micro-batches land, then the lifecycle runs: compact →
    // snapshot → truncate → restart from the snapshot + (now empty) log.
    val log = tempDir("snap-log")
    val ref = new java.util.concurrent.atomic.AtomicReference(base)
    Streams.ingestCombinedBatch(newDocs.filter(col("doc_id") < 12),
      batchId = 0L, "doc_id", "text", "embedding", cents, frozen, tdf,
      ref, numShardsPerSegment = 1, segmentLog = Some(log))
    Streams.ingestCombinedBatch(newDocs.filter(col("doc_id") >= 12),
      batchId = 1L, "doc_id", "text", "embedding", cents, frozen, tdf,
      ref, numShardsPerSegment = 1, segmentLog = Some(log))
    val sq = Seq(0L, 1L).map { qid =>
      val qtext = if (qid == 0) "spark join plan" else "filter window stream"
      val toks = Analyzer.analyze(qtext, "english")
        .groupBy(identity).map { case (t, g) => (t, g.size) }
        .toArray.sortBy(_._1)
      ServingFusion.ServedQuery(qid, doc(qid + 50)._3, toks)
    }
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, alpha0 = 0.6, k = 5,
          nProbe = 2, kVec = 3)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val tombRef = new java.util.concurrent.atomic.AtomicReference(Array(4L))
    val ovRef = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[Long, (Double, Long)])
    val compacted = Streams.compactCombinedServing(ref, tombRef, ovRef,
      numPartitions = 2)
    val served = serve(compacted)

    // CRASH WINDOW between save and truncate: the snapshot exists, the
    // log still holds both (now superseded) batches. Recovery keyed by
    // the snapshot's watermark must NOT double-serve them.
    val snapDir = tempDir("snap-dir")
    ServingFusion.saveCombined(compacted, snapDir, frozen, tdf)
    val snap = ServingFusion.loadCombined(spark, snapDir, numShards = 2)
    assert(snap.maxId === 13L)
    assert(Streams.completedLogBatches(spark, log).size === 2,
      "fixture: the stale log must still hold the superseded batches")
    val halfRewrite = Streams.recoverCombinedSegments(spark, log,
      "doc_id", "text", "embedding", cents, snap.frozenStats, snap.tokenDf,
      snap.index, minIdExclusive = Some(snap.maxId))
    assert(serve(halfRewrite) === served,
      "recovery over a stale log must not double-serve snapshotted docs")
    // Without the watermark the same recovery physically DUPLICATES the
    // snapshotted docs in the served index — the failure mode the filter
    // exists for (identical frozen-stats copies can tie-hide in a top-k,
    // so the structural check is the deterministic one).
    val unguarded = Streams.recoverCombinedSegments(spark, log,
      "doc_id", "text", "embedding", cents, snap.frozenStats, snap.tokenDf,
      snap.index)
    val unguardedIds = unguarded.flatMap(_.text.ids).collect()
    assert(unguardedIds.length > unguardedIds.distinct.length,
      "fixture: an unguarded stale-log recovery must duplicate docs")
    val guardedIds = halfRewrite.flatMap(_.text.ids).collect()
    assert(guardedIds.length === guardedIds.distinct.length)

    // A batch lands AFTER the snapshot was captured (ids above its
    // watermark): the truncate must SKIP it — its docs are not in the
    // snapshot, and deleting it (checkpoint already committed) would
    // lose them forever.
    val lateDocs = (20L until 22L).map(doc).toDF("doc_id", "text", "embedding")
    Streams.ingestCombinedBatch(lateDocs, batchId = 2L, "doc_id", "text",
      "embedding", cents, frozen, tdf, ref,
      numShardsPerSegment = 1, segmentLog = Some(log))
    assert(Streams.snapshotCombined(compacted, snapDir, frozen, tdf,
      "doc_id", segmentLog = Some(log)) === 2,
      "truncate must drop exactly the two snapshotted batches")
    assert(Streams.completedLogBatches(spark, log).size === 1,
      "the post-snapshot batch must survive the truncate")

    // Restart = load + surviving log above the watermark + resumed ingest.
    val restarted = ServingFusion.loadCombined(spark, snapDir, numShards = 2)
    val recoveredRestart = Streams.recoverCombinedSegments(spark, log,
      "doc_id", "text", "embedding", cents, restarted.frozenStats,
      restarted.tokenDf, restarted.index,
      minIdExclusive = Some(restarted.maxId))
    val restartIds = recoveredRestart.flatMap(_.text.ids).collect().sorted
    assert(restartIds.toSeq ===
      ((0L to 13L).filterNot(_ == 4L) ++ Seq(20L, 21L)),
      "restart must serve snapshot docs + the surviving late batch, once each")
    val ref2 = new java.util.concurrent.atomic.AtomicReference(recoveredRestart)
    val moreDocs = (24L until 26L).map(doc).toDF("doc_id", "text", "embedding")
    val wm = new java.util.concurrent.atomic.AtomicLong(21L)
    Streams.ingestCombinedBatch(moreDocs, batchId = 3L, "doc_id", "text",
      "embedding", cents, restarted.frozenStats, restarted.tokenDf, ref2,
      numShardsPerSegment = 1, segmentLog = Some(log), idWatermark = Some(wm))
    assert(wm.get() === 25L)
    assert(serve(ref2.get()).nonEmpty)

    // rebaseUnion (the compaction swap under live ingest): segments
    // appended AFTER the compaction snapshotted its input must survive
    // the swap — the splice keeps them on top of the compacted base.
    locally {
      val old = ref2.get()
      val seg = ServingFusion.buildCombined(
        Seq(30L).toDF("doc_id"),
        Bm25.postings(Seq((30L, "probe hash")).toDF("doc_id", "text"),
          "doc_id", "text"),
        "doc_id",
        asg((30L until 31L).map(doc).toDF("doc_id", "text", "embedding")),
        dec = None, numShards = 1, prebuiltTokenDf = Some(tdf),
        frozenStats = Some(frozen))
      val raced = old.union(seg) // ingest appended during the compact
      val compacted2 = ServingFusion.compactCombined(old, numPartitions = 2)
      val spliced = Streams.rebaseUnion(raced, old, compacted2)
      assert(spliced.flatMap(_.text.ids).collect().sorted.toSeq ===
        (old.flatMap(_.text.ids).collect() :+ 30L).sorted.toSeq,
        "the raced segment must survive the compaction swap")
      // A ref mutated in a non-append way fails loudly instead of
      // silently dropping state.
      val ex = intercept[IllegalArgumentException] {
        Streams.rebaseUnion(compacted2, old, compacted2)
      }
      assert(ex.getMessage.contains("non-append"))
    }

    // Intra-batch duplicate ids fail the watermark guard loudly (a
    // producer retry inside one micro-batch double-scores otherwise).
    val dupDocs = Seq(doc(40L), doc(41L), doc(41L))
      .toDF("doc_id", "text", "embedding")
    val exDup = intercept[IllegalArgumentException] {
      Streams.ingestCombinedBatch(dupDocs, batchId = 9L, "doc_id", "text",
        "embedding", cents, frozen, tdf, ref2, numShardsPerSegment = 1,
        segmentLog = None,
        idWatermark = Some(new java.util.concurrent.atomic.AtomicLong(25L)))
    }
    assert(exDup.getMessage.contains("duplicate ids within"))

    base.unpersist(); tdf.unpersist()
  }

  test("int8 combined serving has full streaming parity with f32") {
    import graft.search.{Ivf, ServingFusion}
    import graft.text.{Analyzer, Bm25}
    import spark.implicits._
    val words = Array("spark", "join", "plan", "scan", "filter", "window",
      "stream", "state", "hash", "probe")
    def doc(i: Long): (Long, String, Array[Float]) = {
      val text = (0 until 5).map(j => words(((i + j * 3) % 10).toInt))
        .mkString(" ")
      val raw = Array.tabulate(4)(j => (math.sin(i * (j + 1)) + 1.5).toFloat)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
      (i, text, raw.map(x => (x / n).toFloat))
    }
    val baseDocs = (0L until 10L).map(doc).toDF("doc_id", "text", "embedding")
    val newDocs = (10L until 14L).map(doc).toDF("doc_id", "text", "embedding")
    val allDocs = baseDocs.unionByName(newDocs)
    def vecs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(vecs(baseDocs), 3, iters = 2)
    val postBase = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    def asg(df: org.apache.spark.sql.DataFrame) =
      Ivf.assignFast(vecs(df), cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val base8 = ServingFusion.buildCombinedInt8(
      baseDocs.select(col("doc_id")), postBase, "doc_id", asg(baseDocs),
      absMax = 1.0, numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base8.count()

    // Streaming ingest (two micro-batches through the durable log) ==
    // frozen-stats rebuild over the full corpus.
    val src = tempDir("int8-ingest-src")
    newDocs.filter(col("doc_id") < 12).coalesce(1)
      .write.mode("append").parquet(src)
    newDocs.filter(col("doc_id") >= 12).coalesce(1)
      .write.mode("append").parquet(src)
    val log = tempDir("int8-ingest-log")
    val ref = new java.util.concurrent.atomic.AtomicReference(base8)
    val q = Streams.combinedIngestInt8(
      spark.readStream.schema(allDocs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      "doc_id", "text", "embedding", cents, absMax = 1.0, frozen, tdf,
      ref, tempDir("int8-ingest-cp"), numShardsPerSegment = 1,
      segmentLog = Some(log), baseBuildId = Some("base-I8"),
      idWatermark = Some(9L))
    q.awaitTermination(120000)
    val sq = Seq(0L, 1L).map { qid =>
      val qtext = if (qid == 0) "spark join plan" else "filter window stream"
      val toks = Analyzer.analyze(qtext, "english")
        .groupBy(identity).map { case (t, g) => (t, g.size) }
        .toArray.sortBy(_._1)
      ServingFusion.ServedQuery(qid, doc(qid + 50)._3, toks)
    }
    def serve8(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShardInt8]) =
      ServingFusion.fusedTopKCombinedInt8(ix, cents, sq, absMax = 1.0,
          alpha0 = 0.6, k = 5, nProbe = 2, kVec = 3)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val rebuilt8 = ServingFusion.buildCombinedInt8(
      allDocs.select(col("doc_id")),
      Bm25.postings(allDocs, "doc_id", "text"), "doc_id", asg(allDocs),
      absMax = 1.0, numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))
    val served = serve8(ref.get())
    assert(served === serve8(rebuilt8),
      "int8 streaming ingest must serve like the frozen-stats rebuild")
    assert(served.exists(_._2 >= 10L))

    // Restart recovery from the log == the live unioned index; a
    // re-delivered batch changes nothing (shared exactly-once core).
    val recovered = Streams.recoverCombinedSegmentsInt8(spark, log,
      "doc_id", "text", "embedding", cents, absMax = 1.0, frozen, tdf,
      base8)
    assert(serve8(recovered) === served)
    val refBefore = ref.get()
    Streams.ingestCombinedBatchInt8(newDocs.filter(col("doc_id") < 12),
      batchId = 0L, "doc_id", "text", "embedding", cents, absMax = 1.0,
      frozen, tdf, ref, numShardsPerSegment = 1, segmentLog = Some(log))
    assert(ref.get() eq refBefore,
      "a re-delivered int8 batch must not append a duplicate segment")

    // Compaction orchestration: fold + tombstone drop, swap, keyed clear.
    val tombRef = new java.util.concurrent.atomic.AtomicReference(
      Array(11L))
    val ovRef = new java.util.concurrent.atomic.AtomicReference(
      Map.empty[Long, (Double, Long)])
    val beforeCompact = ServingFusion.fusedTopKCombinedInt8(ref.get(),
        cents, sq, absMax = 1.0, alpha0 = 0.6, k = 5, nProbe = 2,
        kVec = 3, tombstones = Array(11L))
      .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val compacted = Streams.compactCombinedServingInt8(ref, tombRef, ovRef,
      numPartitions = 2)
    assert(ref.get() eq compacted)
    assert(compacted.getNumPartitions === 2)
    assert(tombRef.get().isEmpty)
    assert(serve8(compacted) === beforeCompact)

    // UPSERT parity (ADVICE r17): doc 20 replaces doc 12 — tombstone
    // first, then the int8 segment; the superseded id rides the log.
    val upDocs = Seq((20L, Some(12L), doc(20L)._2, doc(20L)._3))
      .toDF("doc_id", "replaces", "text", "embedding")
    val tombU = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val wmU = new java.util.concurrent.atomic.AtomicLong(13L)
    Streams.upsertCombinedBatchInt8(upDocs, batchId = 7L, "doc_id",
      "replaces", "text", "embedding", cents, absMax = 1.0, frozen, tdf,
      ref, tombU, numShardsPerSegment = 1, segmentLog = Some(log),
      idWatermark = Some(wmU))
    assert(tombU.get().toSeq === Seq(12L))
    assert(wmU.get() === 20L)
    def serve8t(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShardInt8],
        tomb: Array[Long]) =
      ServingFusion.fusedTopKCombinedInt8(ix, cents, sq, absMax = 1.0,
          alpha0 = 0.6, k = 5, nProbe = 2, kVec = 3, tombstones = tomb)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val upsertDocs = allDocs
      .filter(col("doc_id") =!= 11 && col("doc_id") =!= 12)
      .unionByName(upDocs.drop("replaces"))
    val rebuiltUp = ServingFusion.buildCombinedInt8(
      upsertDocs.select(col("doc_id")),
      Bm25.postings(upsertDocs, "doc_id", "text"), "doc_id",
      asg(upsertDocs), absMax = 1.0, numShards = 2,
      prebuiltTokenDf = Some(tdf), frozenStats = Some(frozen))
    val servedUp = serve8t(ref.get(), tombU.get())
    assert(servedUp === serve8t(rebuiltUp, Array.emptyLongArray),
      "int8 upsert serve must equal the rebuild with the doc replaced")

    // SNAPSHOT-THEN-TRUNCATE parity (ADVICE r17): compact (bakes the
    // upsert's tombstone in), save, truncate, restart from snapshot +
    // log alone — the same two crash windows as f32, keyed by maxId.
    val tombAfter = new java.util.concurrent.atomic.AtomicReference(
      tombU.get())
    val compacted2 = Streams.compactCombinedServingInt8(ref, tombAfter,
      new java.util.concurrent.atomic.AtomicReference(
        Map.empty[Long, (Double, Long)]),
      numPartitions = 2)
    val snapDir = tempDir("int8-snap-dir")
    assert(Streams.snapshotCombinedInt8(compacted2, snapDir, absMax = 1.0,
      frozen, tdf, "doc_id", segmentLog = Some(log)) >= 1,
      "the snapshot must truncate the superseded batches")
    val loaded = ServingFusion.loadCombinedInt8(spark, snapDir,
      numShards = 2)
    assert(loaded.maxId === 20L && loaded.absMax === 1.0)
    val tombRestart = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val restarted = Streams.recoverCombinedSegmentsInt8(spark, log,
      "doc_id", "text", "embedding", cents, absMax = 1.0,
      loaded.frozenStats, loaded.tokenDf, loaded.index,
      minIdExclusive = Some(loaded.maxId), tombRef = Some(tombRestart))
    assert(serve8t(restarted, tombRestart.get()) === servedUp,
      "int8 restart from snapshot + log must serve like the pre-crash state")

    base8.unpersist(); tdf.unpersist()
  }

  test("combined ingest checkpoint binds to one base build") {
    val cp = tempDir("combined-ingest-bind")
    Streams.bindCheckpointToBase(spark, cp, "base-build-7")
    // Same base: idempotent.
    Streams.bindCheckpointToBase(spark, cp, "base-build-7")
    // A rebuilt base against the old checkpoint: fail fast, not silent
    // recall loss.
    val ex = intercept[IllegalArgumentException] {
      Streams.bindCheckpointToBase(spark, cp, "base-build-8")
    }
    assert(ex.getMessage.contains("bound to base build"))
  }

  test("ingest append survives a concurrent compaction (lost-update race, " +
      "VERDICT r17 #1)") {
    import graft.search.{Ivf, ServingFusion}
    import graft.text.{Analyzer, Bm25}
    import spark.implicits._
    val words = Array("spark", "join", "plan", "scan", "filter", "window",
      "stream", "state", "hash", "probe")
    def doc(i: Long): (Long, String, Array[Float]) = {
      val text = (0 until 5).map(j => words(((i + j * 3) % 10).toInt))
        .mkString(" ")
      val raw = Array.tabulate(4)(j => (math.sin(i * (j + 1)) + 1.5).toFloat)
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
      (i, text, raw.map(x => (x / n).toFloat))
    }
    val baseDocs = (0L until 10L).map(doc).toDF("doc_id", "text", "embedding")
    val newDocs = (10L until 13L).map(doc).toDF("doc_id", "text", "embedding")
    def vecs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(vecs(baseDocs), 3, iters = 2)
    val postBase = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), postBase, "doc_id"))
    val tdf = Bm25.tokenDf(postBase).cache()
    tdf.count()
    def asg(df: org.apache.spark.sql.DataFrame) =
      Ivf.assignFast(vecs(df), cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket"))
    val base = ServingFusion.buildCombined(
      baseDocs.select(col("doc_id")), postBase, "doc_id", asg(baseDocs),
      numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    base.count()
    val seg = ServingFusion.buildCombined(
      newDocs.select(col("doc_id")),
      Bm25.postings(newDocs, "doc_id", "text"), "doc_id", asg(newDocs),
      dec = None, numShards = 1, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen)).cache()
    seg.count()

    // Live state: doc 4 deleted, doc 2's decay overridden. The hook
    // drives THE interleaving (compaction's CAS lands between ingest's
    // read and its swap — a microsecond window in production): the old
    // get-then-set append would overwrite the compacted index with the
    // stale pre-compaction chain AFTER tombRef/ovRef were cleared,
    // resurrecting doc 4 permanently with no tombstone left to hide it.
    val ref = new java.util.concurrent.atomic.AtomicReference(base)
    val tombRef = new java.util.concurrent.atomic.AtomicReference(Array(4L))
    val ovRef = new java.util.concurrent.atomic.AtomicReference(
      Map(2L -> (0.25, 5L)))
    val raced = new java.util.concurrent.atomic.AtomicInteger(0)
    Streams.appendSegment(ref, seg, beforeCas = () => {
      if (raced.incrementAndGet() == 1) {
        Streams.compactCombinedServing(ref, tombRef, ovRef,
          numPartitions = 2)
        ()
      }
    })
    assert(raced.get() === 2,
      "fixture: the append's first CAS must lose to the compaction and retry")
    assert(tombRef.get().isEmpty && ovRef.get().isEmpty,
      "fixture: the compaction must have cleared the live sets")

    // The compaction survived: doc 4 is physically gone from the served
    // chain (not merely tombstone-hidden — the sets are empty now), and
    // the raced-in segment serves on top of the compacted base.
    val servedIds = ref.get().flatMap(_.text.ids).collect().sorted
    assert(servedIds.toSeq === ((0L to 12L).filterNot(_ == 4L)),
      "the compaction swap must never be discarded by a racing append")

    // Serve == frozen-stats rebuild of the logical state (doc 4 deleted,
    // doc 2's factor baked, segment docs present).
    val sq = Seq(0L, 1L).map { qid =>
      val qtext = if (qid == 0) "spark join plan" else "filter window stream"
      val toks = Analyzer.analyze(qtext, "english")
        .groupBy(identity).map { case (t, g) => (t, g.size) }
        .toArray.sortBy(_._1)
      ServingFusion.ServedQuery(qid, doc(qid + 50)._3, toks)
    }
    def serve(ix: org.apache.spark.rdd.RDD[ServingFusion.CombinedShard],
        ov: Array[(Long, Double)]) =
      ServingFusion.fusedTopKCombined(ix, cents, sq, alpha0 = 0.6, k = 5,
          nProbe = 2, kVec = 3, decOverrides = ov)
        .sortBy(r => (r._1, -r._3, r._2)).toSeq
    val logicalDocs = baseDocs.filter(col("doc_id") =!= 4)
      .unionByName(newDocs)
    val rebuilt = ServingFusion.buildCombined(
      logicalDocs.select(col("doc_id")),
      Bm25.postings(logicalDocs, "doc_id", "text"), "doc_id",
      asg(logicalDocs), numShards = 2, prebuiltTokenDf = Some(tdf),
      frozenStats = Some(frozen))
    assert(serve(ref.get(), Array.empty) ===
      serve(rebuilt, Array((2L, 0.25))),
      "post-race serve must equal the logical-state rebuild")

    base.unpersist(); seg.unpersist(); tdf.unpersist()
  }

  test("tombstone ingest is bounded: threshold fires compaction, cap " +
      "fails the batch loudly (VERDICT r17 missing #2)") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    val src = tempDir("tomb-bound-src")
    Seq(1L, 2L).toDF("doc_id").coalesce(1).write.mode("append").parquet(src)
    Seq(3L, 4L).toDF("doc_id").coalesce(1).write.mode("append").parquet(src)

    // Threshold: the second batch carries the set 2 → 4 past 3; the hook
    // fires exactly once (compaction clears the set and re-arms it).
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Streams.tombstoneIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
      "doc_id", ref, tempDir("tomb-bound-cp"),
      compactionThreshold = 3, onCompactionNeeded = () => {
        fired.incrementAndGet(); ()
      })
    q.awaitTermination(120000)
    assert(ref.get().length === 4)
    assert(fired.get() === 1,
      "crossing the threshold must request compaction exactly once")

    // Hard cap: the merge that would exceed it fails the batch loudly
    // BEFORE mutating the set — the broadcast payload stays bounded.
    val ref2 = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val q2 = Streams.tombstoneIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src),
      "doc_id", ref2, tempDir("tomb-bound-cp2"), maxTombstones = 3)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(120000)
      throw new IllegalStateException("the capped stream must have failed")
    }
    assert(ex.getMessage.contains("cap") ||
      ex.getCause.getMessage.contains("cap"))
    assert(ref2.get().length === 2,
      "the failing merge must not have mutated the set")

    // Re-delivery of already-merged ids is NOT a cap violation (exact
    // union size, not a length estimate): merging {1,2} into {1,2} under
    // cap 2 is a no-op, not a failure.
    val ref3 = new java.util.concurrent.atomic.AtomicReference(Array(1L, 2L))
    val src3 = tempDir("tomb-bound-src3")
    Seq(1L, 2L).toDF("doc_id").coalesce(1).write.mode("append").parquet(src3)
    val q3 = Streams.tombstoneIngest(
      spark.readStream.schema(schema).parquet(src3),
      "doc_id", ref3, tempDir("tomb-bound-cp3"), maxTombstones = 2)
    q3.awaitTermination(120000)
    assert(ref3.get().toSeq === Seq(1L, 2L))
  }

  test("truncateSegmentLog never deletes a null-max-id batch (ADVICE r17)") {
    import spark.implicits._
    val log = tempDir("trunc-null-log")
    // batch=0: all-null ids (possible when ingest ran without an
    // idWatermark — the guard that rejects them only runs inside it);
    // batch=1: ids under the snapshot watermark; batch=2: ids above it.
    Seq[Option[Long]](None, None).toDF("doc_id")
      .withColumn("text", lit("x")).withColumn("embedding",
        array(lit(0.1f)))
      .write.parquet(s"$log/batch=0")
    Seq(5L, 6L).toDF("doc_id")
      .withColumn("text", lit("x")).withColumn("embedding",
        array(lit(0.1f)))
      .write.parquet(s"$log/batch=1")
    Seq(50L).toDF("doc_id")
      .withColumn("text", lit("x")).withColumn("embedding",
        array(lit(0.1f)))
      .write.parquet(s"$log/batch=2")
    assert(Streams.truncateSegmentLog(spark, log, "doc_id", upToId = 10L)
      === 1, "exactly the covered batch must be truncated")
    val left = Streams.completedLogBatches(spark, log)
      .map(_.split('/').last).sorted
    assert(left === Seq("batch=0", "batch=2"),
      "null-max and above-watermark batches must survive — their rows " +
        "are not carried by the snapshot")
  }

  test("tombstone cap is a CAS invariant under two concurrent writers (r19)") {
    // Two writers race disjoint merges into one capped set: whatever the
    // interleaving, the set must NEVER exceed the cap — exactly one merge
    // commits and the other fails loudly with nothing committed (the old
    // get-then-require outside the CAS let both pass and jointly
    // overshoot). 50 rounds of real threads through a start barrier.
    for (round <- 1 to 50) {
      val ref = new java.util.concurrent.atomic.AtomicReference(Array(1L, 2L))
      val cap = 3
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = Seq(Array(10L + round), Array(20L + round)).map { ids =>
        new Thread(() => {
          barrier.await()
          try { Streams.mergeTombstones(ref, ids, cap); () }
          catch { case _: IllegalArgumentException =>
            failures.incrementAndGet(); () }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(ref.get().length <= cap,
        s"round $round: the set exceeded the cap under a two-writer race")
      assert(failures.get() === 1,
        s"round $round: exactly one of the two over-cap merges must fail")
      assert(ref.get().length === cap)
    }
  }

  test("compaction hook fires when the set entered over-threshold through " +
      "another path (r19, ADVICE r18)") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    val src = tempDir("tomb-armed-src")
    Seq(100L).toDF("doc_id").coalesce(1).write.mode("append").parquet(src)
    // The set is ALREADY past the threshold at stream start (an upsert
    // stream or recovery fold put it there): the old crossing test
    // (`before < threshold`) never fired; the armed hook fires on the
    // first merge that observes the state.
    val ref = new java.util.concurrent.atomic.AtomicReference(
      Array(1L, 2L, 3L, 4L))
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Streams.tombstoneIngest(
      spark.readStream.schema(schema).parquet(src),
      "doc_id", ref, tempDir("tomb-armed-cp"),
      compactionThreshold = 3, onCompactionNeeded = () => {
        fired.incrementAndGet(); ()
      })
    q.awaitTermination(120000)
    assert(ref.get().length === 5)
    assert(fired.get() === 1,
      "a merge observing an already-over-threshold set must fire the hook")
  }

  test("truncateSegmentLog deletes a complete-but-empty batch (r19)") {
    import spark.implicits._
    val log = tempDir("trunc-empty-log")
    Seq.empty[Long].toDF("doc_id")
      .withColumn("text", lit("x")).withColumn("embedding", array(lit(0.1f)))
      .write.parquet(s"$log/batch=0")
    Seq(50L).toDF("doc_id")
      .withColumn("text", lit("x")).withColumn("embedding", array(lit(0.1f)))
      .write.parquet(s"$log/batch=1")
    assert(Streams.truncateSegmentLog(spark, log, "doc_id", upToId = 10L)
      === 1, "the zero-row complete batch contributes no docs and must go")
    assert(Streams.completedLogBatches(spark, log)
      .map(_.split('/').last) === Seq("batch=1"))
  }

  test("recovery fails loudly when folded replaces exceed the cap (r19)") {
    import graft.search.{Ivf, ServingFusion}
    import graft.text.Bm25
    import spark.implicits._
    val baseDocs = (0L until 6L).map(i =>
        (i, s"alpha beta w$i", Array.tabulate(4)(j =>
          (math.sin(i * (j + 1)) + 1.5).toFloat)))
      .toDF("doc_id", "text", "embedding")
    def vecs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long").as("id"),
        col("embedding").cast("array<float>").as("vector"))
    val cents = Ivf.trainKMeansArrays(vecs(baseDocs), 2, iters = 1)
    val post = Bm25.postings(baseDocs, "doc_id", "text")
    val frozen = Bm25.corpusStats(Bm25.docLengthsFromPostings(
      baseDocs.select(col("doc_id")), post, "doc_id"))
    val tdf = Bm25.tokenDf(post)
    val base = ServingFusion.buildCombined(
      baseDocs.select(col("doc_id")), post, "doc_id",
      Ivf.assignFast(vecs(baseDocs), cents)
        .select(col("id").as("doc_id"), col("vector"), col("bucket")),
      numShards = 1, prebuiltTokenDf = Some(tdf), frozenStats = Some(frozen))
    // A logged batch whose upserts superseded 3 docs; cap 2 must fail the
    // recovery BEFORE collecting the fold onto the driver.
    val log = tempDir("recover-capped-log")
    Seq((10L, Some(0L)), (11L, Some(1L)), (12L, Some(2L)))
      .toDF("doc_id", "graft_replaces")
      .withColumn("text", lit("alpha beta"))
      .withColumn("embedding", array(lit(0.1f), lit(0.2f), lit(0.3f),
        lit(0.4f)))
      .write.parquet(s"$log/batch=0")
    val tombRef = new java.util.concurrent.atomic.AtomicReference(
      Array.emptyLongArray)
    val ex = intercept[IllegalArgumentException] {
      Streams.recoverCombinedSegments(spark, log, "doc_id", "text",
        "embedding", cents, frozen, tdf, base, numShards = 1,
        tombRef = Some(tombRef), maxReplaces = 2)
    }
    assert(ex.getMessage.contains("cap"))
    assert(tombRef.get().isEmpty, "a failed recovery must not mutate the set")
    // At/under the cap the same recovery folds and succeeds.
    val recovered = Streams.recoverCombinedSegments(spark, log, "doc_id",
      "text", "embedding", cents, frozen, tdf, base, numShards = 1,
      tombRef = Some(tombRef), maxReplaces = 3)
    assert(tombRef.get().toSeq === Seq(0L, 1L, 2L))
    assert(recovered.count() > 0)
  }
}
