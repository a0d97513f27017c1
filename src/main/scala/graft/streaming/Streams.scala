package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.search.{ServingFusion, VecCodec}
import graft.search.ServingFusion.{CombinedBlocks, CombinedShardInt8}

/** Streaming / reactivity surface (SURVEY §2.10, E1-E4).
  *
  * The reference's EventBus (`pkg/engine/events.go:6-90`) emits typed events
  * on every mutation to in-process subscribers; here the event/op log is a
  * STREAMING SOURCE and each subscriber is a streaming query. Its
  * drop-on-slow-consumer semantics map to source-side rate limits
  * (`maxFilesPerTrigger`) rather than backpressure coupling; its file-watch
  * vectorizer pipelines (`pkg/rag/pipeline.go:106-235`, mtime-diff rescans)
  * ARE Structured Streaming's file source — checkpointed offsets replace the
  * mtime state store.
  *
  * Every transformation is shared between batch and streaming (same
  * DataFrame function), so the batch oracle checks the exact logic the
  * stream runs — E5 in the survey: the reference has no watermarks; we get
  * real event-time windows + late-data handling for free.
  */
object Streams {

  /** The events table schema, with `ts` as raw nanos (TIMESTAMP(NANOS) is
    * unsupported by vanilla Spark readers — see Tables.events).
    */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 1-hour event-time window per event type: counts + exact
    * (decimal) value sums. Works identically over a batch or streaming
    * DataFrame with (ts_sec, event_type, value); map-side partial
    * aggregation, one shuffle on (window, type).
    */
  def eventWindowAgg(ev: DataFrame): DataFrame =
    ev.withColumn("tsc", timestamp_seconds(col("ts_sec")))
      .groupBy(window(col("tsc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 6))), 2)
          .cast("double").as("sum_value"))
      .select(col("w.start").cast("long").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** E1 — the events stream as a Structured Streaming file source. `path`
    * is a directory of parquet part files (the oplog/event log layout).
    */
  def eventsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 10): DataFrame = {
    // Streaming file sources need an explicit schema; probe the directory's
    // existing part files so the `ts` physical type (long nanos vs
    // timestamp[us]) matches whatever the fixture actually contains, and
    // derive ts_sec with the same branch the batch loader uses.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema =
      try spark.read.parquet(path).schema
      catch { case _: Exception => EventSchema }
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    stream.withColumn("ts_sec",
      graft.core.Tables.tsSecExpr(schema("ts").dataType))
  }

  /** Watermarked streaming variant of [[eventWindowAgg]]: accept late events
    * up to `lateness`, then finalize windows (E5 — strictly more than the
    * reference's scan-time cutoff predicates).
    */
  def eventWindowAggStream(ev: DataFrame, lateness: String = "2 hours"): DataFrame =
    eventWindowAgg(
      ev.withColumn("tsc0", timestamp_seconds(col("ts_sec")))
        .withWatermark("tsc0", lateness)
        .drop("tsc0"))

  /** E3 — adaptive think scheduling (`gardener.go:506-528`,
    * `pkg/cognitive/config.go`): an early cycle fires when ≥ writeThreshold
    * writes accumulated AND the minimum interval has passed.
    */
  final case class ThinkScheduler(
      writeThreshold: Long = 50, minIntervalMs: Long = 30000) {
    def shouldThink(writesSinceLast: Long, lastThinkMs: Long, nowMs: Long): Boolean =
      writesSinceLast >= writeThreshold && (nowMs - lastThinkMs) >= minIntervalMs
  }

  /** E3 replayed over an event log: every think cycle [[ThinkScheduler]]
    * would have fired, per agent stream.
    *
    * Firing RESETS both gates (counter → 0, clock → fire time), so each
    * fire depends on the previous one — inherently sequential WITHIN a
    * stream, exactly like sequence packing. Same scale shape as
    * [[graft.text.Packing.packNextFit]]: hash-partition by the agent key,
    * sort (key, ts, seq) within partitions, one forward pass per stream in
    * `mapPartitions`. Parallelism = #agents; 100 TB of events across 10M
    * agents replays with zero coordination.
    *
    * The replay clock starts at epoch (lastThink = 0): the first cycle of a
    * stream is gated by the write threshold alone, matching a scheduler
    * that has never thought before.
    *
    * `tsMsCol` must be a numeric epoch-milliseconds column (the caller
    * normalizes whatever physical type the log's timestamp landed as —
    * same contract as [[graft.core.Tables.tsSecExpr]]).
    *
    * Returns one row per fired cycle: (key, fire_ms, writes_since_last).
    */
  def thinkTriggers(events: DataFrame, keyCol: String, tsMsCol: String,
      seqCol: String, writeThreshold: Long, minIntervalMs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val sched = ThinkScheduler(writeThreshold, minIntervalMs)
    val prepared = events
      .select(col(keyCol).cast("long").as("k"),
        col(tsMsCol).cast("long").as("tms"),
        col(seqCol).cast("long").as("seq"))
      .repartition(col("k"))
      .sortWithinPartitions("k", "tms", "seq")
      .as[(Long, Long, Long)]
    prepared.mapPartitions { it =>
      // Hash partitioning never splits a key; reset state on stream change.
      var curKey = Long.MinValue
      var writes = 0L
      var lastThink = 0L
      it.flatMap { case (k, tms, _) =>
        if (k != curKey) { curKey = k; writes = 0L; lastThink = 0L }
        writes += 1
        if (sched.shouldThink(writes, lastThink, tms)) {
          val fired = (k, tms, writes)
          writes = 0L; lastThink = tms
          Some(fired)
        } else None
      }
    }.toDF("key", "fire_ms", "writes_since_last")
  }

  /** E3 live: the think trigger as a STATEFUL STREAMING transform — the
    * true analogue of the reference's always-on background scheduler
    * (`gardener.go:506-528` runs per write; [[thinkTriggers]] is its batch
    * replay, which e3's oracle checks).
    *
    * `flatMapGroupsWithState` keeps exactly the scheduler's state per agent
    * key — (writes_since_last, last_think_ms), two longs, so state size is
    * O(#agents) and never grows with event volume. Each micro-batch's
    * events are folded in (ts, seq) order through the same
    * [[ThinkScheduler]] gate; fires append as they happen. Applied to a
    * batch frame the same fold degrades to [[thinkTriggers]] (asserted
    * stream ≡ batch in StreamsSpec).
    *
    * Ordering contract: event-time order is guaranteed WITHIN a micro-batch
    * (explicit sort); across batches the fold consumes arrival order, the
    * same contract the reference's live scheduler has (it counts writes as
    * they happen — it cannot re-order history either).
    */
  def thinkTriggerStream(events: DataFrame, keyCol: String, tsMsCol: String,
      seqCol: String, writeThreshold: Long, minIntervalMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    if (!events.isStreaming)
      return thinkTriggers(events, keyCol, tsMsCol, seqCol,
        writeThreshold, minIntervalMs)
    val spark = events.sparkSession
    import spark.implicits._
    val sched = ThinkScheduler(writeThreshold, minIntervalMs)
    events
      .select(col(keyCol).cast("long").as("k"),
        col(tsMsCol).cast("long").as("tms"),
        col(seqCol).cast("long").as("seq"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var (writes, lastThink) = state.getOption.getOrElse((0L, 0L))
          val fires = Seq.newBuilder[(Long, Long, Long)]
          // Sort THIS batch's events by event time (group iterators carry
          // no order guarantee); a micro-batch is small by construction.
          it.toArray.sortBy(e => (e._2, e._3)).foreach { case (_, tms, _) =>
            writes += 1
            if (sched.shouldThink(writes, lastThink, tms)) {
              fires += ((k, tms, writes))
              writes = 0L; lastThink = tms
            }
          }
          state.update((writes, lastThink))
          fires.result().iterator
      }
      .toDF("key", "fire_ms", "writes_since_last")
  }

  /** Deterministic hash embedder — the pluggable-embedder test double
    * (SURVEY §7.2 M6): dim pseudo-random-but-deterministic components in
    * [-0.5, 0.5) derived from the content's polynomial hash.
    */
  def hashEmbedding(content: Column, dim: Int): Column = {
    val h = Dedup.polyHash(content)
    array((0 until dim).map { i =>
      ((((h * (i + 1) + 12289) % Dedup.P) / lit(Dedup.P.toDouble)) - 0.5)
        .cast("float")
    }: _*)
  }

  /** E4/S8 — vectorizer pipeline transform: document stream → word-window
    * chunks → deterministic embeddings. Same function serves batch
    * backfills and the streaming file-watch path (`Pipeline.processFile`,
    * pipeline.go:236-495: load → split → embed → add + prev/next links).
    */
  def vectorize(docs: DataFrame, chunkWords: Int = 20, stride: Int = 15,
      dim: Int = 8): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .select(col("doc_id"), words.as("w"),
        explode(sequence(lit(0), size(words) - 1, lit(stride))).as("start"))
      .select(col("doc_id"), (col("start") / stride).cast("long").as("chunk_index"),
        concat_ws(" ", slice(col("w"), col("start") + 1, lit(chunkWords))).as("content"))
      .withColumn("chunk_id",
        concat(col("doc_id"), lit(":"), col("chunk_index")))
      .withColumn("embedding", hashEmbedding(col("content"), dim))
      .withColumn("prev_chunk",
        when(col("chunk_index") > 0,
          concat(col("doc_id"), lit(":"), col("chunk_index") - 1)))
  }

  /** Streaming exact dedup — the ingest-time counterpart of
    * [[graft.dedup.Dedup.exactDupGroups]]: content-hash each arriving doc
    * and keep only the first occurrence. On a stream the state must be
    * BOUNDED, so duplicates are only suppressed within the watermark
    * horizon (`dropDuplicatesWithinWatermark` — Spark evicts hash state
    * older than the watermark instead of growing forever, the only shape
    * that survives an unbounded 100 TB ingest). On a batch frame the same
    * call degrades to plain content-hash dedup (keep-any semantics match
    * because the hash is the full dedup key, so WHICH row survives doesn't
    * change the surviving content).
    *
    * `eventTimeCol` must be a real event-time timestamp column; `lateness`
    * bounds both late data and the dedup memory.
    */
  /** Streaming DSIR quality gate — x34's importance weight at ingest
    * time. The offline-trained target-vs-raw bucket-weight table rides as
    * ONE array literal (4096 longs — a tokenizer-sized artifact, same
    * frozen-model discipline as [[ivfIngest]]'s centroids and x33's
    * classifier weights), so scoring is a stateless in-row fold:
    * split → PolyHash → bucket → weight lookup → sum. No join, no state,
    * no shuffle — the same plan runs on a stream or a batch frame, and
    * retraining the distributions stays an offline job (x34's two
    * 4096-row aggregations).
    */
  def dsirGate(docs: DataFrame, textCol: String,
      weights: Array[Long], threshold: Long = 0L): DataFrame = {
    require(weights.nonEmpty, "empty DSIR weight table")
    val warr = typedlit(weights.toSeq)
    docs
      .withColumn("dsir_weight",
        aggregate(
          transform(split(col(textCol), " "),
            t => element_at(warr,
              (Dedup.polyHash(t) % weights.length).cast("int") + 1)),
          lit(0L), (acc, x) => acc + x))
      .withColumn("keep", col("dsir_weight") > threshold)
  }

  /** Streaming CCNet paragraph gate — the ingest-time twin of d13
    * ([[graft.dedup.Dedup.paragraphDedup]]): arriving docs chunk into
    * fixed `chunkTokens`-token paragraphs in-row, each paragraph's FIRST
    * ARRIVAL wins (`dropDuplicatesWithinWatermark` keyed on the paragraph
    * text — a stream has no global (doc_id, pos) order, so first-seen IS
    * the CCNet keep-first rule at ingest), and each doc reassembles from
    * its surviving chunks in a per-window aggregation. Two stateful
    * operators chained (dedup state → windowed agg), both
    * watermark-bounded: paragraph state evicts past `lateness`, window
    * state emits (append) once the watermark passes the window end. A doc
    * whose every paragraph was already seen emits NOTHING (there are no
    * surviving rows to reassemble) — the streaming analogue of d13's
    * empty `text_deduped`. On a batch frame the call degrades to the
    * deterministic d13 operator itself (keep-first by (doc_id, pos)).
    */
  def paragraphGateStream(docs: DataFrame, textCol: String,
      eventTimeCol: String, lateness: String = "1 hour",
      windowSize: String = "10 minutes", chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    if (!docs.isStreaming)
      return Dedup.paragraphDedup(
        docs.select(col("doc_id"), col(textCol)), textCol, chunkTokens)
    val chunks = docs
      .select(col("doc_id"), col(eventTimeCol), split(col(textCol), " ").as("w"))
      .select(col("doc_id"), col(eventTimeCol),
        ceil(size(col("w")) / chunkTokens.toDouble).cast("long").as("n_total"),
        posexplode(expr(
          s"transform(sequence(1, cast(ceil(size(w) / $chunkTokens.0) as int)), " +
            s"i -> array_join(slice(w, (i - 1) * $chunkTokens + 1, $chunkTokens), ' '))")))
      .select(col("doc_id"), col(eventTimeCol), col("n_total"),
        (col("pos") + 1).cast("long").as("pos"), col("col").as("para"))
    chunks.withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark("para")
      .groupBy(window(col(eventTimeCol), windowSize), col("doc_id"))
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, para))), x -> x.para)"),
          " ").as("text_deduped"),
        count(lit(1)).as("n_kept"),
        // A doc_id re-arriving with DIFFERENT text inside one window
        // merges into this row (stream semantics: the id is the key);
        // max(n_total) then undercounts the union, so the difference is
        // floored — n_dropped stays exact for the well-formed one-doc-
        // per-(id, window) case and degrades to a lower bound, never a
        // negative, under id reuse.
        greatest(lit(0L), max(col("n_total")) - count(lit(1)))
          .as("n_dropped"))
      .select(col("doc_id"), col("text_deduped"), col("n_kept"),
        col("n_dropped"))
  }

  /** Streaming LM-surprisal gate — x36's CCNet scoring at INGEST time,
    * completing the ingest-gate family (exact dedup, near-dup, paragraph,
    * DSIR, this): arriving docs score against a FROZEN bigram LM — the
    * `lm (w1,w2,c12)` / `uni (w1,c1)` tables are offline-trained
    * artifacts, exactly like the IVF centroids `ivfIngest` freezes — and
    * keep iff their mean surprisal (x36's integer floor-log2 bits) is at
    * or below `cutMilli` (offline-calibrated, e.g. x36's corpus mean or
    * an x39 tercile threshold). Shape: the LM tables scale with the
    * corpus so they ride STREAM-STATIC equi-joins (stateless — no
    * broadcast of a corpus-scaled table, no state); the only stateful
    * operator is the per-(window, doc) re-aggregation of the exploded
    * bigrams, watermark-bounded. Batch frames degrade to the plain
    * per-doc aggregation (x36's `per` shape with an external cut).
    */
  def surprisalGateStream(docs: DataFrame, textCol: String,
      eventTimeCol: String, lm: DataFrame, uni: DataFrame, nv: Long,
      cutMilli: Long, lateness: String = "1 hour",
      windowSize: String = "10 minutes"): DataFrame = {
    require(nv >= 1, s"vocabulary size must be >= 1, got $nv")
    val bg = docs
      .select(col("doc_id"), col(eventTimeCol), split(col(textCol), " ").as("_w"))
      .filter(size(col("_w")) >= 2)
      .select(col("doc_id"), col(eventTimeCol), explode(zip_with(
        slice(col("_w"), lit(1), size(col("_w")) - 1),
        slice(col("_w"), lit(2), size(col("_w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col(eventTimeCol),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val sc = bg
      .join(lm, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .withColumn("bits",
        (length(bin(expr(
          s"(coalesce(c1, 0) + ${nv}L) div (coalesce(c12, 0) + 1)"))) - 1)
          .cast("long"))
    val grouped =
      if (docs.isStreaming)
        sc.withWatermark(eventTimeCol, lateness)
          .groupBy(window(col(eventTimeCol), windowSize), col("doc_id"))
      else sc.groupBy(col("doc_id"))
    grouped
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("surprisal_bits"))
      .withColumn("mean_milli", expr("(1000 * surprisal_bits) div n_bigrams"))
      .withColumn("keep", col("mean_milli") <= cutMilli)
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_bits"),
        col("mean_milli"), col("keep"))
  }

  /** PER-LANGUAGE streaming LM gate (VERDICT r16 #6) — CCNet's actual
    * ingest shape (arXiv:1911.00359 §3.2: langid first, then score
    * against THAT language's LM, cut at that language's calibrated
    * threshold). [[surprisalGateStream]] is the single-LM special case;
    * x40 is the same composition as an offline batch job. Three frozen
    * offline-trained artifact families ride in: per-language `lm
    * (plang, w1, w2, c12)` / `uni (plang, w1, c1)` bigram tables
    * (corpus-scaled → STREAM-STATIC equi-joins, `plang` is simply one
    * more join key, never broadcast) and the n-languages-row `vocab
    * (plang, nv)` / `cuts (plang, cut_milli)` tables (broadcast — they
    * have one row per language by construction). Langid itself is
    * [[graft.text.TextPipeline.langBestLang]] — pure column math, so it
    * runs unchanged on the stream (the map-only property x40 established
    * for batch). A doc whose predicted language has no vocabulary row
    * drops (inner join) — CCNet cannot score a language it has no LM
    * for, exactly x40's contract. Batch frames degrade to the plain
    * per-doc aggregation (the x41 oracle query).
    *
    * `langCol`: pass a column name to use a PRE-predicted language
    * instead of running langid on `textCol` (e.g. when the id ran on a
    * different field than the one being scored).
    */
  def surprisalGatePerLangStream(docs: DataFrame, textCol: String,
      eventTimeCol: String, lm: DataFrame, uni: DataFrame, vocab: DataFrame,
      cuts: DataFrame, langCol: Option[String] = None,
      lateness: String = "1 hour",
      windowSize: String = "10 minutes"): DataFrame = {
    val streaming = docs.isStreaming
    val plang = langCol.map(col).getOrElse(
      graft.text.TextPipeline.langBestLang(col(textCol)))
    val baseCols = Seq(col("doc_id"), plang.as("plang")) ++
      (if (streaming) Seq(col(eventTimeCol)) else Nil)
    val keyCols = Seq(col("doc_id"), col("plang")) ++
      (if (streaming) Seq(col(eventTimeCol)) else Nil)
    val bg = docs
      .select(baseCols :+ split(col(textCol), " ").as("_w"): _*)
      .filter(size(col("_w")) >= 2)
      .select(keyCols :+ explode(zip_with(
        slice(col("_w"), lit(1), size(col("_w")) - 1),
        slice(col("_w"), lit(2), size(col("_w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"): _*)
      .select(keyCols :+ col("p.w1").as("w1") :+ col("p.w2").as("w2"): _*)
    val sc = bg
      .join(broadcast(vocab), Seq("plang"))
      .join(lm, Seq("plang", "w1", "w2"), "left")
      .join(uni, Seq("plang", "w1"), "left")
      .withColumn("bits",
        (length(bin(expr(
          "(coalesce(c1, 0) + nv) div (coalesce(c12, 0) + 1)"))) - 1)
          .cast("long"))
    val grouped =
      if (streaming)
        sc.withWatermark(eventTimeCol, lateness)
          .groupBy(window(col(eventTimeCol), windowSize), col("doc_id"),
            col("plang"))
      else sc.groupBy(col("doc_id"), col("plang"))
    grouped
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("surprisal_bits"))
      .withColumn("mean_milli", expr("(1000 * surprisal_bits) div n_bigrams"))
      .join(broadcast(cuts), Seq("plang"))
      .select(col("doc_id"), col("plang"), col("n_bigrams"),
        col("surprisal_bits"), col("mean_milli"),
        (col("mean_milli") <= col("cut_milli")).as("keep"))
  }

  def dedupStream(docs: DataFrame, textCol: String, eventTimeCol: String,
      lateness: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("content_hash", sha2(col(textCol), 256))
    if (docs.isStreaming)
      hashed.withWatermark(eventTimeCol, lateness)
        .dropDuplicatesWithinWatermark("content_hash")
    else hashed.dropDuplicates("content_hash")
  }

  /** Streaming NEAR-dup suppression — the ingest-time counterpart of the
    * x4 rolling-hash fingerprint. The fingerprint (min polynomial hash
    * over word 4-gram shingles) is computed as PURE column math
    * (`array_min` over a `transform` — no aggregation), so it runs
    * unchanged on a stream, and near-duplicate arrivals collapse under
    * the same bounded-state watermark eviction as exact dedup.
    * Value-identical to [[graft.text.TextPipeline.fingerprint]] for docs
    * with >= 4 words (min over distinct shingle hashes == min over
    * hashes). Shorter docs degrade to exact dedup through the shingle
    * kernel itself: `wordShingles` emits the whole text as one truncated
    * shingle when no 4-gram exists, so `array_min` IS the whole-text hash
    * there — no separate fallback branch is needed (null text hashes
    * null and never groups with real fingerprints).
    */
  def nearDedupStream(docs: DataFrame, textCol: String, eventTimeCol: String,
      lateness: String = "1 hour"): DataFrame = {
    val fp = array_min(transform(
      graft.functions.VectorFunctions.wordShingles(col(textCol), 4),
      s => Dedup.polyHash(s)))
    val keyed = docs.withColumn("fingerprint", fp)
    if (docs.isStreaming)
      keyed.withWatermark(eventTimeCol, lateness)
        .dropDuplicatesWithinWatermark("fingerprint")
    else keyed.dropDuplicates("fingerprint")
  }

  /** Streaming sign-code maintenance — the binary-quantization analogue
    * of [[ivfIngest]]: packing is a stateless projection
    * ([[graft.functions.VectorFunctions.packSignBits]] is pure column
    * math), so arriving vectors append their 8-bytes-per-64d code rows
    * into the v20 serving layout and become Hamming-scannable on the next
    * candidate scan, while the f32 vectors stay wherever they landed.
    */
  def signCodesIngest(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.select(col(idCol).cast("long").as(idCol),
        graft.functions.VectorFunctions.packSignBits(col(vecCol)).as("_signs"))
      .writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming IVF index maintenance: vectors assigned to FROZEN centroids
    * ([[graft.search.Ivf.assignFast]] is a stateless typed transform, so it
    * runs unchanged on a stream) append into the bucket-partitioned parquet
    * serving layout — new data becomes immediately probe-able, because the
    * probe's partition pruning (`bucket IN (...)`) picks up new files on
    * the next scan. Centroid RETRAINING stays an offline job under a frozen
    * geometry, exactly like rebuilding the reference's index; the layout
    * needs no rewrite until the centroids move.
    */
  def ivfIngest(assigned: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    assigned.writeStream.format("parquet").partitionBy("bucket")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming ingest into the COMBINED hybrid serving index (VERDICT r15
    * next-round #3) — closes the loop [[ivfIngest]] (vector leg) and the
    * postings layout (text leg) each closed separately: a new document
    * reaching the combined text+vector shard no longer requires a rebuild.
    * Each micro-batch of raw `(idCol, textCol, vecCol)` docs becomes a
    * SEGMENT — `numShardsPerSegment` combined shards (one by default)
    * unioned onto the served index — built in ONE narrow pass by
    * [[graft.search.ServingFusion.buildSegment]] under frozen-stats
    * discipline (the centroids, token-df artifact and corpus scalars stay
    * the base build's — the exact contract `ivfIngest` pins for
    * centroids; a segment serves what a full
    * [[graft.search.ServingFusion.buildCombined]] over base ∪ batch would
    * serve). The served index reference swaps atomically after the
    * segment is materialized, so an in-flight [[graft.search
    * .ServingFusion.fusedTopKCombined]] batch never sees a half-built
    * segment. Compaction (periodic full rebuild) is the offline job, as
    * everywhere in this module.
    *
    * A non-empty micro-batch costs four Spark jobs (see
    * [[ingestCombinedBatch]]): one aggregate for every driver-side check,
    * the log write, the frozen-df lookup for the batch's tokens and the
    * segment's materialization; under adaptive execution the persisted
    * batch's cache stage adds a fifth. The served handle is `ref.get()` —
    * cache it per serve call, like the bench does.
    *
    * RESTART CONTRACT (r16 self-review): the streaming checkpoint is
    * durable but the served index is PROCESS-LOCAL — Spark marks a
    * batch committed once the segment materializes, so restarting the
    * stream against the SAME checkpoint with a `ref` rebuilt from the
    * base index would silently never redeliver the already-committed
    * batches (`ivfIngest` has no such gap: its side effect is a parquet
    * append that survives the JVM). Two sanctioned shapes:
    *   - EPHEMERAL (`segmentLog = None`): use a FRESH checkpoint per
    *     base build — compaction (the periodic full rebuild) is the
    *     recovery point, exactly as centroid refresh is for
    *     `ivfIngest`. Pass `baseBuildId` to ENFORCE the freshness
    *     programmatically (ADVICE r16): the id is pinned into a marker
    *     file inside the checkpoint directory and a mismatch fails
    *     fast, instead of silently never re-delivering batches the old
    *     checkpoint had committed against the previous base.
    *   - DURABLE (`segmentLog = Some(path)`): every batch lands its raw
    *     docs in the log under `batch=<batchId>/` BEFORE the in-memory
    *     swap, and on restart [[recoverCombinedSegments]] rebuilds ONE
    *     segment from the whole log onto a fresh base `ref` — the same
    *     checkpoint can then resume. The log is truncated by compaction.
    *
    * EXACTLY-ONCE DISCIPLINE (VERDICT r16 #1): `foreachBatch` is
    * at-least-once — a crash between the log write and the checkpoint
    * commit re-delivers the batch on restart. The log write is therefore
    * keyed by the batchId (overwrite of `batch=<batchId>/`, never a blind
    * append), and a re-delivered batch whose log directory is already
    * complete (`_SUCCESS` present) SKIPS the in-memory append too: the
    * restart invariant is `ref == base ∪ log` (recovery rebuilds the ref
    * from the WHOLE log, committed or not), so appending a
    * recovered-and-re-delivered batch again would double-serve its docs —
    * the duplicate-scoring hole the r16 `mode("append")` log had. A
    * partially-written directory (crash mid-write, no `_SUCCESS`) is
    * invisible to recovery and rewritten whole here. This is the AOF
    * idempotent-replay contract (reference: `pkg/engine/recovery.go:169`,
    * replaying a command already reflected in the snapshot is a no-op).
    *
    * `idWatermark` (VERDICT r16 #3): when given, every batch is checked
    * against the append-only id precondition — all arriving ids must be
    * STRICTLY greater than the watermark (initially the base index's max
    * id; advanced per batch), so a base∩segment or segment∩segment id
    * collision fails the batch loudly instead of double-scoring.
    *
    * COMPACTION TRIGGER (VERDICT r16 #4): every appended segment adds one
    * partition group to the served union, so the fused job's task count
    * — and its fixed scheduling cost — grows linearly with batches since
    * the last rebuild. The bench's serve-vs-segment-count curve
    * (`fusion_batch.synthetic.segments`) prices that: tiny per-segment
    * cost up to a few dozen segments, then scheduling overhead compounds.
    * When `compactionThreshold > 0`, `onCompactionNeeded` fires (on the
    * micro-batch thread, after the swap) each time the appended-segment
    * count reaches a multiple of the threshold — the hook schedules the
    * offline compaction: a full rebuild (refreshing the frozen stats), or
    * the cheap segment-only form, [[recoverCombinedSegments]] onto the
    * base, which folds the K segments back into one under the SAME
    * frozen artifacts (durable shape only — it reads the log).
    */
  def combinedIngest[S <: CombinedBlocks](
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      frozenStats: (Long, Double),
      frozenTokenDf: DataFrame,
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[S]],
      checkpoint: String,
      numShardsPerSegment: Int = 1,
      segmentLog: Option[String] = None,
      baseBuildId: Option[String] = None,
      idWatermark: Option[Long] = None,
      compactionThreshold: Int = 0,
      onCompactionNeeded: () => Unit = () => ())(
      implicit codec: VecCodec[S])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    baseBuildId.foreach(id => bindCheckpointToBase(
      docs.sparkSession, checkpoint, id))
    val wm = idWatermark.map(w => new java.util.concurrent.atomic.AtomicLong(w))
    val segCount = new java.util.concurrent.atomic.AtomicInteger(0)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val before = ref.get()
        ingestCombinedBatch(batch, batchId, idCol, textCol, vecCol, cents,
          frozenStats, frozenTokenDf, ref, numShardsPerSegment, segmentLog,
          wm)(codec)
        if ((ref.get() ne before) && compactionThreshold > 0 &&
            segCount.incrementAndGet() % compactionThreshold == 0)
          onCompactionNeeded()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** [[combinedIngest]] under [[VecCodec.Int8]] — the int8 ingest entry
    * point the benchmark calls.
    */
  def combinedIngestInt8(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      absMax: Double,
      frozenStats: (Long, Double),
      frozenTokenDf: DataFrame,
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[CombinedShardInt8]],
      checkpoint: String,
      numShardsPerSegment: Int = 1,
      segmentLog: Option[String] = None,
      baseBuildId: Option[String] = None,
      idWatermark: Option[Long] = None,
      compactionThreshold: Int = 0,
      onCompactionNeeded: () => Unit = () => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    combinedIngest(docs, idCol, textCol, vecCol, cents, frozenStats,
      frozenTokenDf, ref, checkpoint, numShardsPerSegment, segmentLog,
      baseBuildId, idWatermark, compactionThreshold,
      onCompactionNeeded)(VecCodec.Int8(absMax))

  /** One [[combinedIngest]] micro-batch — the one copy of the micro-batch
    * exactly-once discipline, shared by both codecs and the upsert path,
    * and factored out so the crash-window spec can RE-DELIVER a batch
    * (same frame, same batchId) and assert the served index and the log
    * are unchanged — the at-least-once window a running stream only hits
    * across a crash.
    *
    * ONE aggregate job over the persisted batch yields everything the
    * driver decides on: the row count, the id min/max/count/distinct-count
    * for the watermark guard, the superseded ids of an upsert and the
    * batch's distinct analyzed tokens for the segment build. Then, in
    * order: the upsert's tombstone merge (idempotent, so it runs on a
    * re-delivery too — delete-visible-before-add), re-delivery detection
    * (a COMPLETE `batch=<id>/` log directory means the docs are already
    * served — skip the rest, INCLUDING the watermark guard: a re-delivered
    * batch's ids are legitimately at or below the watermark, a restart
    * derives it from `maxLoggedId` which covers this very batch), the
    * append-only id guard (VERDICT r16 #3 — fail loudly instead of
    * double-scoring), the batchId-keyed log overwrite, and the
    * cache-segment-then-swap append (cache ONLY the segment — caching the
    * union would re-store every base partition per micro-batch). The
    * segment is [[graft.search.ServingFusion.buildSegment]] in the codec's
    * layout (int8: quantized against the base build's frozen `absMax`).
    *
    * `replacesCol` names the batch's superseded-id column (logged as
    * `graft_replaces`); with `tombRef` those ids are merged into the
    * tombstone set before the segment lands — the upsert path
    * ([[upsertCombinedBatch]]).
    *
    * Jobs per non-empty micro-batch: the aggregate, the log write, the
    * frozen-df lookup for the batch's tokens and the segment's
    * materialization — four (`numShardsPerSegment > 1` adds a map stage
    * to the last one, not a job; adaptive execution adds one job, the
    * persisted batch's cache stage). The batch itself never reaches the
    * driver: only the aggregate's scalars, id set sizes, superseded ids
    * and distinct tokens do.
    */
  def ingestCombinedBatch[S <: CombinedBlocks](
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      frozenStats: (Long, Double),
      frozenTokenDf: DataFrame,
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[S]],
      numShardsPerSegment: Int = 1,
      segmentLog: Option[String] = None,
      idWatermark: Option[java.util.concurrent.atomic.AtomicLong] = None,
      replacesCol: Option[String] = None,
      tombRef: Option[java.util.concurrent.atomic.AtomicReference[Array[Long]]]
        = None)(
      implicit codec: VecCodec[S]): Unit = {
    val spark = batch.sparkSession
    val b = batch.persist()
    try {
      // The log always carries a `graft_replaces` column (null for plain
      // inserts) so restart recovery can rebuild the tombstone set from the
      // log ALONE — an upsert's superseded ids are part of the same durable
      // record as its new docs, the reference's one-AOF-stream contract
      // (pkg/engine/recovery.go:169: delete+add replay in order).
      val repl = replacesCol.map(c => col(c).cast("long"))
        .getOrElse(lit(null).cast("long"))
      val idL = col(idCol).cast("long")
      // coalesce(1): the micro-batch aggregates inside one task, with no
      // exchange (and so no extra adaptive-execution stage job).
      val s = b.coalesce(1).agg(count(lit(1)), min(idL), max(idL), count(idL),
        countDistinct(idL), collect_set(repl),
        ServingFusion.segmentTokens(textCol)).head()
      if (s.getLong(0) > 0) {
        val replaced = s.getSeq[Long](5).toArray
        if (replaced.nonEmpty) tombRef.foreach(mergeTombstones(_, replaced))
        val redelivered = segmentLog.exists { path =>
          val dir = new org.apache.hadoop.fs.Path(s"$path/batch=$batchId")
          val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))
        }
        if (!redelivered) {
          // Guard against the PRE-batch watermark here; advance it only
          // after the log write and the ref swap both succeed (ADVICE
          // r17): advancing first means a transient IO failure after the
          // set poisons the stream permanently — Spark re-delivers the
          // batch (no _SUCCESS landed), and the min check would compare
          // against the watermark this very batch already pushed up.
          val batchMaxId = idWatermark.map { w =>
            require(!s.isNullAt(1),
              s"combinedIngest batch $batchId: every row's $idCol is null")
            require(s.getLong(1) > w.get(),
              s"combinedIngest batch $batchId: id ${s.getLong(1)} is <= the " +
                s"served index's id watermark ${w.get()} — an id present in " +
                "both would be scored twice (append-only segments; route " +
                "updates through compaction)")
            // The min-above-watermark check can't see a duplicate WITHIN
            // the batch (an upstream producer retry) — that doc would be
            // built into the segment twice and double-scored, the exact
            // failure the guard exists for.
            require(s.getLong(3) == s.getLong(4),
              s"combinedIngest batch $batchId: duplicate ids within the " +
                s"batch (${s.getLong(3)} rows, ${s.getLong(4)} distinct)")
            s.getLong(2)
          }
          segmentLog.foreach { path =>
            b.select(col(idCol), col(textCol), col(vecCol),
                repl.as("graft_replaces"))
              .write.mode("overwrite").parquet(s"$path/batch=$batchId")
          }
          val seg = ServingFusion.buildSegment(b, idCol, textCol, vecCol,
            cents, frozenStats, frozenTokenDf, numShardsPerSegment,
            Some(s.getSeq[String](6)))(codec).cache()
          seg.count() // materialize BEFORE the atomic swap
          appendSegment(ref, seg)
          for (w <- idWatermark; mx <- batchMaxId)
            w.accumulateAndGet(mx, (a: Long, c: Long) => math.max(a, c))
        }
      }
    } finally b.unpersist()
  }

  /** Atomically append a materialized segment onto the served union
    * chain. A CAS loop, never a get-then-set (VERDICT r17 #1): compaction
    * swaps the SAME ref via `updateAndGet` from OFF the micro-batch
    * thread, so a plain `ref.set(ref.get().union(seg))` whose set lands
    * after compaction's CAS would overwrite the compacted index with the
    * stale pre-compaction chain — after the tombstone/override sets were
    * already cleared — silently resurrecting every deleted doc. Losing
    * the race here just retries the pure union on top of the compacted
    * chain (the union is a cheap driver-side RDD construction);
    * [[rebaseUnion]] handles the converse interleaving, so with both
    * sides CASing, either order converges to compacted ∪ segment.
    *
    * `beforeCas` is a deterministic test seam: StreamsSpec injects a
    * concurrent compaction between the read and the CAS — the
    * interleaving a running system only hits in a microsecond window.
    */
  private[streaming] def appendSegment[T](
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[T]],
      seg: org.apache.spark.rdd.RDD[T],
      beforeCas: () => Unit = () => ()): Unit = {
    var swapped = false
    while (!swapped) {
      val cur = ref.get()
      beforeCas()
      swapped = ref.compareAndSet(cur, cur.union(seg))
    }
  }

  /** [[compactCombinedServing]] under [[VecCodec.Int8]] — the int8
    * compaction entry point the benchmark calls. Compaction copies codes
    * and stored norms verbatim and never reads the codec's `absMax`, which
    * this entry point's callers do not pass (hence the NaN).
    */
  def compactCombinedServingInt8(
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[CombinedShardInt8]],
      tombRef: java.util.concurrent.atomic.AtomicReference[Array[Long]],
      ovRef: java.util.concurrent.atomic.AtomicReference[Map[Long, (Double, Long)]],
      numPartitions: Int): org.apache.spark.rdd.RDD[CombinedShardInt8] =
    compactCombinedServing(ref, tombRef, ovRef, numPartitions)(
      VecCodec.Int8(absMax = Double.NaN))

  /** Streaming DELETE ingest for combined serving (VERDICT r16 #2): each
    * micro-batch of deleted doc ids merges into the driver-resident
    * tombstone set the serving kernels consult
    * ([[graft.search.ServingFusion.fusedTopKCombined]]'s `tombstones`),
    * so a delete is serve-visible at the next query — the reference's
    * `VDelete` semantics (`pkg/engine/ops.go:401`) without touching any
    * built segment. The set is BOUNDED by contract: deletes between
    * compactions are rare relative to corpus size (the same assumption
    * the reference's tombstone-and-vacuum design makes,
    * `hnsw_index.go:2292`); compaction — the periodic rebuild, which
    * excludes deleted docs — resets `ref` to empty. The collect is the
    * deliberate exception to the no-driver-collect rule: a delete batch
    * is operator-action-sized, and the set must live at the driver
    * because it rides the query broadcast.
    *
    * Restart: the checkpoint marks delete batches committed once merged
    * into the in-memory set, which dies with the process — so on restart
    * either rebuild the set from the source of truth (the oplog's
    * soft-delete rows, one filter — the same recovery shape as
    * [[recoverCombinedSegments]]) or use a fresh checkpoint per process
    * and let the stream re-read. Deletes are idempotent (a set union),
    * so re-delivery is harmless — no batchId keying needed.
    *
    * BOUNDING (VERDICT r17 missing #2): "operator-action-sized" was a
    * convention, not a guarantee — every serving kernel pays a
    * per-candidate binary search once the set is non-empty, and the set
    * rides every query broadcast, so a delete-heavy tenant between
    * compactions grows both silently (the bench's `tombstones` curve
    * prices it). `compactionThreshold` fires `onCompactionNeeded` when a
    * merge first carries the set to/past the threshold — same contract
    * as [[combinedIngest]]'s segment-count trigger (compaction clears the
    * set, re-arming it); `maxTombstones` is the hard cap: a merge that
    * would exceed it fails the batch loudly BEFORE mutating the set
    * (the checkpoint doesn't commit — after the forced compaction the
    * stream resumes from the same batch), instead of degrading every
    * query on the broadcast path.
    */
  def tombstoneIngest(
      deletes: DataFrame,
      idCol: String,
      ref: java.util.concurrent.atomic.AtomicReference[Array[Long]],
      checkpoint: String,
      compactionThreshold: Int = 0,
      onCompactionNeeded: () => Unit = () => (),
      maxTombstones: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Hook arming (r19, ADVICE r18): the old crossing test
    // (`before < threshold && merged >= threshold`) never fired when the
    // set entered the over-threshold state through another path — the
    // upsert stream's mergeTombstones or recovery's foldLoggedReplaces —
    // leaving only the hard cap's batch failure. The armed flag fires
    // once whenever a merge lands at/above the threshold and re-arms when
    // the set drops below it (compaction clears the set).
    val hookArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    deletes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ids = batch.select(col(idCol).cast("long")).distinct()
          .collect().map(_.getLong(0))
        if (ids.nonEmpty) {
          // Cap enforced INSIDE the CAS merge (r19, ADVICE r18): the old
          // get-then-require raced the upsert stream's merges (two writers
          // could both pass the check and jointly overshoot) and a
          // concurrent compaction clear could spuriously fail a batch
          // against a stale pre-clear size. Throwing from the update
          // function aborts updateAndGet with nothing committed, so the
          // cap is an invariant of the set, not a guard around it.
          val merged = mergeTombstones(ref, ids, maxTombstones)
          if (compactionThreshold > 0) {
            if (merged.length >= compactionThreshold) {
              if (hookArmed.compareAndSet(true, false)) onCompactionNeeded()
            } else hookArmed.set(true)
          }
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Atomic sorted-set union into a shared tombstone ref. The delete and
    * upsert streams run on SEPARATE foreachBatch threads against ONE set
    * (serving consults a single array), so a get-then-set merge would
    * lose whichever write raced — `updateAndGet` retries the pure merge
    * under CAS instead.
    */
  /** @param cap fail the merge (no mutation committed) when the EXACT
    *   union size would exceed it — an idempotent re-delivery of already-
    *   merged ids never trips it. 0 = uncapped.
    */
  private[streaming] def mergeTombstones(
      ref: java.util.concurrent.atomic.AtomicReference[Array[Long]],
      ids: Array[Long], cap: Int = 0): Array[Long] =
    ref.updateAndGet { cur =>
      val merged = (cur.toSet ++ ids).toArray
      require(cap <= 0 || merged.length <= cap,
        s"tombstone merge would grow the set from ${cur.length} to " +
          s"${merged.length}, over the cap $cap — compact the served index " +
          "(compactCombinedServing) to flush the set, then resume the " +
          "delete stream")
      java.util.Arrays.sort(merged)
      merged
    }

  /** Streaming METADATA-UPDATE ingest for combined serving — the decay
    * half of the reference's `VReinforce`/`VMETA` live mutation
    * (`pkg/engine/ops.go:697`): each micro-batch of `(id, factor)` rows
    * merges LAST-WRITE-WINS into the driver-resident override map the
    * serving kernels consult ([[graft.search.ServingFusion
    * .fusedTopKCombined]]'s `decOverrides`), so a reinforcement or pin is
    * serve-visible at the next query without touching any built segment.
    * The caller computes `factor` from the doc's updated metadata
    * (driver math — [[graft.search.Decay]]'s formulas over one row).
    *
    * Within a micro-batch there is no row order, so "last" needs a
    * version: `verCol` (an update timestamp or oplog sequence) arbitrates
    * both within a batch and ACROSS batches — an override only replaces a
    * stored one when its version is strictly higher, which also makes the
    * merge idempotent under re-delivery (replaying a batch re-offers the
    * same (factor, version) pairs; none wins over itself). Ties at equal
    * version keep the higher factor, so the merge stays deterministic
    * even for a pathological same-version double-write. Same boundedness
    * and restart contract as [[tombstoneIngest]]: the map is
    * operator-action-sized between compactions, dies with the process,
    * and rebuilds from the oplog's metadata rows on restart; compaction
    * bakes the factors into the shards and clears it
    * ([[compactCombinedServing]]).
    *
    * Bounding: same contract as [[tombstoneIngest]] — `compactionThreshold`
    * fires the hook when a merge first reaches it, `maxOverrides` fails
    * the batch loudly before a merge would exceed the cap.
    */
  def decayOverrideIngest(
      updates: DataFrame,
      idCol: String,
      factorCol: String,
      verCol: String,
      ref: java.util.concurrent.atomic.AtomicReference[Map[Long, (Double, Long)]],
      checkpoint: String,
      compactionThreshold: Int = 0,
      onCompactionNeeded: () => Unit = () => (),
      maxOverrides: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Armed hook + cap-inside-CAS, mirrored from [[tombstoneIngest]]
    // (r19, ADVICE r18 — same two races, same fixes).
    val hookArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    updates.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select(col(idCol).cast("long"),
            col(factorCol).cast("double"), col(verCol).cast("long"))
          .collect()
          .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2))))
        if (rows.nonEmpty) {
          // updateAndGet, not get-then-set: the override stream may share
          // this ref with compaction's keyed clear on another thread. The
          // cap check lives INSIDE the update function so check and
          // mutation see one snapshot; a violating merge aborts with
          // nothing committed.
          val merged = ref.updateAndGet { cur =>
            val m = rows.foldLeft(cur) { case (m0, (id, fv)) =>
              m0.get(id) match {
                case Some((f0, v0)) if v0 > fv._2 ||
                    (v0 == fv._2 && f0 >= fv._1) => m0
                case _ => m0.updated(id, fv)
              }
            }
            require(maxOverrides <= 0 || m.size <= maxOverrides,
              s"decayOverrideIngest: merging ${rows.length} updates into " +
                s"${cur.size} live overrides would grow the map to " +
                s"${m.size}, over the cap $maxOverrides — compact the " +
                "served index to bake the factors in, then resume the " +
                "update stream")
            m
          }
          if (compactionThreshold > 0) {
            if (merged.size >= compactionThreshold) {
              if (hookArmed.compareAndSet(true, false)) onCompactionNeeded()
            } else hookArmed.set(true)
          }
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The serving kernels' `decOverrides` view of an override map —
    * versions stripped, one (id, factor) per entry.
    */
  def overridesArray(m: Map[Long, (Double, Long)]): Array[(Long, Double)] =
    m.iterator.map { case (id, (f, _)) => (id, f) }.toArray

  /** Streaming UPSERT ingest for combined serving — the reference's
    * update flow made live. kektordb's HNSW `Add` REJECTS an existing
    * external id (`pkg/core/hnsw/hnsw_index.go:525` "ID already exists"),
    * so an update is always delete-then-add: tombstone the old internal
    * node, insert the new copy as a NEW node. Mapped to segments, an
    * upsert micro-batch carries the replacement doc under a FRESH internal
    * id (`idCol`, above the watermark like every append) plus the id it
    * supersedes (`replacesCol`, null for plain inserts): each batch first
    * merges the superseded ids into the serve-time tombstone set, THEN
    * lands the segment — delete-visible-before-add, the reference's
    * ordering, so no moment serves both copies (the converse window — old
    * hidden, new not yet swapped — is the same transient a VDelete;VADD
    * pair has). External-key → internal-id translation is the catalog's
    * job, exactly as in the reference (`externalToInternalID`).
    *
    * Exactly-once: the tombstone merge is a set union (idempotent) and
    * the segment append carries [[ingestCombinedBatch]]'s batchId-keyed
    * log discipline, so a crash-window re-delivery changes nothing
    * (StreamsSpec pins it). Restart rebuilds the tombstone set from the
    * oplog — which recorded the upsert as delete+add — and recovers
    * segments from the log; the recovered state is the same serve.
    */
  def upsertIngest[S <: CombinedBlocks](
      docs: DataFrame,
      idCol: String,
      replacesCol: String,
      textCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      frozenStats: (Long, Double),
      frozenTokenDf: DataFrame,
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[S]],
      tombRef: java.util.concurrent.atomic.AtomicReference[Array[Long]],
      checkpoint: String,
      numShardsPerSegment: Int = 1,
      segmentLog: Option[String] = None,
      baseBuildId: Option[String] = None,
      idWatermark: Option[Long] = None)(
      implicit codec: VecCodec[S])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    baseBuildId.foreach(id => bindCheckpointToBase(
      docs.sparkSession, checkpoint, id))
    val wm = idWatermark.map(w => new java.util.concurrent.atomic.AtomicLong(w))
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertCombinedBatch(batch, batchId, idCol, replacesCol, textCol,
          vecCol, cents, frozenStats, frozenTokenDf, ref, tombRef,
          numShardsPerSegment, segmentLog, wm)(codec)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** [[upsertIngest]] under [[VecCodec.Int8]] — the int8 upsert entry
    * point the benchmark calls.
    */
  def upsertIngestInt8(
      docs: DataFrame,
      idCol: String,
      replacesCol: String,
      textCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      absMax: Double,
      frozenStats: (Long, Double),
      frozenTokenDf: DataFrame,
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[CombinedShardInt8]],
      tombRef: java.util.concurrent.atomic.AtomicReference[Array[Long]],
      checkpoint: String,
      numShardsPerSegment: Int = 1,
      segmentLog: Option[String] = None,
      baseBuildId: Option[String] = None,
      idWatermark: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    upsertIngest(docs, idCol, replacesCol, textCol, vecCol, cents,
      frozenStats, frozenTokenDf, ref, tombRef, checkpoint,
      numShardsPerSegment, segmentLog, baseBuildId,
      idWatermark)(VecCodec.Int8(absMax))

  /** One [[upsertIngest]] micro-batch, factored out like
    * [[ingestCombinedBatch]] so the spec can re-deliver it. Tombstones
    * first (see [[upsertIngest]]'s ordering contract), then the segment.
    */
  def upsertCombinedBatch[S <: CombinedBlocks](
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      replacesCol: String,
      textCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      frozenStats: (Long, Double),
      frozenTokenDf: DataFrame,
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[S]],
      tombRef: java.util.concurrent.atomic.AtomicReference[Array[Long]],
      numShardsPerSegment: Int = 1,
      segmentLog: Option[String] = None,
      idWatermark: Option[java.util.concurrent.atomic.AtomicLong] = None)(
      implicit codec: VecCodec[S]): Unit =
    // `replacesCol` rides into the segment log (VERDICT r17 missing #1),
    // making the upsert's delete half durable with its add half: restart
    // recovery folds the logged superseded ids back into the tombstone
    // set, with no caller-side oplog replay required.
    ingestCombinedBatch(batch, batchId, idCol, textCol, vecCol, cents,
      frozenStats, frozenTokenDf, ref, numShardsPerSegment, segmentLog,
      idWatermark, replacesCol = Some(replacesCol),
      tombRef = Some(tombRef))(codec)

  /** COMPACT the live combined serving state (the operation every live
    * mutation above defers to): snapshot the served index + tombstone set
    * + override map, run [[graft.search.ServingFusion.compactCombined]]
    * (drop tombstoned docs, bake overridden factors, fold base+segments
    * to `numPartitions` shards), materialize, atomically swap, and clear
    * EXACTLY the snapshot from the live sets — deletes and overrides that
    * raced in DURING the compaction survive the clear and stay serve-
    * visible against the new state (the subtraction is keyed, not a
    * wholesale reset). Returns the compacted, cached index. The previous
    * index's cached partitions are left to their owner — the base/segment
    * RDDs the caller materialized; unpersist them once no in-flight query
    * holds them.
    */
  def compactCombinedServing[S <: CombinedBlocks](
      ref: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.rdd.RDD[S]],
      tombRef: java.util.concurrent.atomic.AtomicReference[Array[Long]],
      ovRef: java.util.concurrent.atomic.AtomicReference[Map[Long, (Double, Long)]],
      numPartitions: Int)(
      implicit codec: VecCodec[S]): org.apache.spark.rdd.RDD[S] = {
    val tomb = tombRef.get()
    val ov = ovRef.get()
    val old = ref.get()
    val compacted = ServingFusion.compactCombined(
      old, tomb, overridesArray(ov), numPartitions)(codec).cache()
    compacted.count() // materialize BEFORE the swap
    // Rebase, don't blindly set: ingest may have appended segments while
    // the compact+materialize ran (the hook schedules compaction OFF the
    // micro-batch thread) — a plain ref.set(compacted) would drop them
    // from serving until a restart. rebaseUnion splices `compacted` in
    // place of the snapshotted `old` inside whatever union chain ingest
    // built on top of it, and updateAndGet retries under CAS.
    ref.updateAndGet(cur => rebaseUnion(cur, old, compacted))
    val tombSnap = tomb.toSet
    tombRef.updateAndGet(cur => cur.filterNot(tombSnap))
    ovRef.updateAndGet(cur => cur.filterNot { case (id, fv) =>
      ov.get(id).contains(fv)
    })
    compacted
  }

  /** Replace `old` inside `cur`'s append-built union chain with `repl`,
    * keeping every segment unioned on AFTER `old` was snapshotted. The
    * chain shape is the ingest contract — [[appendSegment]] CASes
    * `cur.union(seg)` — i.e. a left-leaning chain of two-parent unions
    * rooted at `old`;
    * anything else means the ref was mutated by something other than
    * segment appends while a compaction ran, which is a caller bug worth
    * failing loudly over (quiesce non-append mutations during compaction).
    */
  private[streaming] def rebaseUnion[T](
      cur: org.apache.spark.rdd.RDD[T],
      old: org.apache.spark.rdd.RDD[T],
      repl: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] =
    if (cur eq old) repl
    else {
      val parents = cur.dependencies.map(_.rdd)
      require(parents.length == 2,
        "compactCombinedServing: the served ref changed during compaction " +
          "in a non-append way (expected a union chain rooted at the " +
          "snapshotted index) — quiesce non-append mutations while a " +
          "compaction runs")
      rebaseUnion(parents(0).asInstanceOf[org.apache.spark.rdd.RDD[T]],
        old, repl)
        .union(parents(1).asInstanceOf[org.apache.spark.rdd.RDD[T]])
    }

  /** Snapshot-then-truncate — the serving layer's AOF rewrite (SURVEY §2
    * S2+S3, reference `pkg/persistence/`: write the snapshot, THEN
    * truncate the journal it supersedes): persist the served combined
    * index in its codec's layout
    * ([[graft.search.ServingFusion.saveCombined]], which records the
    * index's max-id watermark — and an int8 index's `absMax` — in the
    * snapshot meta) and drop the
    * segment log's batch directories, whose docs the snapshot now
    * carries. Returns the number of truncated batches.
    *
    * Crash-safety, both windows: a crash BEFORE the save leaves the old
    * restart path intact (base source + full log); a crash AFTER the
    * save but BEFORE the truncate leaves a stale log behind — recovery
    * passes the snapshot's `maxId` as [[recoverCombinedSegments]]'
    * `minIdExclusive`, which filters every superseded batch's docs, so
    * the half-completed rewrite never double-serves (StreamsSpec drives
    * exactly this window). Call on a COMPACTED index so the snapshot
    * carries no tombstoned docs ([[compactCombinedServing]] first).
    */
  def snapshotCombined[S <: CombinedBlocks](
      index: org.apache.spark.rdd.RDD[S],
      path: String,
      frozenStats: (Long, Double),
      tokenDf: DataFrame,
      idCol: String,
      segmentLog: Option[String] = None)(
      implicit codec: VecCodec[S]): Int = {
    val savedMaxId = ServingFusion.saveCombined(index, path, frozenStats,
      tokenDf)(codec)
    segmentLog.map(truncateSegmentLog(tokenDf.sparkSession, _, idCol,
      savedMaxId)).getOrElse(0)
  }

  /** Drop the segment log's COMPLETE batch directories whose docs the
    * snapshot carries — every id in the batch at or below `upToId`, the
    * value [[graft.search.ServingFusion.saveCombined]] just returned.
    * The watermark condition matters under live ingest: a batch that
    * landed AFTER the snapshotted index was captured has ids above the
    * watermark and is NOT in the snapshot — deleting it (with its
    * checkpoint entry already committed) would lose its docs forever.
    * In-flight directories (no `_SUCCESS`) are never touched — deleting
    * one would race its writer. Returns the number of batch directories
    * removed; only valid through [[snapshotCombined]]'s ordering
    * (snapshot first), calling it alone forfeits the batches on restart.
    *
    * ONE Spark job regardless of batch count (VERDICT r17 #3): the
    * per-directory `max(id)` loop submitted K jobs, which stalls the
    * rewrite on scheduling overhead at a week of unattended 1-minute
    * micro-batches (~10k dirs). All complete directories are read in one
    * scan and grouped by the `batch=<id>` path token — the parquet footer
    * work is identical, the job-submission overhead amortizes to one.
    *
    * Batches whose max id is NULL (all-null ids — possible when ingest
    * ran without an `idWatermark`, whose guard rejects them) are SKIPPED,
    * never deleted (ADVICE r17): their rows are not covered by the
    * snapshot watermark, so deleting them would lose the docs on restart.
    */
  def truncateSegmentLog(spark: SparkSession, segmentLog: String,
      idCol: String, upToId: Long): Int = {
    val dirs = completedLogBatches(spark, segmentLog)
    if (dirs.isEmpty) return 0
    val root = new org.apache.hadoop.fs.Path(segmentLog)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Batch id from the LAST `batch=` path component (the file's parent
    // dir), matching the directory side's lastIndexOf parse — anchoring
    // on the first match mis-bucketed every file when the log ROOT path
    // itself contained a `batch=<n>` component (ADVICE r18). mergeSchema
    // mirrors loggedAboveWatermark: the same mixed-schema logs flow
    // through both readers (only idCol is read today; the symmetry keeps
    // a wider future read safe).
    val maxByBatch = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      .select(
        regexp_extract(input_file_name(), "batch=(\\d+)/[^/]*$", 1)
          .cast("long").as("_batch"),
        col(idCol).cast("long").as("_id"))
      .groupBy(col("_batch")).agg(max(col("_id")).as("_mx"))
      .collect()
      .flatMap { r =>
        if (r.isNullAt(0)) None
        else Some(r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      }.toMap
    var n = 0
    dirs.foreach { dir =>
      val bid = dir.substring(dir.lastIndexOf("batch=") + "batch=".length)
        .toLong
      maxByBatch.get(bid) match {
        case Some(Some(mx)) if mx <= upToId =>
          fs.delete(new org.apache.hadoop.fs.Path(dir), true)
          n += 1
        // A COMPLETE batch dir with zero rows contributes no docs and is
        // deletable — the grouped scan yields it no row, and the old
        // match skipped it forever (ADVICE r18).
        case None =>
          fs.delete(new org.apache.hadoop.fs.Path(dir), true)
          n += 1
        case _ => () // null max id, or ids above the watermark — keep
      }
    }
    n
  }

  /** Pin `checkpoint` to one base build (ADVICE r16): writes
    * `<checkpoint>/graft.base_build_id` on first use and fails fast when
    * an existing marker names a DIFFERENT base — reusing a checkpoint
    * across base rebuilds silently never re-delivers its committed
    * batches (permanent recall loss until compaction), so the doc-only
    * contract becomes a programmatic one.
    */
  def bindCheckpointToBase(spark: SparkSession, checkpoint: String,
      baseBuildId: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(checkpoint, "graft.base_build_id")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val existing = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(existing == baseBuildId,
        s"checkpoint $checkpoint is bound to base build '$existing' but the " +
          s"stream was started against base build '$baseBuildId' — a reused " +
          "checkpoint never re-delivers batches committed against the old " +
          "base; use a fresh checkpoint per base build")
    } else {
      val out = fs.create(marker, false)
      try out.write(baseBuildId.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Restart recovery for [[combinedIngest]]'s durable shape: rebuild the
    * segment log's docs as ONE combined segment (same frozen artifacts,
    * so scores match the lost per-batch segments exactly — segment
    * GRANULARITY never affects results, only which partition serves a
    * doc) and union it onto the fresh base index. Returns the recovered
    * index, materialized; an empty/absent log returns the base unchanged.
    *
    * Only COMPLETE batch directories (`batch=<id>/` with a `_SUCCESS`
    * marker) are read: a directory truncated by a crash mid-write is
    * skipped here and rewritten whole when the checkpoint re-delivers its
    * batch — see [[combinedIngest]]'s exactly-once discipline.
    *
    * `tombRef` (VERDICT r17 missing #1): when given, the log's
    * `graft_replaces` ids — the docs each upsert batch superseded — are
    * folded into the serve-time tombstone set, so an upsert's delete half
    * recovers from the log ALONE (previously a caller-side oplog replay;
    * a caller that skipped it served BOTH copies after a restart). Only
    * batches surviving the `minIdExclusive` filter contribute: a
    * snapshot-superseded batch's replaces were applied by the compaction
    * [[snapshotCombined]]'s compact-first contract requires.
    */
  def recoverCombinedSegments[S <: CombinedBlocks](
      spark: SparkSession,
      segmentLog: String,
      idCol: String,
      textCol: String,
      vecCol: String,
      cents: Array[Array[Float]],
      frozenStats: (Long, Double),
      frozenTokenDf: DataFrame,
      base: org.apache.spark.rdd.RDD[S],
      numShards: Int = 1,
      minIdExclusive: Option[Long] = None,
      tombRef: Option[java.util.concurrent.atomic.AtomicReference[Array[Long]]]
        = None,
      maxReplaces: Int = 0)(
      implicit codec: VecCodec[S]): org.apache.spark.rdd.RDD[S] = {
    val loggedOpt = loggedAboveWatermark(spark, segmentLog, idCol,
      minIdExclusive)
    if (loggedOpt.isEmpty) return base
    val logged = loggedOpt.get
    foldLoggedReplaces(logged, tombRef, maxReplaces)
    if (logged.isEmpty) return base
    val seg = ServingFusion.buildSegment(logged, idCol, textCol, vecCol,
      cents, frozenStats, frozenTokenDf, numShards)(codec).cache()
    seg.count()
    base.union(seg)
  }

  /** The segment log's complete batches above the snapshot watermark —
    * `minIdExclusive` is the base SNAPSHOT's id watermark
    * (`LoadedCombined.maxId`): log docs at or below it are already IN
    * the base, i.e. the log batches a [[snapshotCombined]] superseded
    * but a crash before the truncate left behind. Filtering here (ids
    * are monotone by the append-only contract) makes
    * snapshot-then-truncate crash-safe: recovery over a stale log never
    * double-serves a snapshotted doc. None = no complete batches at all.
    */
  private def loggedAboveWatermark(spark: SparkSession, segmentLog: String,
      idCol: String, minIdExclusive: Option[Long]): Option[DataFrame] = {
    val dirs = completedLogBatches(spark, segmentLog)
    if (dirs.isEmpty) return None
    // mergeSchema: a log written before the `graft_replaces` column
    // existed may mix schemas with newer batches; merged footers keep
    // the union deterministic (the dir count is compaction-bounded).
    val loggedAll = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    Some(minIdExclusive match {
      case Some(wm) => loggedAll.filter(col(idCol).cast("long") > wm)
      case None => loggedAll
    })
  }

  /** Fold a recovered log's superseded ids (`graft_replaces`, logged by
    * the upsert path) into the tombstone set — the restart half of
    * [[upsertIngest]]'s delete-visible-before-add contract. Absent column
    * (pre-upsert logs) = nothing to fold.
    */
  private def foldLoggedReplaces(logged: DataFrame,
      tombRef: Option[java.util.concurrent.atomic.AtomicReference[Array[Long]]],
      cap: Int = 0): Unit =
    tombRef.foreach { tr =>
      if (logged.columns.contains("graft_replaces")) {
        val repDf = logged.filter(col("graft_replaces").isNotNull)
          .select(col("graft_replaces").cast("long")).distinct()
        // Bounded recovery (r19, VERDICT r18 #4): a caller that never
        // snapshots accumulates replaced ids without bound, and this
        // collect would OOM the driver silently. Count first and fail
        // loudly over the same cap the live delete path enforces.
        if (cap > 0) {
          val n = repDf.count()
          require(n <= cap,
            s"recovery would fold $n replaced ids into the tombstone set, " +
              s"over the cap $cap — snapshot/compact the served index " +
              "before restarting (snapshotCombined's compact-first " +
              "contract applies the log's replaces and truncates it)")
        }
        val rep = repDf.collect().map(_.getLong(0))
        if (rep.nonEmpty) { mergeTombstones(tr, rep, cap); () }
      }
    }

  /** The segment log's COMPLETE batch directories (`batch=<id>/` carrying
    * `_SUCCESS`), sorted by batch id — the readable unit of the durable
    * log. Absent/empty logs return Nil.
    */
  def completedLogBatches(spark: SparkSession, segmentLog: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(segmentLog)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(st => fs.exists(
        new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .sortBy(st => st.getPath.getName.stripPrefix("batch=").toLong)
      .map(_.getPath.toString)
  }

  /** The maximum doc id across the log's complete batches — the restart
    * value for [[combinedIngest]]'s `idWatermark` when the served base was
    * recovered through [[recoverCombinedSegments]] (the base index's own
    * max id is the caller's; this covers the recovered segments).
    */
  def maxLoggedId(spark: SparkSession, segmentLog: String,
      idCol: String): Option[Long] = {
    val dirs = completedLogBatches(spark, segmentLog)
    if (dirs.isEmpty) return None
    val r = spark.read.parquet(dirs: _*)
      .agg(max(col(idCol).cast("long"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }
}
