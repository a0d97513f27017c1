package graft.oplog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Event-sourced mutation layer — the Spark analogue of the reference's
  * AOF-first write path (SURVEY §1.3, §7.1).
  *
  * The reference journals every mutation as one of 11 RESP commands before
  * touching RAM (`pkg/engine/ops.go:358-365`) and rebuilds full state by
  * replaying the log (`pkg/engine/recovery.go:78-458`). Here the log is an
  * append-only `oplog` DataFrame/table and "replay" is a set of keyed
  * folds producing the `vectors` and `edges` state views — snapshots
  * (`pkg/core/core.go:182-305`) become compaction of the same log, and graph
  * time travel falls out of the append-only edge versions.
  *
  * Scale notes: a replay is one eager gate job plus one keyed pass per
  * state view. The gate (one shuffle-free aggregate job, run once per log
  * lineage) checks the op inventory and collects the last VDROP seq per
  * index, a catalog-sized map that every fold applies as a literal
  * predicate.
  * `foldVectors` is a single aggregate keyed by (index_name, id) with
  * map-side partials; `foldEdges` is one window shuffle on the edge key
  * plus its VDEL cascade (a keyed aggregate joined on src and dst). No
  * fold iterates on the driver, collects data-sized state, or rescans the
  * log for VDROPs. At 100 TB the oplog would be a partitioned table
  * bucketed by key, and those keyed passes reuse that partitioning.
  * Because the drop map is a literal fixed when a fold is CALLED, a fold
  * frame describes the log as it was at that call: after the log's files
  * change, fold again rather than re-run a kept fold frame.
  *
  * Schema (one row per logical AOF command, `recovery.go:169-378`):
  *   seq LONG       — total order (the AOF byte offset analogue)
  *   ts LONG        — event time (== seq in the generated log)
  *   op STRING      — VCREATE|VDROP|VADD|VMETA|VDEL|GLINK|GUNLINK|SET|DEL
  *                    |VCONFIG|VAUTOLINKS (the full 11-command inventory)
  *   index_name, id — vector-record coordinates (VADD/VMETA/VDEL)
  *   vector, meta   — VADD payload; VMETA carries a partial meta overlay
  *   src, dst, rel, weight — edge coordinates (GLINK/GUNLINK)
  *   payload STRING — JSON body of VCONFIG (AutoMaintenanceConfig,
  *                    `core/hnsw/config.go:67`) / VAUTOLINKS (AutoLinkRule[],
  *                    `client/client.go:75`); null for every other op
  *
  * Semantics replicated from the reference:
  *   - VADD is an upsert that REPLACES metadata wholly (stale-metadata
  *     overwrite test `pkg/core/core_test.go:349`);
  *   - VMETA merges keys into current metadata (`VSetMetadata`);
  *   - VDEL tombstones the node and cascades a soft delete over all its
  *     edges (`pkg/engine/ops.go:401`); a later VADD revives the id as a
  *     fresh record (edges stay deleted);
  *   - GLINK is idempotent; a weight change soft-deletes the open version
  *     and appends a new one (edge versioning, `pkg/core/graph.go:112-182`);
  *   - GUNLINK soft-deletes the open version (`graph.go:187-240`);
  *   - VDROP erases the index; a later VCREATE starts empty.
  *   - VCONFIG/VAUTOLINKS are latest-wins per index and apply only while
  *     the index exists at the event's position in the stream; VDROP wipes
  *     them with the index (`recovery.go:367-389`: the handlers mutate
  *     `indexes[idxName]`, which VDROP deletes at `recovery.go:177`).
  */
object Oplog {

  val MemIdx = "mem"

  /** The reference's full AOF command inventory (`recovery.go:169-389`).
    * Replay folds fail loudly on anything outside it — silently skipping an
    * op class is how config/rule state got lost historically.
    */
  val KnownOps: Seq[String] = Seq(
    "VCREATE", "VDROP", "VADD", "VMETA", "VDEL",
    "GLINK", "GUNLINK", "SET", "DEL", "VCONFIG", "VAUTOLINKS")

  /** What the gate learns from its one pass over the log: the source
    * fingerprint it was computed under and the last VDROP seq per index
    * (catalog-sized, so it lives on the driver).
    */
  private final case class Gate(fingerprint: String, drops: Map[String, Long])

  /** Gate results memoized on the canonicalized analyzed plan. File-source
    * relations compare by reference, so two separate `spark.read` calls
    * over the same path build distinct keys and each validates once — the
    * memo's contract is "same DataFrame lineage", which is exactly what the
    * replay folds share. The stored [[Gate.fingerprint]] is compared with a
    * FRESH one on every lookup, so a long-lived frame over a path whose
    * files are swapped in-session — even by a same-length rewrite — is
    * re-validated rather than served a stale verdict or stale drop map.
    * Keys are weakly held; dropping the log frees the entry.
    */
  private val gates = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Gate]())

  /** Identity of the frame's file-backed sources: per file, path + length
    * + modification time from a FRESH `getFileStatus` — not the relation's
    * cached listing, which is pinned at read time and would report the
    * pre-swap metadata forever (serving exactly the stale verdict this
    * fingerprint exists to prevent: a same-path same-size in-session swap
    * only moves the mtime). Cost: one metadata stat per input file per
    * fold call — O(files) namenode RPCs, the same order as the listing
    * every job planning pass performs, and noise next to the gate scan.
    * A file that vanished mid-session fingerprints as `missing`, which
    * also forces re-validation. In-memory (local) relations have no file
    * footprint and fingerprint to a constant — their contents are
    * immutable, so plan identity alone is sufficient for them.
    */
  private def sourceFingerprint(oplog: DataFrame): String = {
    lazy val conf = oplog.sparkSession.sessionState.newHadoopConf()
    oplog.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.inputFiles.sorted.iterator.map { p =>
              val path = new org.apache.hadoop.fs.Path(p)
              val stat =
                try {
                  val s = path.getFileSystem(conf).getFileStatus(path)
                  s.getLen.toString + "@" + s.getModificationTime
                } catch { case _: java.io.IOException => "missing" }
              p + "#" + stat
            }.mkString(",")
          case _ => ""
        }
    }.mkString("|")
  }

  /** EAGER replay gate: one aggregate job over the log, run once per log
    * lineage (memoized in [[gates]]), returning the last-VDROP map that
    * [[afterDrop]] turns into a literal predicate.
    *
    * Eager, not an in-plan predicate: the folds stack op filters
    * (`op = 'VADD'`, …) on top of the log, and the optimizer rightly
    * pushes those into a file-backed scan — row-group pruning can then
    * drop an unknown-op row before any lazy per-row `raise_error` would
    * evaluate it, silently bypassing the guard. The one scan is the
    * replay-integrity price (the reference CRC-checks every frame on
    * recovery for the same reason, `recovery.go:120-148`); it is paid once
    * however many of foldVectors / foldEdges / foldConfig replay the same
    * frame, and it also yields the drop map, so no fold rescans the log
    * for VDROPs. Fails with `unknown oplog op: <op>` on a null op or one
    * outside [[KnownOps]].
    *
    * The aggregate is `RDD.aggregate` over the column-pruned (op,
    * index_name, seq) rows: each task folds its partition to (bad-op
    * count, first bad op, per-index max VDROP seq) and the driver merges
    * the per-partition results. An ungrouped DataFrame aggregate would
    * instead shuffle one partial row per partition to a single reducer,
    * and on a fragmented log that shuffle write is the whole cost: over
    * a 100-partition, 2,500-row log on 4 cores the gate's task time
    * measured 0.9–2.5 s that way against 0.06–0.3 s without the shuffle.
    */
  private def gate(oplog: DataFrame): Gate = {
    val key = oplog.queryExecution.analyzed.canonicalized
    val fp = sourceFingerprint(oplog)
    val memo = gates.get(key)
    if (memo != null && memo.fingerprint == fp) memo
    else {
      val known = KnownOps.toSet
      def addDrop(d: Map[String, Long], idx: String, seq: Long) =
        d.updated(idx, d.get(idx).fold(seq)(math.max(_, seq)))
      val (bad, firstBad, drops) =
        oplog.select(col("op"), col("index_name"), col("seq").cast("long"))
          .rdd.aggregate((0L, Option.empty[String], Map.empty[String, Long]))(
            { case ((n, first, d), r) =>
              val op = r.getString(0)
              if (op == null || !known(op))
                (n + 1, first.orElse(Some(String.valueOf(op))), d)
              else if (op == "VDROP" && !r.isNullAt(1) && !r.isNullAt(2))
                (n, first, addDrop(d, r.getString(1), r.getLong(2)))
              else (n, first, d)
            },
            { case ((n1, f1, d1), (n2, f2, d2)) =>
              (n1 + n2, f1.orElse(f2),
                d2.foldLeft(d1) { case (d, (idx, seq)) => addDrop(d, idx, seq) })
            })
      require(bad == 0, s"unknown oplog op: ${firstBad.orNull}")
      val g = Gate(fp, drops)
      gates.put(key, g)
      g
    }
  }

  /** Uniform row shape for one op class. `base` provides the driving rows. */
  private[graft] def opRows(
      base: DataFrame,
      seq: Column,
      op: String,
      index: String,
      id: Column = lit(null).cast("string"),
      vector: Column = lit(null).cast("array<float>"),
      meta: Column = lit(null).cast("map<string,string>"),
      src: Column = lit(null).cast("string"),
      dst: Column = lit(null).cast("string"),
      rel: Column = lit(null).cast("string"),
      weight: Column = lit(null).cast("double"),
      payload: Column = lit(null).cast("string")): DataFrame =
    base.select(
      seq.cast("long").as("seq"), seq.cast("long").as("ts"), lit(op).as("op"),
      lit(index).as("index_name"), id.cast("string").as("id"),
      vector.cast("array<float>").as("vector"),
      meta.cast("map<string,string>").as("meta"),
      src.cast("string").as("src"), dst.cast("string").as("dst"),
      rel.cast("string").as("rel"), weight.cast("double").as("weight"),
      payload.cast("string").as("payload"))

  /** Deterministic synthetic oplog over the `embeddings` table.
    *
    * seq = vec_id*100 + offset keeps per-entity histories ordered without
    * needing a global count (works at any scale factor). Exercises: index
    * create/drop, upsert-resets-meta, partial VMETA merge, delete, revive
    * after delete, edge versioning, idempotent GLINK, unlink, and the VDEL
    * edge cascade.
    */
  def generate(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val v = col("vec_id")
    val idS = v.cast("string")
    val one = s.range(1).toDF()

    val stream = Seq(
      opRows(one, lit(0), "VCREATE", MemIdx),
      opRows(one, lit(1), "VCREATE", "tmp"),
      // Config/rule lifecycle (VCONFIG/VAUTOLINKS, recovery.go:367-389):
      // early mem config+rules are overridden by the late ones below;
      // 'ghost' has no VCREATE (dropped); tmp's config dies with VDROP@999;
      // 're' exercises the drop-then-recreate window (config@8 lands while
      // the index does not exist → dropped; config@14 wins).
      opRows(one, lit(2), "VCONFIG", MemIdx,
        payload = lit("""{"delete_threshold":0.5}""")),
      opRows(one, lit(3), "VAUTOLINKS", MemIdx,
        payload = lit("""[{"metadata_field":"label","relation_type":"has_label"}]""")),
      opRows(one, lit(4), "VCONFIG", "ghost",
        payload = lit("""{"delete_threshold":0.9}""")),
      opRows(one, lit(6), "VCREATE", "re"),
      opRows(one, lit(7), "VDROP", "re"),
      opRows(one, lit(8), "VCONFIG", "re",
        payload = lit("""{"delete_threshold":0.8}""")),
      opRows(one, lit(9), "VCREATE", "re"),
      opRows(one, lit(14), "VCONFIG", "re",
        payload = lit("""{"vacuum_interval":"1m"}""")),
      opRows(one, lit(16), "VCONFIG", "tmp",
        payload = lit("""{"delete_threshold":0.7}""")),
      opRows(one, lit(10000000000L), "VCONFIG", MemIdx,
        payload = lit("""{"delete_threshold":0.1,"graph_retention":"720h"}""")),
      opRows(one, lit(10000000001L), "VAUTOLINKS", MemIdx,
        payload = lit("""[{"metadata_field":"src","relation_type":"from_src"},{"metadata_field":"label","relation_type":"labeled","create_node":true}]""")),
      // tmp gets 5 adds then is dropped — replay must erase them.
      opRows(emb.filter(v < 5), v * 100 + 5, "VADD", "tmp", id = idS,
        vector = col("embedding"),
        meta = map(lit("label"), col("label").cast("string"))),
      opRows(one, lit(999), "VDROP", "tmp"),
      // Edge chain v -[next]-> v+1, then versioning/no-op/unlink variants.
      opRows(emb, v * 100 + 10, "GLINK", MemIdx, src = idS,
        dst = (v + 1).cast("string"), rel = lit("next"), weight = lit(1.0)),
      opRows(emb.filter(v % 4 === 0), v * 100 + 11, "GLINK", MemIdx, src = idS,
        dst = (v + 1).cast("string"), rel = lit("next"), weight = lit(2.0)),
      // Identical weight re-link: idempotent no-op (graph.go:112-134).
      opRows(emb.filter(v % 8 === 0), v * 100 + 12, "GLINK", MemIdx, src = idS,
        dst = (v + 1).cast("string"), rel = lit("next"), weight = lit(2.0)),
      opRows(emb.filter(v % 6 === 0), v * 100 + 13, "GUNLINK", MemIdx,
        src = idS, dst = (v + 1).cast("string"), rel = lit("next")),
      // Vector lifecycle.
      opRows(emb, v * 100 + 20, "VADD", MemIdx, id = idS,
        vector = col("embedding"),
        meta = map(lit("label"), col("label").cast("string"),
          lit("src"), lit("base"))),
      opRows(emb.filter(v % 3 === 0), v * 100 + 21, "VMETA", MemIdx, id = idS,
        meta = map(lit("status"), lit("hot"))),
      // Re-add: metadata is wholly replaced (status from seq+21 is lost).
      opRows(emb.filter(v % 10 === 0), v * 100 + 22, "VADD", MemIdx, id = idS,
        vector = col("embedding"),
        meta = map(lit("label"), col("label").cast("string"),
          lit("src"), lit("re"))),
      opRows(emb.filter(v % 5 === 0), v * 100 + 23, "VMETA", MemIdx, id = idS,
        meta = map(lit("rev"), lit("2"))),
      opRows(emb.filter(v % 17 === 0), v * 100 + 24, "VDEL", MemIdx, id = idS),
      // Revive after delete: fresh record, cascaded edges stay deleted.
      opRows(emb.filter(v % 34 === 0), v * 100 + 25, "VADD", MemIdx, id = idS,
        vector = col("embedding"), meta = map(lit("src"), lit("revived"))))

    stream.reduce(_ unionByName _)
  }

  /** S1's corruption-recovery half — permissive resync past damaged frames.
    *
    * The reference recovers from a torn/corrupt AOF by scanning forward to
    * the next valid frame boundary, counting the skipped bytes, and
    * continuing the replay (`pkg/engine/recovery.go:32-77`, exercised by
    * `recovery_corrupt_aof_test.go`) — corruption costs the damaged frames,
    * never the whole log. The Spark analogue of "frame fails to parse" is a
    * row that fails the per-op shape contract; `resync` splits the raw log
    * into (valid, quarantined) in one declarative pass, tagging each
    * quarantined row with a `_corrupt` reason:
    *   - `unknown_op`:   op is null or outside [[KnownOps]] (a frame whose
    *     command byte didn't match any handler);
    *   - `missing_seq`:  no total-order position (unrecoverable offset);
    *   - `torn_payload`: a known op missing its required arguments (VADD
    *     without id/vector, GLINK without src/dst/rel, …) — the truncated-
    *     write case the reference's resync exists for.
    *
    * The valid side replays through the normal folds (whose eager
    * [[gate]] then passes by construction); the quarantined side
    * is the `_corrupt` side channel — count it, alert on it, keep serving.
    * Strictness note: [[gate]]-then-fold remains the default path
    * because silently skipping frames is how state loss hides; `resync` is
    * the OPERATOR'S CHOICE recovery mode, mirroring the reference where
    * resync is the recovery path, not the happy path.
    *
    * Scale: one column-pruned predicate pass, no shuffle, no collect.
    */
  def resync(raw: DataFrame): (DataFrame, DataFrame) = {
    val reason =
      when(col("op").isNull || !col("op").isin(KnownOps: _*), "unknown_op")
        .when(col("seq").isNull, "missing_seq")
        .when(col("op") === "VADD" &&
          (col("id").isNull || col("vector").isNull), "torn_payload")
        .when(col("op") === "VMETA" &&
          (col("id").isNull || col("meta").isNull), "torn_payload")
        .when(col("op") === "VDEL" && col("id").isNull, "torn_payload")
        .when(col("op").isin("GLINK", "GUNLINK") &&
          (col("src").isNull || col("dst").isNull || col("rel").isNull),
          "torn_payload")
        .when(col("op").isin("VCONFIG", "VAUTOLINKS") &&
          col("payload").isNull, "torn_payload")
    val tagged = raw.withColumn("_corrupt", reason)
    (tagged.filter(col("_corrupt").isNull).drop("_corrupt"),
      tagged.filter(col("_corrupt").isNotNull))
  }

  /** Events surviving the last VDROP of their index (drop erases history),
    * after the eager [[gate]]. The drop map is a literal, so this is a
    * per-row predicate: no join, no scan. Null semantics are those of a
    * left join on `index_name`: an event of an index with no VDROP (or a
    * null index) survives; an event with a null seq of a dropped index
    * does not.
    *
    * The map is read when this is called and written into the returned
    * plan, so the plan is valid only for the log as it was at that call.
    * Running a kept fold frame again after the log's files change applies
    * the old drop map and returns wrong rows; fold again instead (the new
    * call re-checks the source fingerprint and re-runs the gate). Every
    * caller in this codebase collects or runs its fold at once.
    */
  private def afterDrop(oplog: DataFrame): DataFrame = {
    val dropSeq = try_element_at(typedLit(gate(oplog).drops), col("index_name"))
    oplog.filter(dropSeq.isNull || col("seq") > dropSeq)
  }

  /** S1 replay — vector-record state view.
    *
    * Output: (index_name, id, alive, vector, meta, add_seq, del_ts).
    * One keyed aggregate over the VADD/VDEL/VMETA events, with map-side
    * partials — NOT a sort window, and no self-join: per (index_name, id)
    * it keeps the latest VADD (`max_by` over the unique `seq`), the latest
    * VDEL seq and ts, and the list of VMETA overlays. The metadata merge
    * then runs per row: overlays newer than the surviving VADD, in seq
    * order, fold over its map latest-wins per key (a key whose newest
    * value is null stays, with null). An empty merged map reads as null.
    * Valid for the log as of this call; see [[afterDrop]].
    */
  def foldVectors(oplog: DataFrame): DataFrame = {
    val op = col("op")
    val emptyMeta = typedLit(Map.empty[String, String])
    val perId = afterDrop(oplog)
      .filter(op.isin("VADD", "VDEL", "VMETA"))
      .groupBy("index_name", "id")
      .agg(
        max_by(struct(col("seq"), col("vector"), col("meta")),
          when(op === "VADD", col("seq"))).as("a"),
        max(when(op === "VDEL", col("seq"))).as("del_seq"),
        max(when(op === "VDEL", col("ts"))).as("del_ts"),
        collect_list(when(op === "VMETA",
          struct(col("seq"), coalesce(col("meta"), emptyMeta).as("meta"))))
          .as("overlays"))
      .filter(col("a").isNotNull)

    val addSeq = col("a.seq")
    val overlays = array_sort(
      filter(col("overlays"), o => o("seq") > addSeq),
      (l, r) => when(l("seq") < r("seq"), -1)
        .when(l("seq") > r("seq"), 1).otherwise(0))
    val merged = aggregate(overlays, coalesce(col("a.meta"), emptyMeta),
      (acc, o) => map_concat(
        map_filter(acc, (k, _) => !array_contains(map_keys(o("meta")), k)),
        o("meta")))

    // Two projections: the optimizer keeps `merged` computed once rather
    // than inlining it into both references of the `when`.
    perId.select(col("index_name"), col("id"),
      (col("del_seq").isNull || addSeq > col("del_seq")).as("alive"),
      col("a.vector").as("vector"), merged.as("meta"),
      addSeq.as("add_seq"), col("del_ts"))
      .withColumn("meta", when(size(col("meta")) > 0, col("meta")))
  }

  /** S1 replay — edge-version state view (append-only, time-travel-ready).
    *
    * Output: (index_name, src, dst, rel, weight, created_at, deleted_at).
    * Closed versions are retained with their deleted_at (history IS the
    * feature); `deleted_at IS NULL` = active edge.
    * Valid for the log as of this call; see [[afterDrop]].
    */
  def foldEdges(oplog: DataFrame): DataFrame = {
    val ev = afterDrop(oplog)
      .filter(col("op").isin("GLINK", "GUNLINK"))
    val key = Seq("index_name", "src", "dst", "rel")
    val byKey = Window.partitionBy(key.map(col): _*).orderBy("seq")

    // An identical-weight GLINK straight after an (open) GLINK is a no-op.
    // coalesce(..., false): the first event of a key has a NULL lag — the
    // predicate must read "not a proven no-op", not "non-null and not no-op".
    val effective = ev
      .withColumn("prev_op", lag("op", 1).over(byKey))
      .withColumn("prev_w", lag("weight", 1).over(byKey))
      .filter(!coalesce(
        col("op") === "GLINK" && col("prev_op") === "GLINK" &&
          col("prev_w") === col("weight"), lit(false)))
      .drop("prev_op", "prev_w")

    // Each version is closed by the NEXT effective event on its key
    // (superseding GLINK or GUNLINK).
    val versions = effective
      .withColumn("close_ts", lead("ts", 1).over(byKey))
      .filter(col("op") === "GLINK")
      .select(col("index_name"), col("src"), col("dst"), col("rel"),
        col("weight"), col("ts").as("created_at"), col("close_ts"))

    // VDEL cascade: the first delete of src or dst at/after creation closes
    // an otherwise-open version (ops.go:401 cascade semantics).
    val vdels = oplog.filter(col("op") === "VDEL")
      .groupBy(col("index_name"), col("id").as("node"))
      .agg(sort_array(collect_list(col("ts"))).as("del_ts_list"))
    // get() (0-based) instead of element_at: returns null on empty arrays
    // under ANSI mode instead of throwing.
    def firstDelAfter(joined: Column): Column =
      get(filter(joined, t => t >= col("created_at")), lit(0))

    versions
      .join(vdels.withColumnRenamed("node", "src")
        .withColumnRenamed("del_ts_list", "src_dels"),
        Seq("index_name", "src"), "left")
      .join(vdels.withColumnRenamed("node", "dst")
        .withColumnRenamed("del_ts_list", "dst_dels"),
        Seq("index_name", "dst"), "left")
      .withColumn("deleted_at",
        least(col("close_ts"), firstDelAfter(col("src_dels")),
          firstDelAfter(col("dst_dels"))))
      .select(col("index_name"), col("src"), col("dst"), col("rel"),
        col("weight"), col("created_at"), col("deleted_at"))
  }

  /** Write-path validations the reference's engine enforces at the API
    * boundary (mirrored from `testdata/api_contracts.json` regressions):
    *   - `duplicate_add`: VADD for an id that is already alive at that seq
    *     (the engine 409s; legal logs re-add only after VDEL);
    *   - `self_link`: GLINK with src == dst (rejected);
    *   - `duplicate_create`: VCREATE for an index that already exists.
    * Returns (seq, op, index_name, violation) — empty on a legal log.
    */
  def violations(oplog: DataFrame): DataFrame = {
    val byId = Window.partitionBy("index_name", "id").orderBy("seq")
    val addsDels = oplog.filter(col("op").isin("VADD", "VDEL"))
      .withColumn("prev_op", lag("op", 1).over(byId))
    val dupAdds = addsDels
      .filter(col("op") === "VADD" && col("prev_op") === "VADD")
      .select(col("seq"), col("op"), col("index_name"),
        lit("duplicate_add").as("violation"))
    val selfLinks = oplog
      .filter(col("op") === "GLINK" && col("src") === col("dst"))
      .select(col("seq"), col("op"), col("index_name"),
        lit("self_link").as("violation"))
    val byIdx = Window.partitionBy("index_name").orderBy("seq")
    val dupCreates = oplog.filter(col("op").isin("VCREATE", "VDROP"))
      .withColumn("prev_op", lag("op", 1).over(byIdx))
      .filter(col("op") === "VCREATE" && col("prev_op") === "VCREATE")
      .select(col("seq"), col("op"), col("index_name"),
        lit("duplicate_create").as("violation"))
    dupAdds.unionByName(selfLinks).unionByName(dupCreates)
  }

  /** S4 completion — VCONFIG/VAUTOLINKS replay (`recovery.go:367-389`).
    *
    * Output: (index_name, op, payload, cfg_seq) — the surviving config JSON
    * per (index, command kind). Semantics: latest-wins per index; an event
    * only applies if the index exists at the event's position in the stream
    * (the reference mutates `indexes[idxName]`, absent → silently skipped);
    * VDROP deletes the indexState and its config with it, so only events
    * after the last VDROP can survive — which is exactly [[afterDrop]],
    * after which "exists at event time" reduces to "a surviving VCREATE
    * precedes the event".
    *
    * Scale: config traffic is catalog-sized (a handful of rows per index),
    * so the per-index window here is nowhere near the data path.
    * Valid for the log as of this call; see [[afterDrop]].
    */
  def foldConfig(oplog: DataFrame): DataFrame = {
    val life = afterDrop(oplog)
      .filter(col("op").isin("VCREATE", "VCONFIG", "VAUTOLINKS"))
    val w = Window.partitionBy("index_name").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, -1)
    life
      .withColumn("created",
        coalesce(max(col("op") === "VCREATE").over(w), lit(false)))
      .filter(col("op").isin("VCONFIG", "VAUTOLINKS") && col("created"))
      .groupBy("index_name", "op")
      .agg(max_by(col("payload"), col("seq")).as("payload"),
        max("seq").as("cfg_seq"))
  }

  /** G10 through the log: auto-link edges derived from the REPLAYED
    * VAUTOLINKS rules (`ops.go:1813` persists the rules; `processAutoLinks`
    * `ops.go:1699-1737` applies them on write). For each live record whose
    * metadata carries `rule.metadata_field`, emit
    * `id -[relation_type]-> meta[field]`. Rules are catalog-sized →
    * broadcast join against the folded state; no extra shuffle.
    */
  def autoLinksFromLog(
      oplog: DataFrame,
      prebuiltState: Option[DataFrame] = None): DataFrame = {
    val ruleSchema =
      "array<struct<metadata_field:string,relation_type:string,create_node:boolean>>"
    val rules = foldConfig(oplog).filter(col("op") === "VAUTOLINKS")
      .select(col("index_name"),
        explode(from_json(col("payload"), ruleSchema,
          Map.empty[String, String])).as("rule"))
    // A deployment applies rules against its MATERIALIZED state table, not
    // a fresh replay — pass it via `prebuiltState` (the fold is the
    // fallback for ad-hoc use).
    prebuiltState.getOrElse(foldVectors(oplog)).filter(col("alive"))
      .join(broadcast(rules), Seq("index_name"))
      .withColumn("dst", try_element_at(col("meta"), col("rule.metadata_field")))
      // The reference also skips empty-string targets, not just missing
      // fields (processAutoLinks: `targetID == "" -> continue`,
      // ops.go:1699-1737).
      .filter(col("dst").isNotNull && col("dst") =!= "")
      .select(col("index_name"), col("id").as("src"), col("dst"),
        col("rule.relation_type").as("rel"), lit(1.0f).as("weight"),
        col("rule.create_node").as("create_node"))
  }

  /** S12 — catalog state: per index, whether it exists and its bounds. */
  def catalog(oplog: DataFrame): DataFrame =
    oplog.filter(col("op").isin("VCREATE", "VDROP"))
      .groupBy("index_name")
      .agg(
        max(when(col("op") === "VCREATE", col("seq"))).as("created_seq"),
        max(when(col("op") === "VDROP", col("seq"))).as("dropped_seq"))
      .withColumn("exists",
        col("dropped_seq").isNull || col("created_seq") > col("dropped_seq"))

  /** S2/S3 — snapshot: compact the log at `atSeq` into the minimal command
    * stream reproducing live state (the reference's RewriteAOF,
    * `recovery.go:573`: re-emit one command per live record). History before
    * the snapshot point is dropped — exactly what snapshot+truncate loses.
    */
  def snapshot(oplog: DataFrame, atSeq: Long): DataFrame = {
    val head = oplog.filter(col("seq") <= atSeq)
    val vcreates = catalog(head).filter(col("exists"))
      .select(col("created_seq").as("seq"), col("created_seq").as("ts"),
        lit("VCREATE").as("op"), col("index_name"),
        lit(null).cast("string").as("id"),
        lit(null).cast("array<float>").as("vector"),
        lit(null).cast("map<string,string>").as("meta"),
        lit(null).cast("string").as("src"), lit(null).cast("string").as("dst"),
        lit(null).cast("string").as("rel"),
        lit(null).cast("double").as("weight"),
        lit(null).cast("string").as("payload"))
    val vadds = foldVectors(head).filter(col("alive"))
      .select(col("add_seq").as("seq"), col("add_seq").as("ts"),
        lit("VADD").as("op"), col("index_name"), col("id"), col("vector"),
        col("meta"), lit(null).cast("string").as("src"),
        lit(null).cast("string").as("dst"), lit(null).cast("string").as("rel"),
        lit(null).cast("double").as("weight"),
        lit(null).cast("string").as("payload"))
    val glinks = foldEdges(head).filter(col("deleted_at").isNull)
      .select(col("created_at").as("seq"), col("created_at").as("ts"),
        lit("GLINK").as("op"), col("index_name"),
        lit(null).cast("string").as("id"),
        lit(null).cast("array<float>").as("vector"),
        lit(null).cast("map<string,string>").as("meta"),
        col("src"), col("dst"), col("rel"), col("weight"),
        lit(null).cast("string").as("payload"))
    // Surviving config/rules are re-emitted as one command per (index, kind)
    // at their original seq — the reference's rewrite folds rules into the
    // VCREATE AUTO_LINKS arg (`recovery.go:746-749`); state-equivalent here.
    val configs = foldConfig(head)
      .select(col("cfg_seq").as("seq"), col("cfg_seq").as("ts"),
        col("op"), col("index_name"),
        lit(null).cast("string").as("id"),
        lit(null).cast("array<float>").as("vector"),
        lit(null).cast("map<string,string>").as("meta"),
        lit(null).cast("string").as("src"), lit(null).cast("string").as("dst"),
        lit(null).cast("string").as("rel"),
        lit(null).cast("double").as("weight"), col("payload"))
    vcreates.unionByName(vadds).unionByName(glinks).unionByName(configs)
  }

  /** S13 — memory transfer: copy filter-matched live records of `from` plus
    * their induced active subgraph into `to`, with an agent provenance node
    * linked to every transferred record
    * (`internal/server/http_handlers.go:271-319`).
    * Returns (transferred nodes, transferred edges ∪ provenance edges).
    */
  def transfer(
      vstate: DataFrame,
      estate: DataFrame,
      from: String,
      to: String,
      pred: Column,
      agentId: String,
      ts: Long): (DataFrame, DataFrame) = {
    val sel = vstate.filter(col("index_name") === from && col("alive") && pred)
    val ids = sel.select(col("id"))
    val nodes = sel
      .withColumn("index_name", lit(to))
      .withColumn("meta", map_concat(
        coalesce(col("meta"), map()),
        map(lit("_transferred_from"), lit(from))))
    val edgeCols = Seq("index_name", "src", "dst", "rel", "weight",
      "created_at", "deleted_at").map(col)
    val induced = estate
      .filter(col("index_name") === from && col("deleted_at").isNull)
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .withColumn("index_name", lit(to))
      .select(edgeCols: _*)
    val prov = ids.select(
      lit(to).as("index_name"), lit(s"agent:$agentId").as("src"),
      col("id").as("dst"), lit("transferred").as("rel"), lit(1.0).as("weight"),
      lit(ts).as("created_at"), lit(null).cast("long").as("deleted_at"))
    (nodes, induced.unionByName(prov))
  }
}
