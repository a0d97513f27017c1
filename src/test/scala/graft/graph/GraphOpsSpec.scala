package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{JobCount, SparkSpec}

/** Mirrors the reference's `rich_graph_test.go` (weights/props/time travel),
  * `graph_filter_test.go` (BFS allow-lists), and `pathfinding` semantics.
  * The traversal cases run in every regime through [[Regimes.agree]].
  */
class GraphOpsSpec extends SparkSpec {

  import GraphOps._

  // chunk_1 -next-> chunk_2 -next-> chunk_3; chunks -parent-> doc_1;
  // doc_1 -mentions-> ent_1; edge chunk_2->chunk_3 soft-deleted at t=150.
  private lazy val edges: DataFrame = {
    import spark.implicits._
    Seq(
      ("chunk_1", "chunk_2", "next", 1.0f, null: String, 100L, null.asInstanceOf[java.lang.Long]),
      ("chunk_2", "chunk_3", "next", 1.0f, null: String, 100L, java.lang.Long.valueOf(150L)),
      ("chunk_1", "doc_1", "parent", 1.0f, null: String, 100L, null.asInstanceOf[java.lang.Long]),
      ("chunk_2", "doc_1", "parent", 1.0f, null: String, 110L, null.asInstanceOf[java.lang.Long]),
      ("doc_1", "ent_1", "mentions", 0.5f, """{"a":"b"}""", 120L, null.asInstanceOf[java.lang.Long])
    ).toDF("src", "dst", "rel", "weight", "props", "created_at", "deleted_at")
  }

  test("time travel: active-at predicate (core/graph.go:350-362)") {
    // t=0 → now: soft-deleted edge invisible
    assert(edges.filter(activeAt(0L)).count() == 4)
    // at t=120 the chunk_2->chunk_3 edge still existed (and all 5 are created)
    assert(edges.filter(activeAt(120L)).count() == 5)
    assert(edges.filter(activeAt(120L) && col("dst") === "chunk_3").count() == 1)
    // at t=200 it's gone; at t=90 nothing exists yet
    assert(edges.filter(activeAt(200L) && col("dst") === "chunk_3").count() == 0)
    assert(edges.filter(activeAt(90L)).count() == 0)
  }

  test("in/out edges and relation grouping") {
    assert(outEdges(edges, "chunk_1").count() == 2)
    assert(inEdges(edges, "doc_1").count() == 2)
    assert(inEdges(edges, "doc_1", Some("parent")).count() == 2)
    val rels = relations(edges, "doc_1").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getSeq[String](2)).toMap
    assert(rels(("mentions", "out")) == Seq("ent_1"))
    assert(rels(("parent", "in")) == Seq("chunk_1", "chunk_2"))
  }

  test("dot-path traversal (ops.go:594-696)") {
    import spark.implicits._
    val roots = Seq("chunk_1").toDF("root")
    val got = traverse(edges, roots, Seq("parent", "mentions"))
      .select("node").collect().map(_.getString(0)).toSeq
    assert(got == Seq("ent_1"))
    // time-travel traverse through the deleted edge
    val nextNext = traverse(edges, Seq("chunk_1").toDF("root"), Seq("next", "next"), atTime = 120L)
      .select("node").collect().map(_.getString(0)).toSeq
    assert(nextNext == Seq("chunk_3"))
    assert(traverse(edges, Seq("chunk_1").toDF("root"), Seq("next", "next"))
      .isEmpty) // deleted now
  }

  /** BFS rows (node, depth), duplicates kept, in every regime. */
  private def bfsRows(e: DataFrame, roots: Seq[String], rels: Seq[String] = Nil,
                      direction: String = "out", maxDepth: Int = 5,
                      atTime: Long = 0L): Seq[(String, Int)] = {
    import spark.implicits._
    Regimes.agree(bfs(e, roots.toDF("node"), rels, direction, maxDepth, atTime)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
      .sortBy(r => (Option(r._1), r._2)))
  }

  /** Shortest-path rows node → (hops, path), in every regime. */
  private def pathRows(e: DataFrame, from: String, rels: Seq[String] = Nil,
                       maxDepth: Int = 4, direction: String = "out",
                       atTime: Long = 0L): Map[String, (Int, Seq[String])] = {
    val rows = Regimes.agree(shortestPaths(e, from, rels, maxDepth, direction, atTime)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[String](2).toList))
      .toSeq.sortBy(_._1))
    assert(rows.map(_._1).distinct.size == rows.size, "one row per node")
    rows.map { case (n, h, p) => n -> (h, p) }.toMap
  }

  test("BFS: depth caps, direction, minimal depth") {
    val got = bfsRows(edges, Seq("chunk_1"), direction = "out", maxDepth = 3).toMap
    assert(got == Map("chunk_1" -> 0, "chunk_2" -> 1, "doc_1" -> 1, "ent_1" -> 2))
    val in = bfsRows(edges, Seq("doc_1"), direction = "in", maxDepth = 1).toMap
    assert(in == Map("doc_1" -> 0, "chunk_1" -> 1, "chunk_2" -> 1))
    val depth1 = bfsRows(edges, Seq("chunk_1"), direction = "out", maxDepth = 1)
    assert(!depth1.map(_._1).contains("ent_1"))
    val both = bfsRows(edges, Seq("ent_1", "chunk_2"), direction = "both", maxDepth = 2)
    assert(both == Seq("chunk_1" -> 1, "chunk_2" -> 0, "doc_1" -> 1, "ent_1" -> 0))
  }

  test("shortest paths with hop counts and deterministic path choice") {
    val got = pathRows(edges, "chunk_1", maxDepth = 4)
    assert(got("ent_1")._1 == 2)
    assert(got("ent_1")._2 == Seq("chunk_1", "doc_1", "ent_1"))
    // chunk_2->chunk_3 soft-deleted → unreachable at t=now
    assert(!got.contains("chunk_3"))
    val asOf120 = pathRows(edges, "chunk_1", maxDepth = 4, atTime = 120L)
    assert(asOf120("chunk_3")._1 == 2) // time travel restores the path
    // bidirectional reachability via "both"
    val both = pathRows(edges, "ent_1", maxDepth = 3, direction = "both")
    assert(both("doc_1")._1 == 1 && both("chunk_1")._1 == 2)
  }

  test("subgraph extraction: members + induced active edges") {
    val (members, got) = Regimes.agree {
      val (nodes, sub) = subgraph(edges, "doc_1", depth = 1)
      (nodes.collect().map(_.getString(0)).toSet,
        sub.select("src", "dst").collect().map(r => (r.getString(0), r.getString(1))).toSet)
    }
    assert(members == Set("doc_1", "chunk_1", "chunk_2", "ent_1"))
    // induced edges: chunk_1->chunk_2 (both members), parents, mentions — not chunk_2->chunk_3
    assert(got == Set(("chunk_1", "chunk_2"), ("chunk_1", "doc_1"),
      ("chunk_2", "doc_1"), ("doc_1", "ent_1")))
  }

  test("an unknown direction is rejected, not walked both ways") {
    import spark.implicits._
    val roots = Seq("chunk_1").toDF("node")
    intercept[IllegalArgumentException](bfs(edges, roots, direction = "outt"))
    intercept[IllegalArgumentException](shortestPaths(edges, "chunk_1", direction = "outt"))
    intercept[IllegalArgumentException](relations(edges, "doc_1", direction = "outt"))
  }

  test("rels and atTime filters apply in every regime") {
    assert(bfsRows(edges, Seq("chunk_1"), rels = Seq("next"), atTime = 120L) ==
      Seq("chunk_1" -> 0, "chunk_2" -> 1, "chunk_3" -> 2))
    assert(bfsRows(edges, Seq("chunk_1"), rels = Seq("next")) ==
      Seq("chunk_1" -> 0, "chunk_2" -> 1))
    assert(bfsRows(edges, Seq("chunk_1"), atTime = 105L) ==
      Seq("chunk_1" -> 0, "chunk_2" -> 1, "chunk_3" -> 2, "doc_1" -> 1))
    val viaRels = pathRows(edges, "chunk_1", rels = Seq("parent", "mentions"))
    assert(viaRels == Map("chunk_1" -> (0, Seq("chunk_1")),
      "doc_1" -> (1, Seq("chunk_1", "doc_1")),
      "ent_1" -> (2, Seq("chunk_1", "doc_1", "ent_1"))))
    assert(pathRows(edges, "chunk_2", atTime = 105L) ==
      Map("chunk_2" -> (0, Seq("chunk_2")), "chunk_3" -> (1, Seq("chunk_2", "chunk_3"))))
  }

  test("null ends, null and duplicate roots, and self-loops") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", null), (null, "c"), ("b", "b"), ("b", "c"),
        (null, null))
      .toDF("src", "dst")
      .select(col("src"), col("dst"), lit("r").as("rel"), lit(1L).as("created_at"),
        lit(null).cast("long").as("deleted_at"))
    assert(bfsRows(e, Seq("a", null, "a"), maxDepth = 3) ==
      Seq((null, 0), ("a", 0), ("a", 0), ("b", 1), ("c", 2)))
    assert(bfsRows(e, Seq("c"), direction = "in") == Seq("a" -> 2, "b" -> 1, "c" -> 0))
    assert(pathRows(e, "a", direction = "both") == Map("a" -> (0, Seq("a")),
      "b" -> (1, Seq("a", "b")), "c" -> (2, Seq("a", "b", "c"))))
  }

  test("shortest-path ties break in UTF-8 byte order, as Spark's string min") {
    // U+FF5E sorts above the surrogate pair of U+1F600 in UTF-16 but below
    // it in UTF-8 (EF.. < F0..).
    import spark.implicits._
    val (fw, emoji) = ("\uFF5E", new String(Character.toChars(0x1F600)))
    assert(fw.compareTo(emoji) > 0)
    val e = Seq(("s", emoji), ("s", fw), (emoji, "t"), (fw, "t")).toDF("src", "dst")
      .select(col("src"), col("dst"), lit("r").as("rel"), lit(1L).as("created_at"),
        lit(null).cast("long").as("deleted_at"))
    assert(pathRows(e, "s")("t") == (2, Seq("s", fw, "t")))
  }

  test("bounded fetch: rows within the bound, each partition within its share") {
    import spark.implicits._
    def fetch(df: DataFrame, bound: Int): Option[Seq[Long]] =
      withLocalEdgeLimit(bound)(fetchSmall(df)).map(_.map(_.getLong(0)).toSeq.sorted)
    val even = spark.range(0, 10, 1, 5).toDF("id") // 2 rows in each of 5 partitions
    assert(fetch(even, 10) == Some(0L until 10L))
    assert(fetch(even, 9).isEmpty) // every partition fits its share of 2; 10 > 9
    assert(fetch(even, 0).isEmpty)
    val sc = spark.sparkContext
    val skewed = (sc.parallelize(0L until 10L, 1) ++ sc.parallelize(Seq.empty[Long], 4))
      .toDF("id") // all 10 rows in one of 5 partitions
    assert(fetch(skewed, 10).isEmpty) // over its share of 2
    assert(fetch(skewed, 50) == Some(0L until 10L))
  }

  test("small regime: BFS, shortest paths and subgraph run one Spark job each") {
    import spark.implicits._
    val roots = Seq("chunk_1").toDF("node")
    val (_, bfsJobs) = JobCount.withoutAdaptive(spark)(
      bfs(edges, roots, direction = "both", maxDepth = 3).collect())
    assert(bfsJobs === 1)
    val (_, pathJobs) = JobCount.withoutAdaptive(spark)(
      shortestPaths(edges, "chunk_1", maxDepth = 4).collect())
    assert(pathJobs === 1)
    val (_, subJobs) = JobCount.withoutAdaptive(spark)(
      subgraph(edges, "doc_1", depth = 1)._1.collect())
    assert(subJobs === 1)
  }

  test("link versioning: idempotent re-link vs changed weight (graph.go:112-182)") {
    import spark.implicits._
    val links = Seq(
      ("chunk_1", "chunk_2", "next", 1.0f, null: String, 200L),     // identical → no-op
      ("doc_1", "ent_1", "mentions", 0.9f, """{"a":"b"}""", 200L),  // weight change → new version
      ("ent_1", "ent_2", "related", 1.0f, null: String, 200L)       // brand new
    ).toDF("src", "dst", "rel", "weight", "props", "created_at")
    val after = link(edges, links, now = 200L)
    val active = after.filter(activeAt(0L))
    assert(active.count() == 5) // 4 active before, mentions replaced, +1 new
    val mentions = active.filter(col("rel") === "mentions")
      .collect().map(r => r.getAs[Float]("weight"))
    assert(mentions.toSeq == Seq(0.9f))
    // old version is time-travel visible
    val asOf150 = after.filter(activeAt(150L) && col("rel") === "mentions")
      .collect().map(_.getAs[Float]("weight"))
    assert(asOf150.toSeq == Seq(0.5f))
    // idempotent link did not duplicate
    assert(active.filter(col("src") === "chunk_1" && col("dst") === "chunk_2").count() == 1)
  }

  test("unlink soft/hard and vacuum retention") {
    val soft = unlink(edges, "chunk_1", "chunk_2", "next", now = 300L)
    assert(soft.filter(activeAt(0L)).count() == 3)
    assert(soft.filter(activeAt(250L) && col("dst") === "chunk_2").count() == 1)
    val hard = unlink(edges, "chunk_1", "chunk_2", "next", now = 300L, hard = true)
    assert(hard.count() == 4)
    // vacuum: purge tombstones older than cutoff 200 (the t=150 one goes)
    assert(vacuum(edges, 200L).count() == 4)
    assert(vacuum(edges, 100L).count() == 5)
  }

  test("reliable checkpoint mode produces identical traversals to local") {
    import spark.implicits._
    // Bound 0 keeps this case on the inline regime it was written for.
    withLocalEdgeLimit(0) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.sparkContext.setCheckpointDir(dir)
      val roots = Seq("chunk_1").toDF("node")
      def key(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      assert(key(bfs(edges, roots, direction = "out", maxDepth = 3)) ==
        key(bfs(edges, roots, direction = "out", maxDepth = 3, reliable = true)))
      def pkey(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getSeq[String](2))).toSet
      assert(pkey(shortestPaths(edges, "chunk_1", maxDepth = 4)) ==
        pkey(shortestPaths(edges, "chunk_1", maxDepth = 4, reliable = true)))
    }
  }

  test("drained traversals leave no RDDs cached behind them") {
    import spark.implicits._
    Seq(LocalEdgeLimit, 0).foreach { bound => withLocalEdgeLimit(bound) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val nodes = GraphOps.drained(
        bfsT(edges, Seq("chunk_1").toDF("node"), direction = "both", maxDepth = 3))
      assert(nodes.count() > 0)
      val paths = GraphOps.drained(shortestPathsT(edges, "chunk_1", maxDepth = 4))
      assert(paths.count() > 0)
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert((after -- before).isEmpty,
        s"bound $bound: traversal leaked cached RDDs: ${after -- before}")
    } }
  }

  test("DISTRIBUTED-regime BFS: reliable checkpointing == local, RDDs released") {
    // The tiny-fixture reliable test above never leaves the INLINE regime,
    // so materializeLevel's reliable branch never ran (VERDICT r06 task 6).
    // Force distributed: more roots than InlineFrontierLimit. Graph:
    // a_i -> b_i (9000 edges), b_i -> c_(i%10) (converging), all active.
    import spark.implicits._
    val n = GraphOps.InlineFrontierLimit + 808 // 9000 > 8192 ⇒ distributed
    def enrich(df: DataFrame): DataFrame = df.select(
      col("src"), col("dst"), lit("next").as("rel"), lit(1.0f).as("weight"),
      lit(null).cast("string").as("props"), lit(1L).as("created_at"),
      lit(null).cast("long").as("deleted_at"))
    val bigEdges = enrich(spark.range(n).select(
        concat(lit("a"), col("id")).as("src"),
        concat(lit("b"), col("id")).as("dst")))
      .unionAll(enrich(spark.range(n).select(
        concat(lit("b"), col("id")).as("src"),
        concat(lit("c"), pmod(col("id"), lit(10))).as("dst"))))
    val roots = spark.range(n).select(concat(lit("a"), col("id")).as("node"))

    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt-dist")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    val before = spark.sparkContext.getPersistentRDDs.keySet

    def run(rel: Boolean): Set[(String, Int)] =
      GraphOps.drained(bfsT(bigEdges, roots, direction = "out", maxDepth = 3,
          reliable = rel))
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet

    val local = run(rel = false)
    val reliableRes = run(rel = true)
    assert(local == reliableRes)
    assert(local.size == n + n + 10)             // a@0 ∪ b@1 ∪ c@2
    assert(local.count(_._2 == 2) == 10)
    // The reliable branch really ran: checkpoint files exist on disk.
    import scala.jdk.CollectionConverters._
    val ckptFiles = java.nio.file.Files.walk(ckptDir).iterator().asScala
      .count(p => java.nio.file.Files.isRegularFile(p))
    assert(ckptFiles > 0, "no reliable checkpoint files were written")
    // Both modes released their per-level caches and the active projection.
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"distributed traversal leaked RDDs: $leaked")
  }

  test("visited-set broadcast auto-degrade: shuffle anti-join == broadcast") {
    // VERDICT r09 task 7: past broadcastVisitedLimit accumulated rows the
    // distributed regime must stop re-broadcasting visited/best and flip
    // the anti-join to a shuffle join — with identical results. Force the
    // flip immediately with limit = 1 on a distributed-regime traversal.
    import spark.implicits._
    val n = GraphOps.InlineFrontierLimit + 808
    def enrich(df: DataFrame): DataFrame = df.select(
      col("src"), col("dst"), lit("next").as("rel"), lit(1.0f).as("weight"),
      lit(null).cast("string").as("props"), lit(1L).as("created_at"),
      lit(null).cast("long").as("deleted_at"))
    val bigEdges = enrich(spark.range(n).select(
        concat(lit("a"), col("id")).as("src"),
        concat(lit("b"), col("id")).as("dst")))
      .unionAll(enrich(spark.range(n).select(
        concat(lit("b"), col("id")).as("src"),
        concat(lit("c"), pmod(col("id"), lit(10))).as("dst"))))
    val roots = spark.range(n).select(concat(lit("a"), col("id")).as("node"))

    def runBfs(limit: Long): Set[(String, Int)] =
      GraphOps.drained(bfsT(bigEdges, roots, direction = "out", maxDepth = 3,
          broadcastVisitedLimit = limit))
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val viaBroadcast = runBfs(GraphOps.BroadcastVisitedLimit)
    val viaShuffle = runBfs(1L)
    assert(viaBroadcast == viaShuffle)
    assert(viaShuffle.size == n + n + 10)

    // Single-source shortest paths overflowing into the distributed regime:
    // s -> d_i (9000) -> t_(i%10); both modes must agree on hops AND the
    // deterministic minimal path strings.
    val spEdges = enrich(Seq(("s", "dummy")).toDF("src", "dst")
        .limit(0)) // typed empty seed
      .unionAll(enrich(spark.range(n).select(
        lit("s").as("src"), concat(lit("d"), col("id")).as("dst"))))
      .unionAll(enrich(spark.range(n).select(
        concat(lit("d"), col("id")).as("src"),
        concat(lit("t"), pmod(col("id"), lit(10))).as("dst"))))
    // 18,000 edges fit the small regime; bound 0 keeps the traversal on
    // the distributed path this case is about.
    def runSp(limit: Long): Set[(String, Int, String)] =
      GraphOps.withLocalEdgeLimit(0)(GraphOps.shortestPaths(spEdges, "s", maxDepth = 2,
          broadcastVisitedLimit = limit)
        .select(col("node"), col("hops"), concat_ws("/", col("path")))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .toSet)
    val spBroadcast = runSp(GraphOps.BroadcastVisitedLimit)
    val spShuffle = runSp(1L)
    assert(spBroadcast == spShuffle)
    assert(spShuffle.count(_._2 == 2) == 10)
  }

  test("auto-links derivation (ops.go:1699-1737)") {
    import spark.implicits._
    val t = Seq(("v1", "projA"), ("v2", null), ("v3", "projB"))
      .toDF("id", "project")
    val got = autoLinks(t, "id", "project", "part_of")
      .select("src", "dst", "rel").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("v1", "projA", "part_of"), ("v3", "projB", "part_of")))
  }
}
