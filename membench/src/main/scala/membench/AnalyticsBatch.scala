package membench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.graph.GraphOps
import graft.memory.Epistemic
import graft.oplog.Oplog
import graft.queries.FusionQueries
import graft.search.{Fusion, Ivf}

/** The background knowledge jobs, the job half of [[BatchJobs]].
  *
  * One pass over a fixed job list — LSH near-duplicate
  * pairs, their connected components, clustered semantic dedup, BFS,
  * shortest paths, evolution chains, the oplog folds and a batched fusion
  * search — each job one call forced to full materialization. These are
  * multi-job, shuffle-heavy, iterative plans: jobs per call, persist sites
  * and convergence rounds set their cost. Serving and streaming are not
  * touched.
  */
object AnalyticsBatch {

  final case class Sizes(docs: Int, dupShare: Double, docLen: Int, vocab: Int,
      dim: Int, nodes: Int, edges: Int, chains: Int, hubs: Int, queries: Int)

  val Full = Sizes(docs = 400, dupShare = 0.1, docLen = 30, vocab = 2000,
    dim = 16, nodes = 400, edges = 800, chains = 40, hubs = 4, queries = 8)

  val Jobs = Vector("dedup.lsh", "dedup.cc", "dedup.semdedup", "graph.bfs",
    "graph.shortest_paths", "graph.evolution_chain", "oplog.fold",
    "search.fusion.fusion_batch")
  val Now = FusionQueries.Now
  val params = Fusion.FusionParams(alpha = 0.6, k = 10,
    memory = FusionQueries.memCfg, now = Now)

  /** Driver-generated inputs: docs with planted near-duplicates, their
    * embeddings (duplicates of a parent sit next to it), and a temporal
    * edge table with supersession chains, hubs and soft-deleted edges.
    */
  final case class Inputs(docs: Seq[(Long, String, Array[Float])],
      edges: Seq[(String, String, String, Double, Long, Option[Long])],
      bfsRoots: Seq[String], pathFrom: String, chainRoots: Seq[String],
      queries: Seq[(Long, Array[Float], String)]) {
    def hash: Long = (docs.map { case (i, t, v) => (i, t, v.toSeq) },
      edges, bfsRoots, pathFrom, chainRoots,
      queries.map { case (q, v, t) => (q, v.toSeq, t) }).hashCode.toLong
  }

  def inputs(seed: Long, sz: Sizes): Inputs = {
    val rng = new scala.util.Random(seed)
    def word(): String = s"w${math.floor(sz.vocab * math.pow(rng.nextDouble(), 2)).toInt}"
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(64)(Array.fill(sz.dim)(rng.nextGaussian()))
    val parents = (sz.docs * (1 - sz.dupShare)).toInt
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val raw = mutable.ArrayBuffer.empty[Array[Double]]
    (0 until sz.docs).foreach { i =>
      if (i < parents) {
        texts += Array.fill(sz.docLen)(word())
        val c = centers(rng.nextInt(centers.length))
        raw += c.map(_ + 0.6 * rng.nextGaussian())
      } else {
        val p = rng.nextInt(parents)
        val t = texts(p).clone()
        (1 to 2).foreach(_ => t(rng.nextInt(t.length)) = word())
        texts += t
        raw += raw(p).map(_ + 0.01 * rng.nextGaussian())
      }
    }
    val docs = (0 until sz.docs).map(i => (i.toLong, texts(i).mkString(" "), unit(raw(i))))

    val t0 = FusionQueries.Base
    def node(): String = s"n${rng.nextInt(sz.nodes)}"
    val edges = mutable.ArrayBuffer.empty[(String, String, String, Double, Long, Option[Long])]
    (0 until sz.edges).foreach { _ =>
      val created = t0 + rng.nextInt(30 * 86400)
      val del = if (rng.nextDouble() < 0.1) Some(created + 3600L) else None
      edges += ((node(), node(), "related_to", 1.0, created, del))
    }
    (0 until sz.hubs).foreach { h =>
      (0 until 100).foreach { _ =>
        edges += ((s"n$h", node(), "mentions", 1.0, t0 + rng.nextInt(86400), None))
      }
    }
    val chainRoots = (0 until sz.chains).map { c =>
      val len = 1 + rng.nextInt(4)
      (0 until len).foreach { j =>
        edges += ((s"c$c.$j", s"c$c.${j + 1}", "superseded_by", 1.0, t0 + j * 3600L,
          if (j == len - 1 && rng.nextDouble() < 0.2) Some(t0 + 86400L) else None))
      }
      s"c$c.0"
    }
    val queries = (0 until sz.queries).map { q =>
      val d = docs(rng.nextInt(parents))
      (q.toLong, d._3, d._2.split(" ").take(3).mkString(" "))
    }
    Inputs(docs, edges.toSeq, Seq.fill(4)(node()).distinct, s"n${sz.hubs}",
      rng.shuffle(chainRoots).take(20).sorted, queries)
  }

  final class State(val docs: DataFrame, val emb: DataFrame, val edges: DataFrame,
      val oplog: DataFrame, val centroids: DataFrame, val table: DataFrame,
      val queries: DataFrame)

  private val edgeSchema = StructType(Seq(
    StructField("src", StringType), StructField("dst", StringType),
    StructField("rel", StringType), StructField("weight", DoubleType),
    StructField("created_at", LongType), StructField("deleted_at", LongType)))

  def setup(ctx: Ctx, sz: Sizes): (State, Inputs) = {
    val spark = ctx.spark
    import spark.implicits._
    val in = inputs(ctx.seed, sz)
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val docs = cached(in.docs.map(d => (d._1, d._2)).toDF("doc_id", "text"))
    val emb = cached(in.docs.map(d => (d._1, d._3)).toDF("doc_id", "embedding"))
    val edges = cached(spark.createDataFrame(
      in.edges.map { case (s, d, r, w, c, x) => Row(s, d, r, w, c, x.orNull) }.asJava,
      edgeSchema))
    // The oplog generator reads an `embeddings` table in the test-data
    // schema from a directory.
    val dir = s"${ctx.work}/analytics-${System.nanoTime()}"
    in.docs.map(d => (d._1, d._3, s"l${d._1 % 5}")).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val oplog = cached(Oplog.generate(spark, dir))
    val cents = Ivf.trainKMeansArrays(
      emb.select(col("doc_id").as("id"), col("embedding").as("vector")), 16, iters = 3)
    val table = cached(in.docs.map(d => (d._1, d._2, d._3)).toDF("doc_id", "text", "embedding")
      .withColumn("_created_at", (lit(FusionQueries.Base) + col("doc_id") % 720 * 3600).cast("double"))
      .withColumn("memory_layer", lit("semantic")))
    val queries = in.queries.toDF("qid", "qvec", "qtext")
    (new State(docs, emb, edges, oplog, Ivf.centroidsDF(spark, cents), table, queries), in)
  }

  /** Runs job `name` once, materializing its full result; returns a value
    * the checks compare.
    */
  def job(name: String, st: State, in: Inputs, pairs: Seq[(Long, Long)]): Any = {
    val spark = st.docs.sparkSession
    import spark.implicits._
    name match {
      case "dedup.lsh" =>
        Dedup.lshJaccard(st.docs, "doc_id", "text").filter(col("jaccard") >= 0.5)
          .select(col("id1").cast("long"), col("id2").cast("long")).as[(Long, Long)]
          .collect().toSeq.sorted
      case "dedup.cc" =>
        Dedup.connectedComponents(pairs.toDF("id1", "id2"))
          .select(col("id").cast("long"), col("component").cast("long")).as[(Long, Long)]
          .collect().toSeq.sorted
      case "dedup.semdedup" =>
        Dedup.semDedupClustered(st.emb, "doc_id", "embedding", 0.95, st.centroids)
          .select(col("component").cast("long"), col("survivor").cast("long"),
            col("n_members").cast("long")).as[(Long, Long, Long)]
          .collect().toSeq.sorted
      case "graph.bfs" =>
        GraphOps.bfs(st.edges, in.bfsRoots.toDF("node"), maxDepth = 3)
          .select(col("node"), col("depth").cast("long")).as[(String, Long)]
          .collect().toSeq.sorted
      case "graph.shortest_paths" =>
        GraphOps.shortestPaths(st.edges, in.pathFrom, maxDepth = 3)
          .select(col("node"), col("hops").cast("long")).as[(String, Long)]
          .collect().toSeq.sorted
      case "graph.evolution_chain" =>
        Epistemic.evolutionChain(st.edges, in.chainRoots.toDF("root"), maxDepth = 4)
          .select(col("root"), col("pos").cast("long"), col("node"))
          .as[(String, Long, String)].collect().toSeq.sorted
      case "oplog.fold" =>
        val vectors = Oplog.foldVectors(st.oplog).collect().toSeq.map { r =>
          (r.getString(0), r.getString(1), r.getBoolean(2), r.getSeq[Float](3),
            r.getMap[String, String](4).toSeq.sorted, r.getLong(5),
            Option(r.get(6)).map(_.asInstanceOf[Long]))
        }.sortBy(v => (v._1, v._2))
        val edges = Oplog.foldEdges(st.oplog).collect().toSeq.map { r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
            r.getDouble(4), r.getLong(5), Option(r.get(6)).map(_.asInstanceOf[Long]))
        }.sorted
        (vectors, edges)
      case "search.fusion.fusion_batch" =>
        Fusion.searchWithFusionBatch(st.table, "doc_id", "embedding", "text",
          st.queries, params).select(col("qid"), col("doc_id"), col("score"))
          .as[(Long, Long, Double)].collect().toSeq.sorted
    }
  }

  /** Reference results computed on the driver from the generated inputs. */
  def checks(res: collection.Map[String, Any], in: Inputs, out: Outcome): Unit = {
    val pairs = res("dedup.lsh").asInstanceOf[Seq[(Long, Long)]]
    out.check(pairs.nonEmpty, "dedup.lsh found none of the planted near-duplicates")
    // Union-find over the same candidate pairs; a component is labelled by
    // its smallest id, like the engine's.
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val cc = parent.keys.toSeq.map(x => (x, find(x))).sorted
    out.check(res("dedup.cc") == cc, "dedup.cc differs from the union-find reference")

    val active = in.edges.filter(_._6.isEmpty)
    def bfs(roots: Seq[String], maxDepth: Int): Map[String, Long] = {
      val adj = active.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      var seen = roots.map(_ -> 0L).toMap
      var frontier = roots
      (1 to maxDepth).foreach { d =>
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(seen.contains)
        seen ++= frontier.map(_ -> d.toLong)
      }
      seen
    }
    out.check(res("graph.bfs") == bfs(in.bfsRoots, 3).toSeq.sorted,
      "graph.bfs differs from the driver-side BFS")
    val sp = bfs(Seq(in.pathFrom), 3) - in.pathFrom
    val spGot = res("graph.shortest_paths").asInstanceOf[Seq[(String, Long)]]
      .filter(_._1 != in.pathFrom)
    out.check(spGot == sp.toSeq.sorted,
      "graph.shortest_paths hop counts differ from the driver-side BFS")
    val next = in.edges.filter(e => e._3 == "superseded_by" && e._6.isEmpty)
      .map(e => e._1 -> e._2).toMap
    val chains = in.chainRoots.flatMap { r =>
      Iterator.iterate(Option(r))(_.flatMap(next.get)).take(5).takeWhile(_.isDefined)
        .zipWithIndex.map { case (n, i) => (r, i.toLong, n.get) }.toSeq
    }.sorted
    out.check(res("graph.evolution_chain") == chains,
      "graph.evolution_chain differs from the driver-side chain walk")

    out.check(res("oplog.fold") == foldReference(in),
      "oplog.fold differs from the driver-side replay of the generated oplog")

    // Shape only: no driver-side reference replays the engine's k-means
    // buckets or fusion scores.
    val ids = in.docs.map(_._1).toSet
    val sem = res("dedup.semdedup").asInstanceOf[Seq[(Long, Long, Long)]]
    out.check(sem.nonEmpty && sem.map(_._1).distinct.size == sem.size &&
      sem.forall { case (c, s, n) => ids(c) && ids(s) && c <= s && n >= 2 },
      "dedup.semdedup returned no groups or a malformed group")
    val fused = res("search.fusion.fusion_batch").asInstanceOf[Seq[(Long, Long, Double)]]
    val perQuery = fused.groupBy(_._1)
    out.check(perQuery.keySet == in.queries.map(_._1).toSet &&
      perQuery.values.forall(r => r.size <= params.k && r.forall(x => ids(x._2))),
      "search.fusion.fusion_batch did not return up to k known docs per query")
  }

  /** The `vectors` and `edges` state views the oplog folds must produce,
    * replayed on the driver. `Oplog.generate` gives every doc id `v` a
    * fixed op sequence at seq (= ts) `v * 100 + offset`: GLINK v→v+1 at
    * +10, a re-weight at +11 (v % 4 = 0), an identical re-link at +12
    * (v % 8 = 0, a no-op), GUNLINK at +13 (v % 6 = 0); VADD at +20, VMETA
    * status at +21 (v % 3 = 0), a metadata-replacing VADD at +22
    * (v % 10 = 0), VMETA rev at +23 (v % 5 = 0), VDEL at +24 (v % 17 = 0),
    * a reviving VADD at +25 (v % 34 = 0). The `tmp` index is dropped, so
    * only `mem` state survives.
    */
  def foldReference(in: Inputs) = {
    val vectors = in.docs.map { case (v, _, vec) =>
      val b = v * 100
      val label = "label" -> s"l${v % 5}"
      val (addSeq, addMeta) =
        if (v % 34 == 0) (b + 25, Map("src" -> "revived"))
        else if (v % 10 == 0) (b + 22, Map(label, "src" -> "re"))
        else (b + 20, Map(label, "src" -> "base"))
      val overlays = Seq((b + 21, v % 3 == 0, "status" -> "hot"),
        (b + 23, v % 5 == 0, "rev" -> "2"))
        .collect { case (seq, true, kv) if seq > addSeq => kv }
      val del = if (v % 17 == 0) Some(b + 24) else None
      (Oplog.MemIdx, v.toString, del.forall(addSeq > _), vec.toSeq,
        (addMeta ++ overlays).toSeq.sorted, addSeq, del)
    }.sortBy(v => (v._1, v._2))
    val docIds = in.docs.map(_._1).toSet
    def delOf(v: Long) = if (docIds(v) && v % 17 == 0) Some(v * 100 + 24) else None
    val edges = in.docs.flatMap { case (v, _, _) =>
      val b = v * 100
      val unlink = if (v % 6 == 0) Some(b + 13) else None
      val links = if (v % 4 == 0) Seq((1.0, b + 10, Some(b + 11)), (2.0, b + 11, unlink))
        else Seq((1.0, b + 10, unlink))
      links.map { case (w, created, closed) =>
        (Oplog.MemIdx, v.toString, (v + 1).toString, "next", w, created,
          (closed ++ delOf(v) ++ delOf(v + 1)).minOption)
      }
    }.sorted
    (vectors, edges)
  }
}
