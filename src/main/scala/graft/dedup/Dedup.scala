package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.graph.GraphOps

/** Large-scale training-data deduplication operators — the LLM-pipeline
  * extension layer (SURVEY §7.2 M9, builder brief). The reference's
  * redundancy clustering (`pkg/cognitive/gardener.go:781-940`) and knowledge
  * gaps (`:2295-2429`) both reduce to the same primitive built here: a
  * bucketed similarity self-join that NEVER goes all-pairs.
  *
  * Scale design:
  *   - every candidate-generation step is a groupBy/join on a bucket key
  *     (band signature, hyperplane bucket, content hash) — the quadratic
  *     blow-up is confined to within-bucket pairs;
  *   - hashes are explicit modular arithmetic over a polynomial string hash,
  *     so results are engine-independent (same numbers in Spark and the
  *     DuckDB oracle) and stable across partitionings — no global dense-rank
  *     vocabulary (a single-partition window would not survive 100 TB);
  *   - HOF lambdas (interpreted, not codegen) only touch per-row short
  *     arrays; the joins/aggregations around them stay in Tungsten.
  */
object Dedup {

  /** 2^31 - 1 (prime) — modulus for all string/permutation hashing. */
  val P = 2147483647L

  /** Polynomial rolling hash over the characters of `s`:
    * fold(acc*31 + code(c)) mod P. Matches the DuckDB oracle's
    * list_reduce over ord() exactly. Codegen kernel — evaluated once per
    * shingle/token, the interpreted HOF chain it replaces dominated
    * MinHash cost.
    */
  def polyHash(s: Column): Column = VectorFunctions.polyHash(s)

  /** Exact dedup groups: content-hash the normalized text, group, keep the
    * smallest id as survivor. Returns (keeper, n, ids) for groups of ≥ 2.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), sha2(col(textCol), 256).as("h"))
      .groupBy(col("h"))
      .agg(min(col("id")).as("keeper"), count(lit(1)).as("n"),
        concat_ws(",", sort_array(collect_list(col("id")))).as("ids"))
      .filter(col("n") >= 2)
      .drop("h")

  /** Distinct word n-gram shingles per document: (id, shingle). Single
    * kernel call per document (see [[graft.functions.ShingleUtil]]) — the
    * interpreted slice/concat HOF chain this replaces was evaluated per
    * word position and dominated MinHash candidate generation.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      explode(VectorFunctions.wordShingles(col(textCol), n)).as("shingle"))

  /** MinHash permutation constants (i, a, b) — fixed literals shared with
    * the oracle. h_i(x) = (a_i * x + b_i) mod P.
    */
  def permConstants(numPerms: Int): Seq[(Int, Long, Long)] =
    (0 until numPerms).map(i => (i, 377424577L + i * 97L, 285451301L + i * 131L))

  /** MinHash signatures: (id, i, minh) — min over the doc's shingle hashes
    * under each permutation. All permutations are computed as parallel
    * aggregates in ONE grouped pass (map-side partial min), so the shuffle
    * carries one row per document instead of numPerms× the shingle set —
    * the difference between shuffling 12B and 1B rows at corpus scale.
    */
  def minhashSigs(sh: DataFrame, numPerms: Int = 12): DataFrame = {
    val aggs = permConstants(numPerms).map { case (i, a, b) =>
      min((lit(a) * col("x") + lit(b)) % P).as(s"mh$i")
    }
    val wide = sh.withColumn("x", polyHash(col("shingle")))
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
    wide.select(col("id"),
        posexplode(array((0 until numPerms).map(i => col(s"mh$i")): _*)))
      .select(col("id"), col("pos").cast("int").as("i"), col("col").as("minh"))
  }

  /** LSH banding (r rows per band): docs agreeing on a whole band are
    * candidates. Returns distinct (id1, id2) with id1 < id2 — the join is on
    * the band signature, never all-pairs.
    *
    * `maxBucket` is the skew guard for real corpora: a degenerate band
    * signature (boilerplate pages, near-empty docs — all minhashing
    * identically) puts m docs in one bucket and the self-join emits m²
    * pairs; one hot bucket of 10⁶ docs is 10¹² pairs. Buckets larger than
    * the cap are dropped entirely (their members are overwhelmingly exact/
    * boilerplate duplicates better handled by [[exactDupGroups]] first —
    * the standard large-scale dedup practice). The size filter is a window
    * partitioned by the same (band, sig) key the join shuffles on, so the
    * exchange is reused, and the count runs BEFORE the quadratic step.
    * Default = uncapped (small-corpus / oracle-parity semantics).
    */
  def lshCandidatePairs(sigs: DataFrame, rowsPerBand: Int = 2,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val banded = sigs
      .withColumn("band", (col("i") / rowsPerBand).cast("int"))
      .withColumn("slot", col("i") % rowsPerBand)
      .groupBy(col("id"), col("band"))
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct(col("slot"), col("minh")))),
        e => e.getField("minh").cast("string"))).as("sig"))
    val bounded =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy(col("band"), col("sig"))))
        .filter(col("bsz") <= maxBucket)
        .drop("bsz")
    val l = bounded.select(col("band"), col("sig"), col("id").as("id1"))
    val r = bounded.select(col("band"), col("sig"), col("id").as("id2"))
    l.join(r, Seq("band", "sig")).filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** The full MinHash-LSH → exact-Jaccard chain with its two hot
    * intermediates materialized ONCE (r19, guide §2.3/§2.4): the shingle
    * set feeds the signature aggregation AND three consumers inside
    * [[jaccardOnPairs]] (per-doc sizes + both sides of the intersection
    * join), and the candidate-pair set feeds the intersection AND the
    * final scoring join — without a checkpoint Catalyst re-evaluates the
    * corpus scan + shingle kernel + explode per consumer (measured 4×
    * on d11: four ~3 s scan stages in one query). Eager localCheckpoint,
    * deliberately: AQE submits the independent consumer leaf stages
    * concurrently, so a lazy checkpoint would still compute the shingle
    * scan once per racing stage; one dedicated fully-parallel pass is
    * strictly cheaper. At cluster scale swap for reliable checkpoints —
    * the trade (one materialized shingle pass vs four recomputed corpus
    * scans) only grows with corpus size.
    */
  def lshJaccard(df: DataFrame, idCol: String, textCol: String,
      rowsPerBand: Int = 2, maxBucket: Int = Int.MaxValue,
      numPerms: Int = 12): DataFrame = {
    val sh = shingles(df, idCol, textCol).localCheckpoint()
    val pairs = lshCandidatePairs(minhashSigs(sh, numPerms), rowsPerBand,
      maxBucket).localCheckpoint()
    jaccardOnPairs(pairs, sh)
  }

  /** Exact n-gram Jaccard over a pair list: |A∩B| / |A∪B| via a shingle
    * join — only the candidate pairs are scored.
    */
  def jaccardOnPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.select(col("id").as("id1"), col("shingle")), Seq("id1"))
      .join(sh.select(col("id").as("id2"), col("shingle")), Seq("id2", "shingle"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("id1", "id2"), "left")
      .join(sizes.select(col("id").as("id1"), col("sz").as("sz1")), Seq("id1"))
      .join(sizes.select(col("id").as("id2"), col("sz").as("sz2")), Seq("id2"))
      .withColumn("jaccard",
        coalesce(col("inter"), lit(0L)) /
          (col("sz1") + col("sz2") - coalesce(col("inter"), lit(0L))))
  }

  /** SimHash over word tokens weighted by term frequency: per bit j of the
    * permuted token hash, sum ±tf; bit set where the sum is positive.
    * Returns (id, simhash) with `bits` meaningful low bits.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    val tf = df
      .select(col(idCol).cast("long").as("id"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("h", (polyHash(col("tok")) * 377424577L + 285451301L) % 65536L)
    val bitSums = (0 until bits).map { j =>
      sum(col("tf") * (shiftright(col("h"), j) % 2 * 2 - 1)).as(s"s$j")
    }
    val hashCol = (0 until bits).map { j =>
      when(col(s"s$j") > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    tf.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), hashCol.as("simhash"))
  }

  /** Banded-Hamming near-dup over 64-bit fingerprints — the join that
    * turns the engine's perceptual hashes (audio energy envelopes
    * [[graft.multimodal.Wav]], image dHashes, wide simhashes, document
    * fingerprints) into dedup verdicts at scale. Pigeonhole guarantee:
    * with `maxHamming < bands`, two fingerprints within the threshold
    * must agree EXACTLY on at least one of the `bands` equal bit slices
    * (the errors can't cover every slice), so candidates meet on a
    * (band, slice) join key — never all-pairs — and the result is the
    * complete, exact set of pairs with `hamming ≤ maxHamming`.
    * `maxBucket` caps a degenerate hot slice (e.g. silence → fingerprint
    * 0 in every clip) exactly like [[lshCandidatePairs]]: the count runs
    * on the join key BEFORE the quadratic step and reuses its exchange.
    * Returns (id1, id2, hamming), id1 < id2.
    */
  def hammingNearDups(df: DataFrame, idCol: String, fpCol: String,
      bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxHamming < bands,
      "pigeonhole completeness needs maxHamming < bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val base = df.select(col(idCol).cast("long").as("id"),
      col(fpCol).cast("long").as("fp"))
    val banded = base.select(col("id"), col("fp"),
        posexplode(array((0 until bands).map(b =>
          shiftrightunsigned(col("fp"), b * width).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "slice")))
    val bounded =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy(col("band"), col("slice"))))
        .filter(col("bsz") <= maxBucket)
        .drop("bsz")
    val l = bounded.select(col("band"), col("slice"),
      col("id").as("id1"), col("fp").as("fp1"))
    val r = bounded.select(col("band"), col("slice"),
      col("id").as("id2"), col("fp").as("fp2"))
    l.join(r, Seq("band", "slice")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("fp1"), col("fp2")).distinct()
      .withColumn("hamming", expr("bit_count(fp1 ^ fp2)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Deterministic hyperplane sign bucket for an embedding: 2^planes coarse
    * buckets; plane j weight at dim d is ((131j + 31d) mod 17) - 8. The
    * bucket key is what makes the near-dup join scale: candidates only meet
    * within a bucket.
    */
  def hyperplaneBucket(vec: Column, planes: Int = 8): Column =
    VectorFunctions.hyperplaneBucket(vec, planes)

  /** Embedding cosine near-dup join: bucket by hyperplane signs, exact
    * cosine within buckets, keep pairs ≥ threshold. `maxBucket` caps the
    * within-bucket quadratic step exactly like [[lshCandidatePairs]] (a
    * zero embedding, or a mode the encoder collapses to, concentrates mass
    * in one sign bucket at corpus scale).
    */
  def cosineNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame =
    cosineNearDupsFromBuckets(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .withColumn("bucket", hyperplaneBucket(col("v"), planes)),
      threshold, maxBucket)

  /** [[cosineNearDups]] over an already-bucketed `(id, v, bucket)` frame —
    * callers that need the bucketing for other steps too ([[semDedup]]'s
    * centroids) avoid a second full-corpus bucket-kernel scan.
    */
  private def cosineNearDupsFromBuckets(b0: DataFrame, threshold: Double,
      maxBucket: Int): DataFrame = {
    val b =
      if (maxBucket == Int.MaxValue) b0
      else b0
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("bucket"))))
        .filter(col("bsz") <= maxBucket)
        .drop("bsz")
    val l = b.select(col("bucket"), col("id").as("id1"), col("v").as("v1"))
    val r = b.select(col("bucket"), col("id").as("id2"), col("v").as("v2"))
    l.join(r, Seq("bucket")).filter(col("id1") < col("id2"))
      .withColumn("sim", VectorFunctions.cosineSimilarityWide(col("v1"), col("v2")))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), col("sim"))
  }

  /** Connected components over an undirected pair list (`id1`, `id2`) via
    * the alternating large-star / small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the same
    * algorithm GraphFrames ships). Each round is two per-node-minimum
    * windows + dedups — no all-pairs step, and above the small-regime
    * bound no driver-side graph state — and the edge
    * set provably converges to stars in O(log²/log) rounds, so a 100 TB
    * pair list needs the same ~dozen rounds a toy one does. This is the
    * step that turns near-dup PAIRS into dedup DECISIONS: every document
    * in a component except the minimum id is droppable.
    *
    * Returns (id, component) for every node appearing in `pairs`, where
    * component = min id of the node's component. Ids are cast to long;
    * pairs with a null id and self-loops add no node. Nodes in no pair are
    * not emitted (callers left-join and coalesce to self).
    *
    * Small regime (see the `GraphOps` scale notes): when the cast,
    * filtered pair list holds at most `GraphOps.LocalEdgeLimit` rows, one
    * bounded fetch brings it to the driver and union-find labels it — one
    * Spark job in all, and the result is a local relation. The fetch
    * reads the pair list through a lazy checkpoint, so when it overflows
    * the loop below reads those cached pairs instead of computing them
    * again. `maxIter` only bounds the distributed loop below.
    *
    * Per round the new edge set is localCheckpoint'ed LAZILY and the
    * termination test is the materializing action: one job per round,
    * which persists the blocks and answers "done?" in the same pass.
    * Lineage truncation keeps iterative plans from nesting until analysis
    * itself dominates. Each round releases the previous round's
    * checkpoint blocks — at corpus scale every round pins an edge-set-sized
    * block set, and only the newest is ever read again. On a real cluster
    * prefer `spark.sparkContext.setCheckpointDir` + reliable checkpoints
    * every few rounds if executor loss matters mid-job.
    *
    * Termination: the loop stops as soon as the edge set is a star forest
    * — every edge points child > root, every child has exactly one root,
    * and no root is also a child. Such a set is a fixed point of
    * large-star + small-star (each star's root is its minimum, so both
    * steps re-emit exactly the same edges), and it already is the answer:
    * every node maps to its component minimum. So the loop never pays a
    * further round to watch an unchanged edge set come back; a graph whose
    * deduped input is already a star forest runs no round at all. The
    * test is one ungrouped aggregate over the edges (each edge viewed as
    * its child and its root end): edge count, distinct children, distinct
    * roots, distinct nodes, and edges not pointing down. `maxIter` bounds
    * the loop regardless.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    def dedupEdges(e: DataFrame): DataFrame =
      e.where(col("u") =!= col("v")).distinct()

    // Large-star: hang every neighbor larger than u off the minimum of
    // u's closed neighborhood. Small-star: orient edges large→small, then
    // hang each small neighbor (and u itself) off the minimum neighbor.
    // Each per-node minimum is a window over the edges partitioned by u,
    // so it rides the round's own shuffle: a groupBy joined back would
    // plan as a broadcast join (the checkpointed edge set looks small),
    // and every broadcast exchange is a Spark job of its own.
    val byU = Window.partitionBy(col("u"))
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
      dedupEdges(und.withColumn("m", min(least(col("v"), col("u"))).over(byU))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      dedupEdges(dir.withColumn("m", min(col("v")).over(byU))
        .select(explode(array(col("v"), col("u"))).as("u"), col("m").as("v")))
    }
    // Star forest ⇔ no edge points up, one edge per child (edges are
    // deduped), and children and roots are disjoint sets of nodes.
    def isStarForest(e: DataFrame): Boolean = {
      val ends = e.select(col("u"), col("v"),
        posexplode(array(col("u"), col("v"))).as(Seq("end", "n")))
      val child = col("end") === 0
      val r = ends.agg(
        count(when(child, lit(1))),
        count(when(child && col("u") <= col("v"), lit(1))),
        count_distinct(when(child, col("n"))),
        count_distinct(when(!child, col("n"))),
        count_distinct(col("n"))).head()
      val (edgeCount, upward, children, roots, nodes) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      upward == 0 && edgeCount == children && nodes == children + roots
    }

    // Lazy checkpoint + release handle: the termination test is the action
    // that materializes the persisted blocks (RDD.localCheckpoint persists
    // at mark time, so every later consumer reads the cache), and the handle
    // releases exactly the RDDs this checkpoint registered — the same
    // bookkeeping GraphOps.materializeLevel uses.
    def ckpt(df: DataFrame): (DataFrame, () => Unit) = {
      val sc = df.sparkSession.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val m = df.localCheckpoint(eager = false)
      val added = sc.getPersistentRDDs.keySet -- before
      (m, () => added.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false))))
    }
    // The probe reads `input` through a lazy checkpoint: its one job
    // computes every stage of `pairs` (a MinHash banding, say) and caches
    // whole partitions, so on overflow the distributed loop reads that
    // cache instead of computing the pair list a second time.
    val (input, releaseInput) = ckpt(pairs.select(col("id1").cast("long").as("u"),
      col("id2").cast("long").as("v")).where(col("u") =!= col("v")))
    val small = GraphOps.fetchSmall(input)
    if (small.isDefined) {
      releaseInput()
      return componentsLocal(pairs.sparkSession, small.get)
    }
    val init = ckpt(dedupEdges(input))
    var edges = init._1
    var release = init._2
    var converged = isStarForest(edges)
    releaseInput() // the first round's edges are cached now
    var it = 0
    while (!converged && it < maxIter) {
      val (next, nextRelease) = ckpt(smallStar(largeStar(edges)))
      converged = isStarForest(next)
      release() // previous round's blocks: no consumer left
      edges = next
      release = nextRelease
      it += 1
    }
    // Star forest: every edge is (node, componentMin); roots appear only
    // on the right. Emit the roots' self-labels alongside.
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Union-find over fetched (u, v) rows, each component labelled by its
    * minimum id: a union hangs the larger root under the smaller, so every
    * root is its component's minimum.
    */
  private def componentsLocal(spark: SparkSession, rows: Array[Row]): DataFrame = {
    import spark.implicits._
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (y != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => (x, find(x))).toDF("id", "component")
  }

  /** Cross-document repeated-SPAN detection — span-level exact dedup, the
    * operator the doc-level family (d1-d5) cannot express: two documents
    * that share one long verbatim passage but differ elsewhere never clear
    * a doc-level near-dup threshold, yet that passage is exactly what
    * memorization/boilerplate removal must find (the duplicated-substring
    * setting of Lee et al. 2022's training-data dedup, here at k-gram
    * granularity instead of suffix arrays, which don't distribute).
    *
    * Pipeline: k-gram positions per doc → gram document-frequency (keyed
    * agg on the gram) → keep grams in ≥ minDf docs → per doc, merge
    * consecutive hot positions into maximal spans (gaps-and-islands:
    * `pos - row_number()` per doc — a PARTITIONED window, parallel across
    * docs). A span of hot grams [p, q] covers tokens [p, q + k - 1].
    *
    * Scale shape: one shuffle on the gram for the df, one keyed join back
    * (the hot-gram table can be huge at 100 TB — never broadcast), one
    * per-doc window. Gram identity is the joined TOKEN TEXT, not an engine
    * hash, so the DuckDB oracle reproduces it verbatim.
    *
    * `docs`: (doc_id, textCol). Returns one row per maximal span:
    * (doc_id, span_start, span_end, span_tokens, n_grams) at 1-based token
    * positions.
    */
  def repeatedSpans(docs: DataFrame, textCol: String = "text", k: Int = 5,
      minDf: Long = 3): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col(textCol), " ").as("w"))
      // sequence(1, n) with n < 1 counts DOWN — guard short docs out.
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        concat_ws(" ", slice(col("w"), col("pos"), lit(k))).as("g"))
    val hot = grams.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("g"))
    grams.join(hot, Seq("g"))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * embedding-level dedup that clusters the corpus, finds semantic
    * duplicate groups WITHIN each cluster, and keeps exactly one survivor
    * per group — the member with the LOWEST cosine to its cluster centroid
    * (the paper's keep-low-centroid-sim rule: the outlier carries the most
    * marginal information).
    *
    * Spark shape: cluster = hyperplane sign bucket (the same deterministic
    * partitioner [[cosineNearDups]] uses — at production scale swap in
    * trained [[graft.search.Ivf]] centroids; the pruning geometry is
    * identical and the rest of the plan is unchanged). Duplicate groups =
    * connected components of the within-bucket cos >= threshold graph
    * (pairs never cross buckets, so components stay bucket-local).
    * Centroids are per-bucket per-dimension means computed in ONE
    * posexplode + two keyed aggregations, then broadcast back (bucket
    * count is at most 2^planes — tiny). The member→centroid cosine is a
    * sequential array fold (zip_with + aggregate), deterministic across
    * partitionings. No step is all-pairs; the quadratic work is confined
    * to within-bucket candidate pairs exactly as in [[cosineNearDups]].
    *
    * Returns one row per duplicate group:
    * (component, survivor, n_members, centroid_sim) where component = min
    * member id, survivor = argmin (centroid cosine, id) and centroid_sim
    * is the survivor's raw cosine to its cluster centroid. Singleton docs
    * (no duplicate partner) are not emitted — they are all survivors.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // Materialized once (r19): the bucketed frame feeds both sides of the
    // pair self-join, the centroid aggregation AND the member-similarity
    // join — four evaluations of the embedding scan + bucket kernel
    // without a checkpoint (same rationale as [[lshJaccard]]).
    val b = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket", hyperplaneBucket(col("v"), planes))
      .localCheckpoint()
    val pairs = cosineNearDupsFromBuckets(b, threshold, maxBucket)
    val comp = connectedComponents(pairs.select(col("id1"), col("id2")))
    // Per-cluster centroid over ALL cluster members (not just duplicates),
    // double accumulation: one narrow shuffle on (bucket, pos), then a
    // bucket-sized collect_list — never a per-row state blowup.
    val cent = b
      .select(col("bucket"), posexplode(col("v")).as(Seq("pos", "e")))
      .groupBy(col("bucket"), col("pos"))
      .agg(avg(col("e").cast("double")).as("c"))
      .groupBy(col("bucket"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("centroid"))
    val vd = transform(col("v"), e => e.cast("double"))
    val dot = aggregate(zip_with(vd, col("centroid"), (a, x) => a * x),
      lit(0.0), (acc, x) => acc + x)
    val norm = (arr: Column) => sqrt(aggregate(
      transform(arr, a => a * a), lit(0.0), (acc, x) => acc + x))
    val members = b.join(comp, Seq("id"))
      .join(broadcast(cent), Seq("bucket"))
      .withColumn("csim", dot / (norm(vd) * norm(col("centroid"))))
    keepLowestCentroidSim(members)
  }

  /** The paper's survivor rule, shared by [[semDedup]] and
    * [[semDedupClustered]]: per component keep the member with the LOWEST
    * centroid cosine (ties to the smallest id) — the outlier carries the
    * most marginal information. `members`: (component, id, csim, ...).
    */
  private def keepLowestCentroidSim(members: DataFrame): DataFrame = {
    val byComp = Window.partitionBy(col("component"))
    members
      .withColumn("rn", row_number().over(byComp.orderBy(col("csim").asc, col("id").asc)))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .filter(col("rn") === 1)
      .select(col("component"), col("id").as("survivor"),
        col("n_members"), col("csim").as("centroid_sim"))
  }

  /** Paragraph-level dedup (CCNet, arXiv:1911.00359 §3.1 — "dedup is done
    * at the paragraph level, keeping one occurrence"): segment each doc
    * into fixed `chunkTokens`-token paragraphs, drop every paragraph whose
    * exact text already occurred earlier in the corpus (first occurrence
    * by (doc_id, pos) survives), and reassemble each doc from its kept
    * paragraphs. Sits between span REPORTING ([[repeatedSpans]]) and
    * whole-doc removal ([[exact dedup|d1]]): the output is a CLEANED
    * corpus with cross-doc boilerplate cut out of otherwise-unique docs.
    *
    * Paragraph identity is the chunk's token text (no engine hash), so a
    * SQL oracle reproduces it verbatim. A doc whose every paragraph is a
    * re-occurrence keeps an empty `text_deduped` (it IS a full dup).
    *
    * Scale shape: the keep-first winner per paragraph is a
    * `groupBy(para).agg(min(struct(doc_id, pos)))` — a PARTIAL-AGGREGATING
    * shape (the true d1 shape): every task pre-reduces its local
    * occurrences of a paragraph to ONE candidate before the shuffle, so a
    * corpus-wide boilerplate paragraph (a cookie banner appearing billions
    * of times at 100 TB — the exact mass this operator exists to remove)
    * costs each map task one row, never a single-task sort of the full
    * occurrence list (the failure mode of a `row_number` window, which
    * gets no map-side combine; VERDICT r14 #2). The winner table (one row
    * per DISTINCT paragraph) joins back to mark survivors — AQE's skew
    * split applies cleanly since the build side holds exactly one row per
    * key — then one keyed re-aggregation per doc reassembles the text.
    */
  def paragraphDedup(docs: DataFrame, textCol: String = "text",
      chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val chunks = docs
      .select(col("doc_id"), split(col(textCol), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, cast(ceil(size(w) / $chunkTokens.0) as int)), " +
          s"i -> array_join(slice(w, (i - 1) * $chunkTokens + 1, $chunkTokens), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("para"))
    val winners = chunks
      .groupBy(col("para"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first_occ"))
    chunks.join(winners, Seq("para"))
      .withColumn("kept",
        col("doc_id") === col("first_occ.doc_id") &&
          col("pos") === col("first_occ.pos"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN " +
            "struct(pos, para) END)), x -> x.para)"), " ").as("text_deduped"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"))
  }

  /** [[semDedup]] over TRAINED/served clusters — the production clustering
    * path the paper actually runs (Abbas et al. §3 cluster with k-means):
    * cluster = nearest centroid under full cosine
    * ([[graft.search.Ivf.assign]]'s argmin, ties to the smallest cid),
    * duplicate groups = within-cluster cos ≥ threshold components, survivor
    * = the member with the LOWEST cosine to its ASSIGNED centroid. With
    * KMeans-trained centroids ([[graft.search.Ivf.trainKMeansArrays]]) the
    * centroid IS the cluster mean at convergence, so this is the paper's
    * keep-low-centroid-sim rule verbatim; with sampled centroids (the v1
    * oracle protocol) the same geometry is DuckDB-replicable. Every
    * downstream step matches [[semDedup]] — only the partitioner changes.
    *
    * `centroids`: (cid long, cvec array<float>). `maxBucket` caps the
    * within-cluster quadratic pair step; at production scale ALWAYS supply
    * it — an encoder that collapses a mode concentrates mass in one
    * cluster, and the cap bounds the damage exactly like the LSH skew cap.
    */
  def semDedupClustered(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, centroids: DataFrame,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // Materialized once (r19): the assignment is a full corpus × centroid
    // argmin — by far the chain's hottest subtree — and it feeds both
    // sides of the pair self-join plus the member-similarity join (same
    // rationale as [[lshJaccard]]).
    val b = graft.search.Ivf.assign(
        emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")),
        centroids, "id", "v")
      .select(col("id"), col("v"), col("bucket"))
      .localCheckpoint()
    val pairs = cosineNearDupsFromBuckets(b, threshold, maxBucket)
    val comp = connectedComponents(pairs.select(col("id1"), col("id2")))
    val members = b.join(comp, Seq("id"))
      .join(broadcast(centroids.select(col("cid").as("bucket"), col("cvec"))),
        Seq("bucket"))
      .withColumn("csim",
        VectorFunctions.cosineSimilarityWide(col("v"), col("cvec")))
    keepLowestCentroidSim(members)
  }
}
