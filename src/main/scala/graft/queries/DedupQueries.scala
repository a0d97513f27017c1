package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup

/** Dedup / similarity-join queries (LLM-pipeline extension, SURVEY §7.2 M9).
  *
  * The corpus view plants known duplicates so every detector has positives:
  *   - doc_id % 7 == 0  → exact twin at id+100000 (identical text);
  *   - doc_id % 11 == 0 → near twin at id+200000 (last word dropped).
  * Embedding corpus: vec_id % 13 == 0 → perturbed twin at id+100000
  * (first component +0.05).
  */
object DedupQueries {

  /** Corpus with planted exact + near duplicates. */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val words = split(col("text"), " ")
    d.unionByName(
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(
        d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat_ws(" ", slice(words, lit(1), size(words) - 1)).as("text")))
  }

  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000,
      |    array_to_string(list_slice(str_split(text, ' '), 1,
      |                               len(str_split(text, ' ')) - 1), ' ')
      |  FROM documents WHERE doc_id % 11 = 0
      |)""".stripMargin

  /** Polynomial string hash — DuckDB side of [[Dedup.polyHash]]. */
  private def phSql(e: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(str_split($e, ''), " +
      s"c -> CAST(ord(c) AS BIGINT)), (acc, x) -> (acc * 31 + x) % 2147483647)"

  private val shinglesSql =
    """sh AS (
      |  SELECT DISTINCT doc_id AS id, shingle FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(str_split(text, ' ')) - 1),
      |        i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' '))) AS shingle
      |    FROM corpus)
      |)""".stripMargin

  private val permsSql =
    "perms AS (SELECT i, 377424577 + i * 97 AS a, 285451301 + i * 131 AS b FROM range(12) t(i))"

  /** The shared MinHash-LSH chain (corpus → shingles → signatures → banded
    * candidates → exact Jaccard in `j`) — d2 selects from it; d8 builds
    * connected components on top of it.
    */
  private val lshJaccardCtes =
    s"""$corpusSql, $shinglesSql, $permsSql,
       |hx AS (SELECT id, shingle, ${phSql("shingle")} AS x FROM sh),
       |sig AS (
       |  SELECT id, i, min((a * x + b) % 2147483647) AS minh
       |  FROM hx CROSS JOIN perms GROUP BY id, i),
       |banded AS (
       |  SELECT id, i // 2 AS band,
       |    array_to_string(list(CAST(minh AS VARCHAR) ORDER BY i % 2), ',') AS sig
       |  FROM sig GROUP BY id, i // 2),
       |cand AS (
       |  SELECT DISTINCT l.id AS id1, r.id AS id2
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.sig = r.sig
       |  WHERE l.id < r.id),
       |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id),
       |inter AS (
       |  SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS n
       |  FROM cand c
       |  JOIN sh a ON a.id = c.id1 JOIN sh b ON b.id = c.id2 AND b.shingle = a.shingle
       |  GROUP BY c.id1, c.id2),
       |j AS (
       |  SELECT c.id1, c.id2,
       |    coalesce(i.n, 0) * 1.0 / (s1.sz + s2.sz - coalesce(i.n, 0)) AS jaccard
       |  FROM cand c
       |  LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
       |  JOIN sizes s1 ON s1.id = c.id1 JOIN sizes s2 ON s2.id = c.id2)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content hash → groups → keep-smallest-id survivor.
    "d1_exact_dedup" -> ((s, dir) => {
      Dedup.exactDupGroups(corpus(s, dir), "doc_id", "text")
        .select(col("keeper"), col("n"), col("ids"))
        .orderBy(col("keeper"))
    }),

    // MinHash-LSH near-dup: 12 perms, 6 bands × 2 rows; candidates from
    // band-signature buckets only, then exact 3-gram Jaccard ≥ 0.5.
    "d2_minhash_lsh" -> ((s, dir) => {
      Dedup.lshJaccard(corpus(s, dir), "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id1"), col("id2"))
    }),

    // D10: cross-source duplication matrix — d2's verified near-dup pairs
    // rolled up by (source, source): which sources copy from which, the
    // provenance question a curation pass answers before deciding keep
    // priority. Pairs are symmetric, so each counts once under the
    // lexicographically sorted source pair. The source dimension rides a
    // broadcast join (id → source is a dimension lookup; at deployment
    // scale it's an id-keyed shuffle join, still skew-free — ids are
    // unique). Planted twins (+100000/+200000) inherit their original's
    // source via id % 100000.
    "d10_dup_matrix" -> ((s, dir) => {
      val dup = Dedup.lshJaccard(corpus(s, dir), "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      val srcs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long"), col("source"))
      dup
        .join(broadcast(srcs.select(col("doc_id").as("o1"),
          col("source").as("s1"))), (col("id1") % 100000) === col("o1"))
        .join(broadcast(srcs.select(col("doc_id").as("o2"),
          col("source").as("s2"))), (col("id2") % 100000) === col("o2"))
        .select(least(col("s1"), col("s2")).as("src_a"),
          greatest(col("s1"), col("s2")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // SimHash: 16-bit tf-weighted signatures; hamming distance between each
    // original and its planted twin (0 for exact, small for near).
    "d3_simhash" -> ((s, dir) => {
      val h = Dedup.simhash(corpus(s, dir), "doc_id", "text")
      val twins = h.select(col("id").as("id2"), col("simhash").as("h2"))
        .filter(col("id2") >= 100000)
        .withColumn("id", when(col("id2") >= 200000, col("id2") - 200000)
          .otherwise(col("id2") - 100000))
      h.join(twins, Seq("id"))
        .select(col("id").as("d1"), col("id2").as("d2"),
          bit_count(col("simhash").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
        .withColumn("near_dup", col("hamming") <= 3)
        .orderBy(col("d1"), col("d2"))
    }),

    // Exact n-gram Jaccard on an explicit pair list (adjacent doc ids) —
    // the verification primitive standalone.
    "d4_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val sh = Dedup.shingles(docs, "doc_id", "text")
      val pairs = docs.filter(col("doc_id") < 50)
        .select(col("doc_id").cast("long").as("id1"),
          (col("doc_id") + 1).cast("long").as("id2"))
      Dedup.jaccardOnPairs(pairs, sh)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id1"))
    }),

    // Embedding cosine near-dup: hyperplane-sign buckets (2^8), exact cosine
    // within buckets only, sim ≥ 0.9.
    "d5_cosine_neardup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val twins = e.filter(col("vec_id") % 13 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1) + lit(0.05f))),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      val all = e.select(col("vec_id"), col("embedding")).unionByName(twins)
      Dedup.cosineNearDups(all, "vec_id", "embedding", threshold = 0.9)
        .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"))
        .orderBy(col("id1"), col("id2"))
    }),

    // Skew guard: 20 identical boilerplate docs concentrate in one band
    // bucket per band; maxBucket=10 drops those hot buckets BEFORE the
    // quadratic self-join while every organic duplicate pair survives. The
    // oracle replicates the cap, so both over-capping (missing organic
    // pairs) and under-capping (190 boilerplate pairs leaking through)
    // hash-mismatch.
    "d6_lsh_skew_cap" -> ((s, dir) => {
      val boiler = s.range(20)
        .select((col("id") + 300000).as("doc_id"),
          lit("standard legal boilerplate footer appended to every page")
            .as("text"))
      val c = corpus(s, dir).unionByName(boiler)
      Dedup.lshJaccard(c, "doc_id", "text", maxBucket = 10)
        .filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id1"), col("id2"))
    }),

    // D7: the full audio-dedup pipeline — REAL WAV decode → acoustic
    // fingerprint → banded-Hamming near-dup join. 100 clips in 20 groups
    // of 5: each group shares a painted energy envelope (a 64-bit target
    // built from two 31-bit halves so every band slice carries signal);
    // members perturb ≤1 distinct envelope window each, so within-group
    // pairs sit at hamming ≤ 2 and the pigeonhole banding (4×16) finds
    // them EXACTLY. The oracle replicates fingerprint arithmetic, banding,
    // and popcount — no approximation anywhere.
    "d7_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{Multimodal, Wav}
      val media = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val g = id % 20
          val lo = ((g + 3) * 2654435761L) % 2147483647L
          val hi = ((g + 47) * 2654435761L) % 2147483647L
          val perturb = (id / 20) match {
            case 0 => 0L
            case 1 => 1L << 7
            case 2 => 1L << 23
            case 3 => 1L << 41
            case _ => 1L << 57
          }
          val target = (lo | (hi << 32)) ^ perturb
          val amps = new Array[Int](65)
          amps(0) = 8000
          for (w <- 1 until 65)
            amps(w) = amps(w - 1) +
              (if (((target >> (w - 1)) & 1L) == 1L) 120 else -120)
          (id, Wav.encodePcm16(8000, 1, 65 * 16) { (f, _) =>
            val a = amps(f / 16); if (f % 2 == 0) a else -a
          })
        }
      val fps = Multimodal.extractAudioFeatures(media)
      Dedup.hammingNearDups(fps, "doc_id", "fingerprint",
          bands = 4, maxHamming = 3)
        .orderBy(col("id1"), col("id2"))
    }),

    // D9: the full video-dedup pipeline — REAL AVI decode → strided frame
    // dHash → majority fingerprint → banded-Hamming near-dup join. 100
    // clips in 20 groups of 5: each group paints its frames to a shared
    // 64-bit dHash target (two 31-bit halves so every band slice carries
    // signal); members flip ≤1 distinct fingerprint bit each, so
    // within-group pairs sit at hamming ≤ 2 and the pigeonhole banding
    // (4×16) finds them EXACTLY — the video mirror of d7.
    "d9_video_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.{Avi, Multimodal}
      val media = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val g = id % 20
          val lo = ((g + 5) * 2654435761L) % 2147483647L
          val hi = ((g + 29) * 2654435761L) % 2147483647L
          val perturb = (id / 20) match {
            case 0 => 0L
            case 1 => 1L << 9
            case 2 => 1L << 22
            case 3 => 1L << 40
            case _ => 1L << 55
          }
          val target = (lo | (hi << 32)) ^ perturb
          (id, Avi.encodeRgb24(9, 8, 10, 3) { (_, x, y) =>
            var gg = 120
            var i = 0
            while (i < x) {
              gg += (if (((target >> (y * 8 + i)) & 1L) == 1L) 15 else -15)
              i += 1
            }
            (gg << 16) | (gg << 8) | gg
          })
        }
      val fps = Multimodal.extractVideoFeatures(media, stride = 3)
      Dedup.hammingNearDups(fps, "doc_id", "fingerprint",
          bands = 4, maxHamming = 3)
        .orderBy(col("id1"), col("id2"))
    }),

    // D8: near-dup PAIRS → dedup DECISIONS. Verified LSH pairs feed
    // large-star/small-star connected components; each doc gets its
    // component's min id as label, and only the min is kept. This is the
    // step a corpus-scale dedup pipeline runs after d2 — transitive
    // closure matters because A~B and B~C does not put A and C in the
    // same LSH bucket.
    "d8_dedup_components" -> ((s, dir) => {
      val pairs = Dedup.lshJaccard(corpus(s, dir), "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      val cc = Dedup.connectedComponents(pairs)
      cc.select(col("component"), col("id").as("doc_id"),
          (col("id") === col("component")).as("keep"))
        .transform(Ordered.byRegime(cc)(_)(col("component"), col("doc_id")))
    }),

    // D11: survivor selection per duplicate cluster — the DECISION step
    // after d8's components: keep the highest-quality member (quality =
    // token mass here; in production the x2/x23 score), ties to the
    // smallest id. One keyed max_by over (component, quality) — the
    // components are the expensive part and they're already computed; the
    // keep-choice adds one map-side-partial aggregation.
    "d11_keep_best" -> ((s, dir) => {
      val c = corpus(s, dir)
      val pairs = Dedup.lshJaccard(c, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id1"), col("id2"))
      val quality = c.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("q"))
      Dedup.connectedComponents(pairs)
        .join(quality, col("id") === col("doc_id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"), struct(col("q"), -col("doc_id")))
            .as("survivor"),
          max(col("q")).as("best_q"))
        .select(col("component"), col("survivor"), col("n_members"),
          col("best_q"))
        .orderBy(col("component"))
    }),

    // D12: SemDeDup (arXiv:2303.09540) — semantic dedup at the embedding
    // level: cluster (hyperplane buckets), duplicate components within
    // clusters, keep the member FURTHEST from the cluster centroid. Same
    // planted-twin corpus as d5 so duplicate groups exist; the oracle
    // recomputes components with its own recursive CTE and the centroid
    // with its own unnest+avg — an independent derivation, not an echo.
    "d12_semdedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val twins = e.filter(col("vec_id") % 13 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1) + lit(0.05f))),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      val all = e.select(col("vec_id"), col("embedding")).unionByName(twins)
      // maxBucket caps the within-bucket pair step (a degenerate embedding
      // distribution — mass in one orthant — would otherwise go quadratic);
      // semantics-neutral at test scale (≤540 vectors across 256 buckets)
      // and the oracle replicates the cap, so both over- and under-capping
      // hash-mismatch.
      Dedup.semDedup(all, "vec_id", "embedding", threshold = 0.9,
          maxBucket = 512)
        .select(col("component"), col("survivor"), col("n_members"),
          round(col("centroid_sim"), 6).as("centroid_sim"))
        .orderBy(col("component"))
    }),

    // D12-IVF: SemDeDup's PRODUCTION clustering path — the same
    // keep-lowest-centroid-sim rule over served IVF clusters instead of
    // hyperplane sign buckets (the paper clusters with k-means; the
    // hyperplane variant is the trainless stand-in). Centroids here follow
    // the v1 sampled-centroid protocol (vec_id % 100 == 0, cosine argmin
    // assignment) so the whole chain is DuckDB-replicable; the
    // KMeans-trained swap (Ivf.trainKMeansArrays → same semDedupClustered
    // call) is pinned by SemDedupSpec. Survivor similarity is measured
    // against the ASSIGNED centroid — with trained centroids that is the
    // cluster mean, the paper's rule verbatim.
    "d12_semdedup_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val twins = e.filter(col("vec_id") % 13 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1) + lit(0.05f))),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      val all = e.select(col("vec_id"), col("embedding")).unionByName(twins)
      val cents = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").cast("long").as("cid"),
          col("embedding").as("cvec"))
      Dedup.semDedupClustered(all, "vec_id", "embedding", threshold = 0.9,
          centroids = cents, maxBucket = 512)
        .select(col("component"), col("survivor"), col("n_members"),
          round(col("centroid_sim"), 6).as("centroid_sim"))
        .orderBy(col("component"))
    }),

    // D13: CCNet-style paragraph dedup — remove every re-occurrence of an
    // exact paragraph (16-token chunk) corpus-wide, keep the first by
    // (doc_id, pos), reassemble the cleaned docs. The planted exact twins
    // (doc_id % 7) lose ALL their paragraphs (text_deduped = ''); the
    // near twins (doc_id % 11, last word dropped) keep only their tail
    // chunk — the one their shorter final paragraph no longer matches.
    "d13_paragraph_dedup" -> ((s, dir) => {
      Dedup.paragraphDedup(corpus(s, dir))
        .select(col("doc_id"), col("text_deduped"),
          col("n_kept").cast("long").as("n_kept"),
          col("n_dropped").cast("long").as("n_dropped"))
        .orderBy(col("doc_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "d1_exact_dedup" ->
      s"""WITH $corpusSql,
         |g AS (
         |  SELECT sha256(text) AS h, min(doc_id) AS keeper,
         |    CAST(count(*) AS BIGINT) AS n,
         |    array_to_string(list_sort(list(doc_id)), ',') AS ids
         |  FROM corpus GROUP BY sha256(text))
         |SELECT CAST(keeper AS BIGINT) AS keeper, n, ids FROM g
         |WHERE n >= 2 ORDER BY keeper""".stripMargin,

    "d2_minhash_lsh" ->
      s"""WITH $lshJaccardCtes
         |SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
         |  round(jaccard, 6) AS jaccard
         |FROM j WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin,

    "d10_dup_matrix" ->
      s"""WITH $lshJaccardCtes,
         |p AS (SELECT id1, id2 FROM j WHERE jaccard >= 0.5),
         |m AS (
         |  SELECT a.source AS s1, b.source AS s2
         |  FROM p JOIN documents a ON a.doc_id = p.id1 % 100000
         |         JOIN documents b ON b.doc_id = p.id2 % 100000)
         |SELECT least(s1, s2) AS src_a, greatest(s1, s2) AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM m GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // D9: fingerprints are arithmetic (majority over identically-painted
    // frames = the painted target), so the oracle replicates banding +
    // popcount exactly like d7.
    "d9_video_neardup" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100),
        |fp AS (
        |  SELECT id,
        |    xor(
        |      ((id % 20 + 5) * 2654435761) % 2147483647
        |        + (((id % 20 + 29) * 2654435761) % 2147483647) * 4294967296,
        |      CASE id // 20 WHEN 0 THEN 0 WHEN 1 THEN 512
        |        WHEN 2 THEN 4194304 WHEN 3 THEN 1099511627776
        |        ELSE 36028797018963968 END) AS f
        |  FROM ids),
        |banded AS (
        |  SELECT id, f, b.band, (f >> (b.band * 16)) & 65535 AS slice
        |  FROM fp, (SELECT unnest(range(4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT l.id AS id1, r.id AS id2, l.f AS f1, r.f AS f2
        |  FROM banded l JOIN banded r
        |    ON l.band = r.band AND l.slice = r.slice AND l.id < r.id)
        |SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
        |  CAST(bit_count(xor(f1, f2)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(f1, f2)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    // D8: pairs → components via min-label transitive closure (recursive
    // CTE) — the oracle for the Spark side's large-star/small-star rounds.
    "d8_dedup_components" ->
      s"""WITH RECURSIVE $lshJaccardCtes,
         |p AS (SELECT id1, id2 FROM j WHERE jaccard >= 0.5),
         |und AS (
         |  SELECT id1 AS u, id2 AS v FROM p
         |  UNION SELECT id2, id1 FROM p),
         |reach(u, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u),
         |comp AS (SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u)
         |SELECT CAST(component AS BIGINT) AS component,
         |  CAST(doc_id AS BIGINT) AS doc_id,
         |  doc_id = component AS keep
         |FROM comp ORDER BY component, doc_id""".stripMargin,

    "d11_keep_best" ->
      s"""WITH RECURSIVE $lshJaccardCtes,
         |p AS (SELECT id1, id2 FROM j WHERE jaccard >= 0.5),
         |und AS (
         |  SELECT id1 AS u, id2 AS v FROM p
         |  UNION SELECT id2, id1 FROM p),
         |reach(u, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u),
         |comp AS (SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u),
         |q AS (
         |  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS q
         |  FROM corpus),
         |m AS (
         |  SELECT comp.component, comp.doc_id, q.q
         |  FROM comp JOIN q USING (doc_id)),
         |r2 AS (
         |  SELECT component, doc_id, q,
         |    row_number() OVER (PARTITION BY component
         |                       ORDER BY q DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY component) AS n_members,
         |    max(q) OVER (PARTITION BY component) AS best_q
         |  FROM m)
         |SELECT CAST(component AS BIGINT) AS component,
         |  CAST(doc_id AS BIGINT) AS survivor,
         |  CAST(n_members AS BIGINT) AS n_members, best_q
         |FROM r2 WHERE rn = 1 ORDER BY component""".stripMargin,

    "d12_semdedup" ->
      """WITH RECURSIVE ecorpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    [embedding[1] + CAST(0.05 AS FLOAT)] || embedding[2:]
        |  FROM embeddings WHERE vec_id % 13 = 0
        |),
        |ex AS (
        |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS e,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM ecorpus),
        |dots AS (
        |  SELECT vec_id, j,
        |    sum(e * (((131 * j + 31 * (pos - 1)) % 17) - 8)) AS dot
        |  FROM ex CROSS JOIN range(8) t(j)
        |  GROUP BY vec_id, j),
        |buckets AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |bsz AS (SELECT bucket, count(*) AS n FROM buckets GROUP BY bucket),
        |bok AS (
        |  SELECT b.vec_id, b.bucket FROM buckets b
        |  JOIN bsz USING (bucket) WHERE bsz.n <= 512),
        |p AS (
        |  SELECT l.vec_id AS id1, r.vec_id AS id2
        |  FROM bok l JOIN bok r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
        |dup AS (
        |  SELECT p.id1, p.id2 FROM p
        |  JOIN ecorpus a ON a.vec_id = p.id1 JOIN ecorpus b ON b.vec_id = p.id2
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.9),
        |und AS (
        |  SELECT id1 AS u, id2 AS v FROM dup
        |  UNION SELECT id2, id1 FROM dup),
        |reach(u, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
        |  UNION
        |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u),
        |comp AS (SELECT u AS vec_id, min(r) AS component FROM reach GROUP BY u),
        |cent AS (
        |  SELECT bucket, pos, avg(e) AS c
        |  FROM ex JOIN buckets USING (vec_id) GROUP BY bucket, pos),
        |centl AS (SELECT bucket, list(c ORDER BY pos) AS centroid FROM cent GROUP BY bucket),
        |msim AS (
        |  SELECT comp.component, comp.vec_id,
        |    list_cosine_similarity(CAST(ec.embedding AS DOUBLE[]), cl.centroid) AS csim
        |  FROM comp
        |  JOIN ecorpus ec ON ec.vec_id = comp.vec_id
        |  JOIN buckets b ON b.vec_id = comp.vec_id
        |  JOIN centl cl ON cl.bucket = b.bucket),
        |r2 AS (
        |  SELECT component, vec_id, csim,
        |    row_number() OVER (PARTITION BY component ORDER BY csim ASC, vec_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY component) AS n_members
        |  FROM msim)
        |SELECT CAST(component AS BIGINT) AS component,
        |  CAST(vec_id AS BIGINT) AS survivor,
        |  CAST(n_members AS BIGINT) AS n_members,
        |  round(csim, 6) AS centroid_sim
        |FROM r2 WHERE rn = 1 ORDER BY component""".stripMargin,

    // D12-IVF: the v1 sampled-centroid assignment protocol feeding the
    // d12 recursive-CTE component chain — an independent re-derivation of
    // semDedupClustered: argmin cosine assignment (ties to smallest cid),
    // the 512 hot-cluster cap, within-cluster cos ≥ 0.9 pairs, min-label
    // transitive closure, and survivor = lowest cosine to the ASSIGNED
    // centroid.
    "d12_semdedup_ivf" ->
      """WITH RECURSIVE ecorpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    [embedding[1] + CAST(0.05 AS FLOAT)] || embedding[2:]
        |  FROM embeddings WHERE vec_id % 13 = 0
        |),
        |cents AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        |  WHERE vec_id % 100 = 0),
        |assigned AS (
        |  SELECT vec_id, cid AS bucket FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY 1.0 - list_cosine_similarity(
        |          CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])),
        |          c.cid) AS rn
        |    FROM ecorpus e CROSS JOIN cents c)
        |  WHERE rn = 1),
        |bsz AS (SELECT bucket, count(*) AS n FROM assigned GROUP BY bucket),
        |bok AS (
        |  SELECT a.vec_id, a.bucket FROM assigned a
        |  JOIN bsz USING (bucket) WHERE bsz.n <= 512),
        |p AS (
        |  SELECT l.vec_id AS id1, r.vec_id AS id2
        |  FROM bok l JOIN bok r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
        |dup AS (
        |  SELECT p.id1, p.id2 FROM p
        |  JOIN ecorpus a ON a.vec_id = p.id1 JOIN ecorpus b ON b.vec_id = p.id2
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.9),
        |und AS (
        |  SELECT id1 AS u, id2 AS v FROM dup
        |  UNION SELECT id2, id1 FROM dup),
        |reach(u, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
        |  UNION
        |  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u),
        |comp AS (SELECT u AS vec_id, min(r) AS component FROM reach GROUP BY u),
        |msim AS (
        |  SELECT comp.component, comp.vec_id,
        |    list_cosine_similarity(CAST(ec.embedding AS DOUBLE[]),
        |                           CAST(c.cvec AS DOUBLE[])) AS csim
        |  FROM comp
        |  JOIN ecorpus ec ON ec.vec_id = comp.vec_id
        |  JOIN assigned a ON a.vec_id = comp.vec_id
        |  JOIN cents c ON c.cid = a.bucket),
        |r2 AS (
        |  SELECT component, vec_id, csim,
        |    row_number() OVER (PARTITION BY component ORDER BY csim ASC, vec_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY component) AS n_members
        |  FROM msim)
        |SELECT CAST(component AS BIGINT) AS component,
        |  CAST(vec_id AS BIGINT) AS survivor,
        |  CAST(n_members AS BIGINT) AS n_members,
        |  round(csim, 6) AS centroid_sim
        |FROM r2 WHERE rn = 1 ORDER BY component""".stripMargin,

    "d3_simhash" ->
      s"""WITH $corpusSql,
         |tf AS (
         |  SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM corpus)
         |  GROUP BY doc_id, tok),
         |hx AS (SELECT id, tf, (${phSql("tok")} * 377424577 + 285451301) % 65536 AS h FROM tf),
         |bits AS (
         |  SELECT id,
         |${(0 until 16).map(j => s"    sum(tf * (((h >> $j) % 2) * 2 - 1)) AS s$j").mkString(",\n")}
         |  FROM hx GROUP BY id),
         |sh AS (
         |  SELECT id,
         |    ${(0 until 16).map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS simhash
         |  FROM bits),
         |twins AS (
         |  SELECT CASE WHEN id >= 200000 THEN id - 200000 ELSE id - 100000 END AS id,
         |         id AS id2, simhash AS h2
         |  FROM sh WHERE id >= 100000)
         |SELECT CAST(sh.id AS BIGINT) AS d1, CAST(t.id2 AS BIGINT) AS d2,
         |  CAST(bit_count(xor(sh.simhash, t.h2)) AS BIGINT) AS hamming,
         |  bit_count(xor(sh.simhash, t.h2)) <= 3 AS near_dup
         |FROM sh JOIN twins t ON sh.id = t.id
         |ORDER BY d1, d2""".stripMargin,

    "d4_ngram_jaccard" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |$shinglesSql,
         |pairs AS (
         |  SELECT CAST(doc_id AS BIGINT) AS id1, CAST(doc_id + 1 AS BIGINT) AS id2
         |  FROM documents WHERE doc_id < 50),
         |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT p.id1, p.id2, CAST(count(*) AS BIGINT) AS n
         |  FROM pairs p
         |  JOIN sh a ON a.id = p.id1 JOIN sh b ON b.id = p.id2 AND b.shingle = a.shingle
         |  GROUP BY p.id1, p.id2)
         |SELECT p.id1, p.id2,
         |  round(coalesce(i.n, 0) * 1.0 / (s1.sz + s2.sz - coalesce(i.n, 0)), 6) AS jaccard
         |FROM pairs p
         |LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
         |JOIN sizes s1 ON s1.id = p.id1 JOIN sizes s2 ON s2.id = p.id2
         |ORDER BY 1""".stripMargin,

    "d5_cosine_neardup" ->
      """WITH ecorpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    [embedding[1] + CAST(0.05 AS FLOAT)] || embedding[2:]
        |  FROM embeddings WHERE vec_id % 13 = 0
        |),
        |dots AS (
        |  SELECT vec_id, j,
        |    sum(e * (((131 * j + 31 * (pos - 1)) % 17) - 8)) AS dot
        |  FROM (
        |    SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS e,
        |           generate_subscripts(embedding, 1) AS pos
        |    FROM ecorpus) CROSS JOIN range(8) t(j)
        |  GROUP BY vec_id, j),
        |buckets AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |pairs AS (
        |  SELECT l.vec_id AS id1, r.vec_id AS id2
        |  FROM buckets l JOIN buckets r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
        |sims AS (
        |  SELECT p.id1, p.id2,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])) AS sim
        |  FROM pairs p
        |  JOIN ecorpus a ON a.vec_id = p.id1 JOIN ecorpus b ON b.vec_id = p.id2)
        |SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
        |  round(sim, 6) AS sim
        |FROM sims WHERE sim >= 0.9 ORDER BY id1, id2""".stripMargin,

    "d6_lsh_skew_cap" ->
      s"""WITH $corpusSql,
         |corpus2 AS (
         |  SELECT doc_id, text FROM corpus
         |  UNION ALL
         |  SELECT 300000 + k,
         |    'standard legal boilerplate footer appended to every page'
         |  FROM range(20) t2(k)),
         |sh AS (
         |  SELECT DISTINCT doc_id AS id, shingle FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(str_split(text, ' ')) - 1),
         |        i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' '))) AS shingle
         |    FROM corpus2)),
         |$permsSql,
         |hx AS (SELECT id, shingle, ${phSql("shingle")} AS x FROM sh),
         |sig AS (
         |  SELECT id, i, min((a * x + b) % 2147483647) AS minh
         |  FROM hx CROSS JOIN perms GROUP BY id, i),
         |banded AS (
         |  SELECT id, i // 2 AS band,
         |    array_to_string(list(CAST(minh AS VARCHAR) ORDER BY i % 2), ',') AS sig
         |  FROM sig GROUP BY id, i // 2),
         |bsz AS (SELECT band, sig, count(*) AS n FROM banded GROUP BY band, sig),
         |bounded AS (
         |  SELECT b.id, b.band, b.sig FROM banded b
         |  JOIN bsz z ON z.band = b.band AND z.sig = b.sig
         |  WHERE z.n <= 10),
         |cand AS (
         |  SELECT DISTINCT l.id AS id1, r.id AS id2
         |  FROM bounded l JOIN bounded r ON l.band = r.band AND l.sig = r.sig
         |  WHERE l.id < r.id),
         |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id),
         |inter AS (
         |  SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS n
         |  FROM cand c
         |  JOIN sh a ON a.id = c.id1 JOIN sh b ON b.id = c.id2 AND b.shingle = a.shingle
         |  GROUP BY c.id1, c.id2),
         |j AS (
         |  SELECT c.id1, c.id2,
         |    coalesce(i.n, 0) * 1.0 / (s1.sz + s2.sz - coalesce(i.n, 0)) AS jaccard
         |  FROM cand c
         |  LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
         |  JOIN sizes s1 ON s1.id = c.id1 JOIN sizes s2 ON s2.id = c.id2)
         |SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
         |  round(jaccard, 6) AS jaccard
         |FROM j WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin,

    // Fingerprints are arithmetic (painted envelopes, see the query):
    // target = lo | (hi << 32) from two 31-bit halves, XOR a ≤1-bit
    // member perturbation; the oracle replicates the banding (4×16-bit
    // slices) and popcount exactly — including any accidental cross-group
    // slice collisions, which the hamming filter then rejects identically.
    "d7_audio_neardup" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100),
        |fp AS (
        |  SELECT id,
        |    xor(
        |      ((id % 20 + 3) * 2654435761) % 2147483647
        |        + (((id % 20 + 47) * 2654435761) % 2147483647) * 4294967296,
        |      CASE id // 20 WHEN 0 THEN 0 WHEN 1 THEN 128
        |        WHEN 2 THEN 8388608 WHEN 3 THEN 2199023255552
        |        ELSE 144115188075855872 END) AS f
        |  FROM ids),
        |banded AS (
        |  SELECT id, f, b.band, (f >> (b.band * 16)) & 65535 AS slice
        |  FROM fp, (SELECT unnest(range(4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT l.id AS id1, r.id AS id2, l.f AS f1, r.f AS f2
        |  FROM banded l JOIN banded r
        |    ON l.band = r.band AND l.slice = r.slice AND l.id < r.id)
        |SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
        |  CAST(bit_count(xor(f1, f2)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(f1, f2)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    // Independent replay: paragraph identity is the chunk's token text, so
    // the same chunking + keep-first window reproduces the cleaned corpus
    // verbatim (DuckDB list_slice is END-inclusive — (i-1)*16+1 .. i*16
    // equals Spark's slice(start, length=16)).
    "d13_paragraph_dedup" ->
      s"""WITH $corpusSql,
         |toks AS (SELECT doc_id, str_split(text, ' ') AS w FROM corpus),
         |chunks AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    array_to_string(list_slice(w, (i - 1) * 16 + 1, i * 16), ' ') AS para
         |  FROM toks,
         |    unnest(generate_series(1, CAST(ceil(len(w) / 16.0) AS BIGINT))) AS t(i)),
         |ranked AS (
         |  SELECT doc_id, pos, para,
         |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
         |  FROM chunks)
         |SELECT doc_id,
         |  coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE rn = 1),
         |    '') AS text_deduped,
         |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
         |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
         |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
