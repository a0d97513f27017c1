package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary induction — the tokenizer-TRAINING step of a
  * pre-training data pipeline (Sennrich et al. 2016's byte-pair encoding,
  * the construction behind GPT/Llama tokenizers), re-expressed in the only
  * shape that works at 100 TB:
  *
  *   1. ONE corpus scan folds the documents into a word-frequency table
  *      (explode + keyed count). The corpus is never touched again — after
  *      this point cost is bounded by the VOCABULARY, which saturates long
  *      before the corpus does (Heaps' law), so 10× the documents barely
  *      moves the iteration cost.
  *   2. Each merge round is one keyed aggregation over that table: count
  *      adjacent symbol pairs weighted by word frequency, take the most
  *      frequent pair (ties → lexicographically smallest, engine-neutral),
  *      rewrite every word's symbol string.
  *
  * Words are carried as marker strings `<c><h><a><t>`: symbols can never
  * contain `<`/`>` (the word filter admits `[a-z0-9]+` only), so a merge is
  * a plain substring replace of `<l><r>` with `<lr>` — and both the JVM and
  * DuckDB replace all occurrences LEFT-TO-RIGHT, NON-OVERLAPPING, which is
  * exactly BPE's merge convention (`aaa` + merge(a,a) → `(aa)(a)`). Pair
  * COUNTING is over all adjacent positions (overlapping), Sennrich's
  * counting convention. Everything is integer or ASCII-string math, so an
  * external SQL engine replays the whole training loop bit-for-bit.
  *
  * The driver holds one (pair, count) row per round — the same O(steps)
  * driver state any BPE trainer keeps; the vocabulary table itself never
  * leaves the executors.
  */
object Bpe {

  /** The word-frequency table with initial symbol decomposition:
    * (word, cnt, sym) where sym = `<c><h>...` one marker-wrapped symbol per
    * character. One corpus scan; vocabulary-bounded output. Words shorter
    * than 2 characters can never participate in a merge and are dropped;
    * the `[a-z0-9]+` filter keeps the marker alphabet disjoint from symbol
    * text.
    */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$") && length(col("word")) >= 2)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("sym",
        concat(lit("<"),
          concat_ws("><", regexp_extract_all(col("word"), lit("[a-z0-9]"), lit(0))),
          lit(">")))

  /** Word-table ceiling for [[learnMerges]]. BPE trains on the DISTINCT
    * word-frequency table, which Heaps' law bounds far below the corpus —
    * but a 100 TB crawl still surfaces noise vocabulary without limit, so
    * the trainer keeps the top-`maxWords` words by (count DESC, word ASC)
    * — the deterministic analogue of every production trainer's
    * `min_frequency`/vocab pruning. 4M words ≈ a few hundred MB of driver
    * state; the cap never binds at oracle scales (sf vocabularies are
    * thousands of words), so parity with the SQL replay is unaffected.
    */
  val DefaultMaxWords: Int = 4 * 1024 * 1024

  /** Run `steps` merge rounds and return the learned merge table:
    * (step, lhs, rhs, merged, pair_count), step 1-based in learning order.
    * Deterministic: argmax by (count DESC, lhs ASC, rhs ASC).
    *
    * Execution shape (r14): ONE distributed corpus scan folds the corpus
    * into the word-frequency table ([[wordTable]], the only part that
    * sees the 100 TB); the capped table then trains IN MEMORY with
    * incrementally-maintained pair counts — the classic BPE trainer
    * algorithm (Sennrich's own, and every production tokenizer's): on a
    * merge, only words CONTAINING the merged pair update their pair
    * counts, and the argmax pops from a lazy-deletion priority queue. So
    * 32k merges cost Σ(affected-word lengths), zero Spark jobs — where
    * the pre-r14 loop ran one aggregation job + driver round-trip PER
    * MERGE (32k merges ≈ 32k jobs). All counts are integers, so the
    * result is bit-identical to the per-round SQL replay the oracle runs
    * (same counting convention: adjacent positions, overlapping; same
    * left-to-right non-overlapping apply).
    */
  def learnMerges(docs: DataFrame, textCol: String, steps: Int,
      maxWords: Int = DefaultMaxWords): DataFrame = {
    val spark = docs.sparkSession
    val rows = wordTable(docs, textCol)
      .select(col("word"), col("cnt"))
      .orderBy(desc("cnt"), col("word"))
      .limit(maxWords)
      .collect()

    // ---- in-memory state ----
    val words: Array[Array[String]] =
      rows.map(_.getString(0).toCharArray.map(_.toString))
    val cnts: Array[Long] = rows.map(_.getLong(1))
    val counts = new java.util.HashMap[(String, String), Long]()
    val pairWords = new java.util.HashMap[(String, String),
      scala.collection.mutable.HashSet[Int]]()
    // Lazy-deletion PQ over (count, lhs, rhs): entries go stale when a
    // count changes; a popped entry is re-validated against `counts` and
    // re-pushed at its true value on mismatch. Every increase pushes an
    // exact entry and decreases only leave stale HIGHER entries, so the
    // queue top always dominates the true max and a validated pop IS the
    // (count DESC, lhs ASC, rhs ASC) argmax.
    val pq = new java.util.PriorityQueue[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c
          else {
            val l = a._2.compareTo(b._2)
            if (l != 0) l else a._3.compareTo(b._3)
          }
        }
      })
    def bump(p: (String, String), by: Long): Long = {
      val n = counts.getOrDefault(p, 0L) + by
      if (n <= 0L) { counts.remove(p); 0L } else { counts.put(p, n); n }
    }
    var wi = 0
    while (wi < words.length) {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        bump(p, cnts(wi))
        var set = pairWords.get(p)
        if (set == null) {
          set = scala.collection.mutable.HashSet.empty[Int]
          pairWords.put(p, set)
        }
        set += wi
        i += 1
      }
      wi += 1
    }
    counts.forEach((p, c) => pq.add((c, p._1, p._2)))

    // Left-to-right non-overlapping apply — the semantics of the marker-
    // string `replace` the oracle replays (`aaa` + merge(a,a) → `(aa)(a)`).
    def applyMerge(s: Array[String], l: String, r: String, m: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { out += m; i += 2 }
        else { out += s(i); i += 1 }
      }
      out.toArray
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      // Pop to the first non-stale entry.
      var best: (Long, String, String) = null
      while (best == null && !pq.isEmpty) {
        val e = pq.poll()
        val cur = counts.getOrDefault((e._2, e._3), 0L)
        if (cur == e._1) best = e
        else if (cur > 0L) pq.add((cur, e._2, e._3))
      }
      if (best == null) exhausted = true
      else {
        val (c, l, r) = best
        val m = l + r
        merges += ((step.toLong, l, r, m, c))
        val touchedPairs = scala.collection.mutable.HashSet.empty[(String, String)]
        val affected = pairWords.get((l, r))
        if (affected != null) affected.toArray.foreach { wj =>
          val old = words(wj)
          val cnt = cnts(wj)
          var i = 0
          while (i < old.length - 1) {
            val p = (old(i), old(i + 1))
            bump(p, -cnt)
            touchedPairs += p
            val s0 = pairWords.get(p)
            if (s0 != null) { s0 -= wj; if (s0.isEmpty) pairWords.remove(p) }
            i += 1
          }
          val nw = applyMerge(old, l, r, m)
          words(wj) = nw
          i = 0
          while (i < nw.length - 1) {
            val p = (nw(i), nw(i + 1))
            bump(p, cnt)
            touchedPairs += p
            var set = pairWords.get(p)
            if (set == null) {
              set = scala.collection.mutable.HashSet.empty[Int]
              pairWords.put(p, set)
            }
            set += wj
            i += 1
          }
        }
        touchedPairs.foreach { p =>
          val cur = counts.getOrDefault(p, 0L)
          if (cur > 0L) pq.add((cur, p._1, p._2))
        }
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
  }

  /** ENCODE with a learned merge list: per-document BPE token accounting.
    * Applies the merges in training order to every `[a-z0-9]+` word (all
    * lengths — single-character words are single symbols that no merge can
    * touch) and returns (doc_id, n_words, n_chars, n_bpe_tokens) — the
    * real tokenizer-cost table the `est_bpe` heuristic (x3/x32)
    * approximates. The encode is pure column math: explode words, build
    * the marker string, fold the ≤steps literal replaces, count symbols,
    * one keyed agg per doc — scales like a scan, and the merge list rides
    * inside the plan (a tokenizer IS a broadcast-sized artifact).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .withColumn("sym",
        concat(lit("<"),
          concat_ws("><", regexp_extract_all(col("word"), lit("[a-z0-9]"), lit(0))),
          lit(">")))
    val encoded = merges.foldLeft(words) { case (df, (l, r)) =>
      df.withColumn("sym",
        replace(col("sym"), lit(s"<$l><$r>"), lit(s"<$l$r>")))
    }
    encoded
      .select(col(idCol), length(col("word")).cast("long").as("nch"),
        size(regexp_extract_all(col("sym"), lit("[^<>]+"), lit(0)))
          .cast("long").as("ntok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("nch")).as("n_chars"),
        sum(col("ntok")).as("n_bpe_tokens"))
  }
}
