package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The shared clustered-synthetic embedding recipe behind every bench and
  * scale workload: `nClusters` latent hash-derived centers plus 25%
  * per-id noise — the structure real embedding corpora have and
  * uniform-random lacks. ONE definition on purpose: ScaleCheck's 1× vs
  * 10× serving ratios are only meaningful if they run exactly the corpus
  * recipe the bench measures, and five hand-tuned copies drifted apart is
  * how that silently stops being true.
  */
object SyntheticVectors {

  /** Deterministic hash-uniform in [-1, 1] — engine-independent, seeded. */
  def hashUniform(seed: Column, j: Column, salt: String): Column =
    (pmod(xxhash64(seed, j, lit(salt)), lit(2000001L)).cast("double")
      - 1000000.0) / 1000000.0

  /** Clustered vector for id `idc`: center = hash of (id mod nClusters),
    * noise = 25% per-id hash, optionally L2-normalized (cosine corpora). */
  def clusteredVec(idc: Column, dim: Int, nClusters: Long, noiseSalt: String,
                   normalized: Boolean = true): Column = {
    val raw = transform(sequence(lit(0), lit(dim - 1)), j =>
      (hashUniform(pmod(idc, lit(nClusters)), j, "ctr") +
        hashUniform(idc, j, noiseSalt) * lit(0.25)).cast("float"))
    if (normalized) VectorFunctions.normalize(raw) else raw
  }

  /** Zipf-skewed synthetic token id for the text-serving workloads:
    * rank = ⌊vocab · u⁴⌋ with u hash-uniform — low ranks dominate, the
    * shape real vocabularies have. One definition for the same reason as
    * [[clusteredVec]]: the bench's fusion corpus and ScaleCheck's ingest
    * corpus must measure the SAME text distribution (r16 self-review —
    * three hand copies had begun).
    */
  def zipfTokId(seed: Column, j: Column, salt: String, vocab: Int): Column = {
    val u = (pmod(xxhash64(seed, j, lit(salt)), lit(1000000L))
      .cast("double") / 1000000.0)
    floor(pow(u, lit(4.0)) * vocab).cast("int")
  }

  /** A whole zipf document: `docLen` space-joined `tok<id>` tokens. */
  def zipfText(idc: Column, docLen: Int, salt: String, vocab: Int): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(docLen - 1)),
      j => concat(lit("tok"), zipfTokId(idc, j, salt, vocab))))
}
