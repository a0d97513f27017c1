package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-time materialized deployment layouts — the serving mode the operator
  * docstrings promise (postings clustered by token, IVF assignments
  * partitioned by bucket). Built under the system tmp dir on first use,
  * keyed by the source sf dir; deterministic, so reuse across passes is
  * sound. The `*_stored` query entries read these and share the plain
  * variants' oracle SQL — which proves the layout round-trips losslessly
  * AND benchmarks the per-query serving cost with the build amortized away
  * (the bench's untimed warmup pass performs the build).
  *
  * Note on bucketing: plain parquet has no metastore, so `bucketBy` isn't
  * available here — postings use `repartition(token)` (hash-clustered
  * files, co-located join input), IVF uses `partitionBy(bucket)` (real
  * partition pruning, asserted in PlanShapeSpec).
  */
object Layouts {

  private def root(dir: String, name: String): String = {
    // Key on the source tables' identity AND content fingerprint (size +
    // mtime): /tmp outlives test-data regeneration, and serving a stale
    // layout for fresh data would silently corrupt results. Covers every
    // table any layout derives from (docs/embeddings + the graph tables
    // behind the stored edge view).
    val fp = Seq("documents.parquet", "embeddings.parquet",
      "orders.parquet", "lineitem.parquet").map { f =>
      val p = Paths.get(dir, f)
      if (Files.exists(p))
        s"${Files.size(p)}-${Files.getLastModifiedTime(p).toMillis}"
      else "absent"
    }.mkString("_")
    val key = java.lang.Integer.toHexString((dir + fp).hashCode)
    // v2: oplog schema gained the VCONFIG/VAUTOLINKS payload column — stale
    // v1 snapshot layouts would fail the union with the new-schema tail.
    s"${System.getProperty("java.io.tmpdir")}/graft_layout_v2_$key/$name"
  }

  /** Build-once parquet: `build` runs only if the layout has no
    * `_SUCCESS` marker, checked through the Hadoop `FileSystem` of the path.
    */
  def stored(s: SparkSession, dir: String, name: String,
             partitionCols: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
    val path = root(dir, name)
    val marker = new Path(path, "_SUCCESS")
    if (!marker.getFileSystem(s.sessionState.newHadoopConf()).exists(marker)) {
      val w = build.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(path)
      if (partitionCols.isEmpty) compactSmallFiles(s, path)
    }
    // Partitioned layouts keep plain reads (partition-column discovery IS
    // directory inference); flat layouts go through the schema cache — the
    // layout path is already content-fingerprinted, and the per-read
    // schema-inference job was part of every stored query's latency floor.
    if (partitionCols.nonEmpty) s.read.parquet(path)
    else graft.core.Tables.readCached(s, path)
  }

  /** Small-file compaction on layout build (guide §6): a layout written
    * from a many-branch narrow plan lands one output file per input split
    * — the generated oplog wrote 26 few-KB files, so every replay fold
    * paid 26 tasks per scan stage (≈6 scan stages/query). Rewrite to
    * ceil(bytes / 128 MB) files when the written layout is pathologically
    * fragmented (more than max(4, 2×target) files); adequately-sized
    * layouts are left as written. Scale-adaptive by construction: a
    * 100 TB build keeps ~128 MB files, a KB-scale fixture collapses to 1.
    * Runs once at build time (the bench's untimed warmup), never on read.
    * Lists, deletes and renames through the Hadoop `FileSystem` of the
    * path, as `stored` checks its `_SUCCESS` marker. Layouts themselves
    * still live under the local `java.io.tmpdir` (see `root`).
    */
  private def compactSmallFiles(s: SparkSession, path: String): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    val files = fs.listStatus(dir).toVector
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    if (files.isEmpty) return
    val total = files.map(_.getLen).sum
    val target = math.max(1L, (total + (128L << 20) - 1) / (128L << 20)).toInt
    if (files.size > math.max(4, 2 * target)) {
      val tmp = new Path(path + "__compact")
      s.read.parquet(path).coalesce(target)
        .write.mode("overwrite").parquet(tmp.toString)
      if (!fs.delete(dir, true) || !fs.rename(tmp, dir))
        throw new java.io.IOException(
          s"could not swap the compacted layout into $path")
    }
  }
}
