package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All operators take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (oracle), sf0.1 (bench) — and, on a
  * real cluster, at any path. Filters and projections applied downstream are
  * pushed into the parquet scan by Catalyst (verify via `PushedFilters` in
  * `df.explain("formatted")`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** JVM-lifetime parquet SCHEMA cache keyed by path + content fingerprint:
    * a bare `spark.read.parquet` runs a schema-inference job per call, and
    * at 1-3 table reads per query that job was a measured 40-140 ms of
    * every query's latency floor (guide §1.2). A deployment keeps table
    * schemas in a catalog/metastore; this cache is the bare-path
    * equivalent. Only METADATA is cached — every query still scans the
    * parquet for data.
    *
    * The fingerprint is every file under the path (relative name,
    * size, mtime), not the directory's own size and mtime: a layout
    * directory rewritten in place can keep those (same entry count, a
    * coarse or unchanged directory timestamp, a rewrite inside a partition
    * subdirectory) while its part files — and so its schema — changed.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]

  private[graft] def readCached(spark: SparkSession, path: String): DataFrame =
    fingerprint(path) match {
      case None => spark.read.parquet(path) // no local files: no safe fingerprint
      case Some(key) =>
        val schema = schemaCache.computeIfAbsent(key,
          _ => spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
    }

  /** `path` plus (relative name, size, mtime) of every regular file under
    * it, in name order (markers and checksums included: they can only add
    * a re-inference, never hide a change). None when the path is not a
    * readable local file or directory.
    */
  private def fingerprint(path: String): Option[String] =
    try {
      val root = java.nio.file.Paths.get(path)
      val files =
        if (!java.nio.file.Files.isDirectory(root)) Seq(root)
        else {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(root)
          try walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_)).toVector
            .sortBy(_.toString)
          finally walk.close()
        }
      Some(files.map { f =>
        s"${root.relativize(f)}:${java.nio.file.Files.size(f)}:" +
          java.nio.file.Files.getLastModifiedTime(f).toMillis
      }.mkString(s"$path|", "|", ""))
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException |
          _: java.nio.file.InvalidPathException => None
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readCached(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) (which vanilla
    * Spark only reads as raw long nanos), as TIMESTAMP(MICROS) → Spark
    * TIMESTAMP_NTZ, and could plausibly arrive as a session-tz timestamp —
    * so derive `ts_sec` (floored unix seconds) from whatever dtype the scan
    * reports. DuckDB's `floor(epoch(ts))` oracle matches every branch for
    * the positive timestamps in the data. The NTZ branch deliberately avoids
    * `cast(ntz as timestamp)` so the result never depends on the session
    * time zone: a zoneless wall-clock is decomposed into epoch-day and
    * time-of-day fields, all tz-free.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.withColumn("ts_sec", tsSecExpr(raw.schema("ts").dataType))
  }

  /** Floored unix seconds from whichever physical type `ts` landed as. */
  def tsSecExpr(dt: DataType): Column = dt match {
    case LongType => expr("ts div 1000000000")
    case TimestampNTZType =>
      expr("unix_date(cast(ts as date)) * 86400L" +
        " + hour(ts) * 3600L + minute(ts) * 60L + second(ts)")
    case _ => expr("unix_seconds(ts)")
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
