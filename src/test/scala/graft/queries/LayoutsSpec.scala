package graft.queries

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Stored-layout small-file compaction: a flat layout written as many
  * tiny files is rewritten as one file with the same rows.
  */
class LayoutsSpec extends SparkSpec {

  test("a fragmented flat layout is compacted to one part file, rows intact") {
    val src = java.nio.file.Files.createTempDirectory("layouts-spec").toString
    val df = Layouts.stored(spark, src, "frag") {
      spark.range(0, 1000, 1, 20).toDF("id")
    }
    val path = new Path(df.inputFiles.head).getParent
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(path).map(_.getPath.getName).filter(_.startsWith("part-"))
    assert(parts.length === 1, parts.mkString(","))
    assert(df.count() === 1000L)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) === 499500L)
    assert(!fs.exists(new Path(path.toString + "__compact")))
  }
}
