package graft.core

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The driver's generated `events.ts` column has shipped under two physical
  * types across rounds — TIMESTAMP(NANOS) (read as raw long nanos) and
  * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). `Tables.events` must yield the
  * identical floored-epoch-seconds `ts_sec` either way, with the NTZ branch
  * independent of the session time zone (DuckDB's `floor(epoch(ts))` treats
  * the naive value as UTC wall-clock).
  */
class TablesSpec extends SparkSpec {

  // One awkward instant: 2024-03-05 23:59:59.876543 UTC.
  private val epochSec = 1709683199L
  private val micros   = epochSec * 1000000L + 876543L

  private def writeEvents(dir: String, tsField: StructField, tsValue: Any): String = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), tsField,
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = java.util.List.of(
      Row(1L, tsValue, 7L, "click", 1.5, "{}"))
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("ts_sec from long-nanos ts equals ts_sec from timestamp_ntz ts") {
    val d1 = writeEvents(Files.createTempDirectory("ev-long").toString,
      StructField("ts", LongType), micros * 1000L)
    val ntz = LocalDateTime.ofEpochSecond(epochSec, 876543000,
      java.time.ZoneOffset.UTC)
    val d2 = writeEvents(Files.createTempDirectory("ev-ntz").toString,
      StructField("ts", TimestampNTZType), ntz)

    val s1 = Tables.events(spark, d1).select("ts_sec").head().getLong(0)
    val s2 = Tables.events(spark, d2).select("ts_sec").head().getLong(0)
    assert(s1 === epochSec)
    assert(s2 === epochSec)
  }

  test("ntz ts_sec ignores the session time zone") {
    val ntz = LocalDateTime.ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC)
    val d = writeEvents(Files.createTempDirectory("ev-tz").toString,
      StructField("ts", TimestampNTZType), ntz)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(Tables.events(spark, d).select("ts_sec").head().getLong(0)
        === epochSec)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("schema cache sees a directory rewritten in place with a new column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-rewrite").resolve("t.parquet")
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(dir.toString)
    assert(Tables.readCached(spark, dir.toString).columns.toSeq === Seq("id", "name"))

    // Rewrite IN PLACE: swap the part files for ones carrying a new column,
    // then put the directory's own mtime back — the directory's size and
    // timestamp are unchanged, only its part files differ.
    val dirTime = Files.getLastModifiedTime(dir)
    val next = Files.createTempDirectory("tables-rewrite-next").resolve("t.parquet")
    Seq((2L, "b", 3.5)).toDF("id", "name", "score").coalesce(1)
      .write.parquet(next.toString)
    def parts(d: java.nio.file.Path) = d.toFile.listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith(".part-"))
    parts(dir).foreach(f => assert(f.delete()))
    parts(next).foreach(f => Files.move(f.toPath, dir.resolve(f.getName)))
    Files.setLastModifiedTime(dir, dirTime)

    val reread = Tables.readCached(spark, dir.toString)
    assert(reread.columns.toSeq === Seq("id", "name", "score"))
    assert(reread.collect().toSeq === Seq(Row(2L, "b", 3.5)))
  }

  test("real sf0.001 events table exposes a sane ts_sec") {
    val ev = Tables.events(spark, sf())
    val (lo, hi) = ev.agg(min("ts_sec"), max("ts_sec")).as("x")
      .head() match { case r => (r.getLong(0), r.getLong(1)) }
    // Jan 2020 .. Jan 2040 — catches unit mistakes (millis/micros/nanos off
    // by 10^3 would land far outside).
    assert(lo > 1577836800L && hi < 2208988800L, s"ts_sec range [$lo,$hi]")
  }
}
