package graft.oplog

import scala.collection.mutable
import scala.util.{Failure, Random, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{JobCount, SparkSpec}

/** Replay semantics of [[Oplog.foldVectors]] and [[Oplog.foldEdges]] as
  * properties: on random logs, spread over many partitions in an order
  * unrelated to `seq`, both state views must equal a driver-side replayer
  * that walks the log one event at a time — the reference's own recovery
  * shape (`pkg/engine/recovery.go:78-458`). Raw ScalaCheck generators with
  * fixed seeds, as in KnnPropertySpec; failures reproduce exactly.
  */
class OplogFoldPropertySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("seq", LongType), StructField("ts", LongType),
    StructField("op", StringType), StructField("index_name", StringType),
    StructField("id", StringType),
    StructField("vector", ArrayType(FloatType)),
    StructField("meta", MapType(StringType, StringType)),
    StructField("src", StringType), StructField("dst", StringType),
    StructField("rel", StringType), StructField("weight", DoubleType),
    StructField("payload", StringType)))

  /** One log event; `seq` (== `ts`) is its position in the log. */
  private case class Ev(op: String, idx: String, id: String = null,
      meta: Map[String, String] = null, src: String = null,
      dst: String = null, weight: java.lang.Double = null)

  private def row(seq: Long, e: Ev): Row =
    Row(seq, seq, e.op, e.idx, e.id,
      if (e.op == "VADD") Seq(seq.toFloat) else null, e.meta,
      e.src, e.dst, if (e.src == null) null else "r", e.weight, null)

  /** The log as a frame of `parts` partitions, rows shuffled so that no
    * partition holds a seq-ordered run.
    */
  private def log(evs: Seq[Ev], parts: Int, seed: Long): DataFrame = {
    val rows = evs.zipWithIndex.map { case (e, i) => row(i + 1L, e) }
    spark.createDataFrame(spark.sparkContext.parallelize(
      new Random(seed).shuffle(rows), parts), schema)
  }

  type VState = (String, String, Boolean, Seq[Float], Map[String, String],
    Long, Option[Long])
  type EState = (String, String, String, String, Double, Long, Option[Long])

  /** Sequential replay: VDROP wipes its index; VADD replaces the record and
    * its metadata wholly; VMETA merges into the current record's metadata
    * (a null map adds nothing, a null value is kept); VDEL tombstones and
    * closes every open edge version touching the node; GLINK with the
    * weight of the key's previous GLINK (no GUNLINK between) is a no-op,
    * otherwise it closes the open version and opens a new one; GUNLINK
    * closes the open version. An empty metadata map reads as null.
    */
  private def replay(evs: Seq[Ev]): (Set[VState], Set[EState]) = {
    final class Rec(val addSeq: Long, var meta: Map[String, String])
    final class Version(val key: (String, String, String, String),
        val weight: Double, val created: Long, var deleted: Option[Long])
    val recs = mutable.Map.empty[(String, String), Rec]
    val dels = mutable.Map.empty[(String, String), Long]
    val lastWeight = mutable.Map.empty[(String, String, String, String), Double]
    val versions = mutable.ArrayBuffer.empty[Version]
    def close(v: Version, ts: Long): Unit =
      if (v.deleted.isEmpty) v.deleted = Some(ts)
    evs.zipWithIndex.foreach { case (e, i) =>
      val seq = i + 1L
      val k = (e.idx, e.id)
      val ek = (e.idx, e.src, e.dst, "r")
      e.op match {
        case "VDROP" =>
          recs.keys.filter(_._1 == e.idx).foreach(recs.remove)
          dels.keys.filter(_._1 == e.idx).foreach(dels.remove)
          lastWeight.keys.filter(_._1 == e.idx).foreach(lastWeight.remove)
          versions.filterInPlace(_.key._1 != e.idx)
        case "VADD" =>
          recs(k) = new Rec(seq, Option(e.meta).getOrElse(Map.empty))
        case "VMETA" =>
          recs.get(k).foreach(r => r.meta = r.meta ++ Option(e.meta).getOrElse(Map.empty))
        case "VDEL" =>
          dels(k) = seq
          versions.filter(v => v.key._1 == e.idx &&
            (v.key._2 == e.id || v.key._3 == e.id)).foreach(close(_, seq))
        case "GLINK" =>
          if (!lastWeight.get(ek).contains(e.weight.doubleValue)) {
            versions.filter(_.key == ek).foreach(close(_, seq))
            versions += new Version(ek, e.weight, seq, None)
          }
          lastWeight(ek) = e.weight
        case "GUNLINK" =>
          versions.filter(_.key == ek).foreach(close(_, seq))
          lastWeight.remove(ek)
        case _ =>
      }
    }
    val vs = recs.map { case ((idx, id), r) =>
      val del = dels.get((idx, id))
      (idx, id, del.forall(r.addSeq > _), Seq(r.addSeq.toFloat),
        if (r.meta.isEmpty) null else r.meta, r.addSeq, del)
    }.toSet
    val es = versions.map(v => (v.key._1, v.key._2, v.key._3, v.key._4,
      v.weight, v.created, v.deleted)).toSet
    (vs, es)
  }

  private def folded(df: DataFrame): (Set[VState], Set[EState]) = {
    val vs = Oplog.foldVectors(df).collect().map { r =>
      (r.getString(0), r.getString(1), r.getBoolean(2), r.getSeq[Float](3),
        Option(r.getMap[String, String](4)).map(_.toMap).orNull, r.getLong(5),
        Option(r.get(6)).map(_.asInstanceOf[Long]))
    }.toSet
    val es = Oplog.foldEdges(df).collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getDouble(4), r.getLong(5), Option(r.get(6)).map(_.asInstanceOf[Long]))
    }.toSet
    (vs, es)
  }

  private val ids = Seq("1", "2", "3")
  private val metaGen: Gen[Map[String, String]] = Gen.frequency(
    1 -> Gen.const(null),
    5 -> Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.zip(
      Gen.oneOf("k1", "k2", "k3"), Gen.oneOf("x", "y", null))).map(_.toMap)))
  private val evGen: Gen[Ev] = for {
    idx <- Gen.frequency(4 -> Gen.const("a"), 1 -> Gen.const("b"))
    id <- Gen.oneOf(ids)
    other <- Gen.oneOf(ids)
    meta <- metaGen
    w <- Gen.oneOf(1.0, 2.0)
    op <- Gen.frequency(5 -> "VADD", 4 -> "VMETA", 2 -> "VDEL",
      5 -> "GLINK", 2 -> "GUNLINK", 1 -> "VCREATE", 1 -> "VDROP", 1 -> "SET")
  } yield op match {
    case "VADD" | "VMETA" => Ev(op, idx, id = id, meta = meta)
    case "VDEL" => Ev(op, idx, id = id)
    case "GLINK" => Ev(op, idx, src = id, dst = other, weight = w)
    case "GUNLINK" => Ev(op, idx, src = id, dst = other)
    case _ => Ev(op, idx)
  }
  private val logGen: Gen[Seq[Ev]] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, evGen))

  test("property: folds over a fragmented log == sequential replay") {
    (1 to 25).foreach { i =>
      val evs = logGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val parts = 8 + i % 5
      assert(folded(log(evs, parts, i)) === replay(evs), s"seed $i: $evs")
    }
  }

  test("every named replay case, in one scripted log, == sequential replay") {
    def vadd(id: String, meta: Map[String, String], idx: String = "a") =
      Ev("VADD", idx, id = id, meta = meta)
    def vmeta(id: String, meta: Map[String, String]) = Ev("VMETA", "a", id = id, meta = meta)
    def glink(s: String, d: String, w: Double) = Ev("GLINK", "a", src = s, dst = d, weight = w)
    val evs = Seq(
      Ev("VCREATE", "t"), vadd("1", Map("x" -> "1"), "t"),
      glink("1", "2", 1.0).copy(idx = "t"),
      Ev("VDROP", "t"), Ev("VCREATE", "t"),            // re-create starts empty
      vadd("2", Map("y" -> "2"), "t"),
      vmeta("1", Map("early" -> "x")),                 // VMETA before any VADD
      vadd("1", Map("k1" -> "a", "k2" -> "b")),
      vmeta("1", Map("k2" -> "c", "k3" -> "d")),       // overlapping keys
      vmeta("1", null),                                // null map
      vmeta("1", Map("k1" -> null)),                   // null value
      vadd("2", Map("k" -> "v")), Ev("VDEL", "a", id = "2"),
      vadd("2", Map("r" -> "revived")),                // revive after VDEL
      vadd("3", Map.empty), Ev("VDEL", "a", id = "3"), // stays deleted
      glink("1", "2", 1.0), glink("1", "2", 2.0),      // reweight
      glink("1", "2", 2.0),                            // identical weight: no-op
      Ev("GUNLINK", "a", src = "1", dst = "2", weight = null),
      glink("4", "5", 1.0), glink("6", "4", 1.0), glink("5", "6", 1.0),
      Ev("VDEL", "a", id = "4"),                       // cascade via src and dst
      glink("4", "5", 1.0))                            // no-op: VDEL is not an unlink
    val (vs, es) = replay(evs)
    assert(vs.exists(v => v._2 == "1" && v._5 == Map("k1" -> null, "k2" -> "c", "k3" -> "d")))
    assert(es.count(e => e._7.contains(24L)) === 2)
    assert(folded(log(evs, 9, 7L)) === (vs, es))
  }

  test("JobCount: foldVectors + foldEdges over one frame run at most 4 jobs") {
    val df = log(logGen.pureApply(Gen.Parameters.default, Seed(99L)), 12, 99L)
    val (_, jobs) = JobCount.withoutAdaptive(spark) {
      Oplog.foldVectors(df).collect()
      Oplog.foldEdges(df).collect()
    }
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("JobCount: an unknown op fails in the gate before any fold job") {
    val df = log(Seq(Ev("VADD", "a", id = "1"), Ev("BOGUS", "a"),
      Ev("GLINK", "a", src = "1", dst = "2", weight = 1.0)), 8, 3L)
    val (res, jobs) = JobCount.withoutAdaptive(spark)(Try(Oplog.foldVectors(df)))
    res match {
      case Failure(e) =>
        assert(e.getMessage.contains("unknown oplog op: BOGUS"), e.toString)
      case other => fail(s"gate passed: $other")
    }
    assert(jobs === 1)
  }
}
