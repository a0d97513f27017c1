package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code submits from the calling thread
  * (and the threads it starts, which inherit local properties): a
  * SparkListener matches jobs by a per-call local-property tag.
  */
object JobCount {
  private val Key = "graft.test.jobcount"

  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val out = body
      org.apache.spark.TestBusDrain.drain(sc)
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }

  /** [[apply]] with adaptive execution off for the block, as the benchmark
    * runs: adaptive execution's query-stage jobs would split each shuffle
    * into jobs of its own.
    */
  def withoutAdaptive[A](spark: SparkSession)(body: => A): (A, Int) = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try apply(spark)(body)
    finally spark.conf.set(key, prev)
  }
}
