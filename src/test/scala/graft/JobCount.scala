package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. The block runs under a fresh
  * job group on the calling thread; adaptive execution's stage jobs
  * inherit the caller's local properties, so they carry the group too.
  * The listener bus is asynchronous: a sentinel job in a second group is
  * submitted after the block, and since every listener sees events in
  * order, its start means every job of the block has been counted.
  */
object JobCount {
  def of[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID()
    val group = s"job-count-$id"
    val sentinelGroup = s"job-count-sentinel-$id"
    val jobs = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinelGroup`) => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val a = try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinelGroup, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
