package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of test code starts. */
object Jobs {

  /** `body`'s result and the descriptions of the jobs it started, in
    * job-id order (a job without a description reads ""). The block runs
    * under a job group of its own, so jobs of other threads that do not
    * inherit it are not counted. */
  def of[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val started = new ConcurrentHashMap[Int, String]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => started.put(e.jobId,
            Option(p.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (!started.containsKey(e.jobId)) marker.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted jobs")
      val out = try body finally sc.clearJobGroup()
      // the bus delivers events in order: once a later job's end is
      // seen, every job of the block has been counted
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      import scala.jdk.CollectionConverters._
      (out, started.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally sc.removeSparkListener(listener)
  }
}
