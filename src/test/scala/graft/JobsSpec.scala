package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.Jobs

/** The job ledger: which jobs a block owns, and the driver gap of
  * overlapping jobs. */
class JobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)

  test("driver gap: overlapping jobs count once, so busy <= wall and gap >= 0") {
    val sc = spark.sparkContext
    val (wall, jobs) = Jobs.of(spark) {
      val t0 = System.currentTimeMillis()
      // two threads started in the block, each running one single-task
      // job whose task waits for the other's: the jobs overlap
      val threads = (1 to 2).map(_ => new Thread(() =>
        sc.parallelize(Seq(1), 1).foreach(_ => JobsSpec.meet())))
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.currentTimeMillis() - t0) / 1e3
    }
    assert(jobs.size == 2 && jobs.forall(_.complete), jobs)
    val summed = jobs.map(_.seconds).sum
    assert(summed > wall, s"the jobs did not overlap: sum of durations $summed s, wall $wall s")
    val s = Jobs.summary(jobs, wall)
    assert(s.busyS <= wall && s.driverGapS >= 0.0, s"$s, wall $wall s")
    assert(s.busyS >= jobs.map(_.seconds).max, s"$s, jobs $jobs")
  }

  test("a streaming query's trigger jobs count; a thread started before the block does not") {
    val go = new CountDownLatch(1)
    val outsider = new Thread(() => {
      go.await()
      spark.sparkContext.setJobDescription("outsider")
      spark.range(10).count()
    })
    outsider.start()
    val (rows, jobs) = Jobs.of(spark) {
      go.countDown()
      val out = SparkEntry.queries("q_stream_join")(spark, "/root/testdata/sf0.001").count()
      outsider.join()
      out
    }
    assert(rows > 0)
    // each trigger runs under a description that opens with the query name
    assert(jobs.exists(_.label.startsWith("stream_join_gate")), jobs.map(_.label).mkString(", "))
    assert(!jobs.exists(_.label == "outsider"), jobs.map(_.label).mkString(", "))
  }
}

object JobsSpec {
  private val both = new CountDownLatch(2)

  /** a task of either job: returns 0.3 s after both tasks are running */
  def meet(): Unit = {
    both.countDown()
    assert(both.await(30, TimeUnit.SECONDS), "the other job's task never started")
    Thread.sleep(300)
  }
}
