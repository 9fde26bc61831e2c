package graft.sql

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.RelationBridge

/** The job ledger: the Spark jobs a block of driver code started and
  * what each one cost. It is the one job instrument of the engine:
  * `QueryProfile`, `Bench` and the job-count tests all read it.
  *
  * A job belongs to the block when it carries the local property the
  * block sets. Local properties are inherited by threads started inside
  * the block, and Spark's broadcast and subquery pools copy the caller's,
  * so a streaming query started in the block counts its trigger jobs
  * (its execution thread sets a job group of its own, which leaves this
  * property intact), while a thread that was running before the block
  * does not count. */
object Jobs {

  private val Key = "graft.jobs.ledger"
  private val DrainMs = 30000L

  /** One job. `start` and `end` are the driver's epoch milliseconds;
    * `end` is -1 when the job's end was not delivered. Stages, tasks,
    * shuffle bytes and spilled (memory + disk) bytes sum over the stage
    * attempts the job ran. */
  final case class Job(id: Int, label: String, start: Long, end: Long,
      stages: Int, tasks: Int, shuffleRead: Long, shuffleWrite: Long, spill: Long) {
    def complete: Boolean = end >= 0L
    def seconds: Double = if (complete) (end - start) / 1e3 else 0.0
  }

  /** The jobs of one timed run. `busyS` is the union of the complete
    * jobs' intervals, so overlapping jobs count once; the driver gap is
    * the wall time outside every job (planning, driver-side work). */
  final case class Summary(jobs: Int, incomplete: Int, stages: Int, tasks: Int,
      shuffleWriteMb: Double, spillMb: Double, busyS: Double, driverGapS: Double)

  def summary(jobs: Seq[Job], wallS: Double): Summary = {
    val busyMs = jobs.filter(_.complete).sortBy(_.start)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), j) =>
        // `reach`: the latest end seen; only the part past it is new
        (sum + math.max(0L, j.end - math.max(j.start, reach)), math.max(reach, j.end))
      }._1
    val mb = 1024.0 * 1024.0
    Summary(jobs.size, jobs.count(!_.complete), jobs.map(_.stages).sum,
      jobs.map(_.tasks).sum, jobs.map(_.shuffleWrite).sum / mb,
      jobs.map(_.spill).sum / mb, busyMs / 1e3, wallS - busyMs / 1e3)
  }

  /** `body`'s result and the jobs it started, in job-id order. The
    * listener bus is drained after `body` returns, so every job that
    * ended inside it is complete. */
  def of[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val ledger = new Ledger(java.util.UUID.randomUUID().toString)
    sc.addSparkListener(ledger)
    try {
      val outer = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, ledger.id)
      val out = try body finally sc.setLocalProperty(Key, outer)
      RelationBridge.drainListeners(sc, DrainMs)
      (out, ledger.jobs)
    } finally sc.removeSparkListener(ledger)
  }

  private final class Ledger(val id: String) extends SparkListener {
    private final class Rec(val label: String, val start: Long) {
      var end = -1L
      var stages = 0
      var tasks = 0
      var shuffleRead = 0L
      var shuffleWrite = 0L
      var spill = 0L
    }
    private val recs = mutable.HashMap.empty[Int, Rec]
    private val stageJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).filter(_.getProperty(Key) == id).foreach { p =>
        recs(e.jobId) = new Rec(Option(p.getProperty("spark.job.description")).getOrElse(""), e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      recs.get(e.jobId).foreach(_.end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).flatMap(recs.get).foreach { r =>
        r.stages += 1
        r.tasks += si.numTasks
        Option(si.taskMetrics).foreach { m =>
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    def jobs: Seq[Job] = synchronized {
      recs.toSeq.sortBy(_._1).map { case (jid, r) =>
        Job(jid, r.label, r.start, r.end, r.stages, r.tasks, r.shuffleRead, r.shuffleWrite, r.spill)
      }
    }
  }
}
