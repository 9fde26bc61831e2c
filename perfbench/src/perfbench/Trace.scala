package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.json4s._

/** Spans recorded around each call into an engine layer. Kept in
  * memory and written out with the run's record. With tracing off,
  * [[span]] only runs its body. Safe to use from several client
  * threads (the warm-up runs concurrently): each thread has its own
  * span stack. */
final class Spans(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, op: Int,
      startMs: Long, durMs: Double)

  private val done = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  /** index of the first operation of the loop step in progress; -1
    * outside the timed loop */
  @volatile var op: Int = -1

  def span[A](name: String)(body: => A): A = {
    if (!on) return body
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val s = Span(id, parent, name, op, startMs, (System.nanoTime() - t0) / 1e6)
      done.synchronized(done += s)
      stack.set(stack.get.tail)
    }
  }

  def toJson: JValue = JArray(done.synchronized(done.toList).map { s =>
    JArray(List(JInt(s.id), JInt(s.parent), JString(s.name), JInt(s.op),
      JInt(s.startMs), JDouble(s.durMs)))
  })
}

/** Spark listener counts for the traced run: one record per job and
  * per stage attempt, with task totals folded into the stage. Times are
  * the Spark driver's epoch milliseconds. A job whose end was never posted
  * keeps `end = -1`; the report counts it as incomplete, never as a
  * duration. */
final class ExecListener extends SparkListener {
  final class Job(val id: Int, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final class Stage(val id: Int, val attempt: Int) {
    var tasks = 0
    var submit = -1L
    var complete = -1L
    var busyMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputRows = 0L
  }

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += new Job(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.tasks = e.stageInfo.numTasks
    s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.tasks = e.stageInfo.numTasks
    e.stageInfo.submissionTime.foreach(s.submit = _)
    s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.busyMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  def toJson: JValue = synchronized {
    JObject(
      "jobs" -> JArray(jobs.toList.map(j => JArray(List(JInt(j.id), JInt(j.start),
        JInt(j.end), JArray(j.stages.toList.map(JInt(_))))))),
      "stages" -> JArray(stages.values.toList.map(s => JArray(List(
        JInt(s.id), JInt(s.attempt), JInt(s.tasks), JInt(s.submit), JInt(s.complete),
        JInt(s.busyMs), JInt(s.gcMs), JInt(s.shuffleWrite), JInt(s.spill),
        JInt(s.inputRows))))))
  }
}
