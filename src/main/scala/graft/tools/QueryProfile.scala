package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.concurrent.TrieMap

/** Optimization-round instrument (guide §1): run one or more SparkEntry
  * queries under a listener that records EVERY job's wall time, stage
  * count, task count and shuffle bytes — the breakdown `Bench`'s single
  * wall number hides for multi-action queries (iterative connected
  * components, per-stage checkpoints, broadcast-round training loops).
  *
  * Usage: runMain graft.tools.QueryProfile q_a[,q_b] [sfDir]
  * Env: SPARK_GRAFT_CPUS (default: the host's cores).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_agg_pricing").split(",").map(_.trim)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()

    final case class JobRec(desc: String, start: Long, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0,
      var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L)
    val jobs = TrieMap.empty[Int, JobRec]
    val stageToJob = TrieMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(desc, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { r =>
          r.stages += 1
          r.tasks += si.numTasks
          r.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    })

    // warmup (JIT + codegen paths) so the first profiled query is honest
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    names.foreach { name =>
      graft.Bench.sweepCaches(spark)
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // a job whose end was not delivered has no duration: count it as
      // incomplete and keep it out of jobSum
      val (recs, incomplete) = jobs.toSeq.sortBy(_._1).partition(_._2.end > 0L)
      val jobSum = recs.map { case (_, r) => (r.end - r.start) / 1e3 }.sum
      println(f"===== $name%s wall=$wall%.3f s jobs=${recs.size + incomplete.size}%d incomplete=${incomplete.size}%d jobSum=$jobSum%.3f s (gap=${wall - jobSum}%.3f s driver/planning)")
      recs.foreach { case (id, r) =>
        val dur = (r.end - r.start) / 1e3
        if (dur >= 0.02)
          println(f"  job $id%3d ${dur}%7.3f s stages=${r.stages}%2d tasks=${r.tasks}%4d shufR=${r.shuffleRead / 1024}%8d KB shufW=${r.shuffleWrite / 1024}%8d KB ${r.desc.take(80)}%s")
      }
    }
    spark.stop()
  }
}
