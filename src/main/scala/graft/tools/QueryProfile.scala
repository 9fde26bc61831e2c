package graft.tools

import graft.sql.Jobs

/** Optimization-round instrument (guide §1): run one or more SparkEntry
  * queries through the job ledger ([[graft.sql.Jobs]]) and print, per
  * query, the formatted physical plan and then the jobs it ran: wall
  * time, job/stage/task counts, shuffle and spill, the driver gap (wall
  * minus the union of the job intervals) and every job of 20 ms or more
  * with its label. That is the breakdown `Bench`'s single wall number
  * hides for multi-action queries (iterative connected components,
  * per-stage checkpoints, per-round training loops).
  *
  * Usage: runMain graft.tools.QueryProfile q_a[,q_b] [sfDir]
  * Env: SPARK_GRAFT_CPUS (default: the host's cores).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_agg_pricing").split(",").map(_.trim)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()

    // warmup (JIT + codegen paths) so the first profiled query is honest
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    names.foreach { name =>
      graft.Bench.sweepCaches(spark)
      val ((df, wall), jobs) = Jobs.of(spark) {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      println(s"===== $name =====")
      df.explain("formatted")
      val s = Jobs.summary(jobs, wall)
      println(f"wall=$wall%.3f s jobs=${s.jobs}%d incomplete=${s.incomplete}%d stages=${s.stages}%d tasks=${s.tasks}%d shufW=${s.shuffleWriteMb}%.1f MB spill=${s.spillMb}%.1f MB busy=${s.busyS}%.3f s gap=${s.driverGapS}%.3f s (wall - union of job intervals)")
      jobs.filter(_.seconds >= 0.02).foreach { j =>
        println(f"  job ${j.id}%3d ${j.seconds}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d shufR=${j.shuffleRead / 1024}%8d KB shufW=${j.shuffleWrite / 1024}%8d KB spill=${j.spill / 1024}%6d KB ${j.label.replace('\n', ' ').take(80)}%s")
      }
    }
    spark.stop()
  }
}
