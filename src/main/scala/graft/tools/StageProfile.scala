package graft.tools

/** Per-stage wall profile of a FineWeb recipe VARIANT (r17: the curate
  * quartet drift watch — when the v2/v3 aggregates move round-over-
  * round with unchanged plans, this prints where, stage by stage,
  * instead of leaving "composition drift" as a guess). Reuses the
  * Bench instrument ([[graft.queries.QueriesData.fineWebStageTimings]],
  * the CURATE audit: each stage timed once, on ITS OWN action that
  * materializes its output over the previous stage's checkpoint).
  *
  * Usage: runMain graft.tools.StageProfile <sfDir> <v1|v2|v3>
  * Prints one JSON line: {"variant":"v2","stages":{...},"total":N}.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProfile <sfDir> <v1|v2|v3>")
    val dir = args(0)
    val variant = args(1)
    val spark = graft.GraftSession.build()
    val ts = graft.queries.QueriesData.fineWebStageTimings(spark, dir, variant)
      .drop(1).map { case (_, op, _, t) => (op, t) } // stage 0 is the input
    val body = ts.map { case (op, t) =>
      "\"" + op + "\":" + f"$t%.3f"
    }.mkString(",")
    println(s"""{"variant":"$variant","stages":{$body},""" +
      f""""total":${ts.map(_._2).sum}%.3f}""")
    spark.stop()
  }
}
