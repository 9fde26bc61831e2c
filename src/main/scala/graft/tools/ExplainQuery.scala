package graft.tools

/** Plan-audit helper: print the formatted physical plan of one or more
  * SparkEntry queries (comma-separated) against a testdata dir —
  * `runMain graft.tools.ExplainQuery q_semdedup[,q_x] [sfDir]`. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_agg_pricing").split(",").map(_.trim)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"===== $name =====")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
