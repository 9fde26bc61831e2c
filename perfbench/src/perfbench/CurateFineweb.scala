package perfbench

import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.dsl.CuratePipeline

/** Repeated `CURATE TABLE … USING '<fineweb v1 spec>'` over a seeded
  * document subset with the recipe's duplicates seeded in. The
  * operation is one CURATE statement, which materializes its output
  * through the managed catalog (a CTAS commit); the output is checked
  * and dropped untimed. The recipe's audit report, computed once per
  * run, is the warm-up: it runs every stage over the same input. */
final class CurateFineweb(ctx: Ctx) extends Workload {
  private val spec = ctx.str("curate", "spec")
  private val docs = ctx.str("curate", "docs")
  private val outSql = "SELECT source, seq_id, n_tokens, " +
    "md5(array_join(transform(input_ids, x -> CAST(x AS STRING)), ' ')) AS ids_md5 FROM "
  private var inputRows = 0L
  private var report: JValue = JNothing

  def setup(): Unit = {
    ctx.sql(s"CREATE EXTERNAL TABLE docs STORED AS parquet LOCATION '$docs'")
    inputRows = ctx.spark.table("docs").count()
  }

  def warmup(): Unit = {
    val rows = ctx.spans.span("dsl.curate_report")(
      CuratePipeline.report(ctx.spark.table("docs"), spec).collect())
    report = JArray(rows.toList.map(r =>
      JArray(List(JInt(r.getInt(0)), JString(r.getString(1)), JInt(r.getLong(2))))))
  }

  def step(i: Int): Seq[Op] = Seq(curate(s"cur_$i"))

  private def curate(name: String): Op = {
    val op = ctx.timed("curate", "fineweb_v1") {
      ctx.spans.span("sql.curate")(
        ctx.sql(s"CURATE TABLE $name FROM docs USING '${ctx.sqlEsc(spec)}'"))
      identity
    }
    if (op.err.nonEmpty) return op
    val rows = ctx.sql(outSql + name)
    ctx.spans.span("catalog.drop")(ctx.sql(s"DROP TABLE $name"))
    op.copy(checks = Seq("fineweb" -> Digest.of(rows)), rowsIn = inputRows,
      rowsOut = rows.length.toLong)
  }

  def finish(): JValue = {
    if (!ctx.spans.on) return JObject("report" -> report)
    val seed = ctx.spark.table("docs")
    val compileS = median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.spans.span("dsl.curate_compile")(CuratePipeline.compile(seed, spec))
      (System.nanoTime() - t0) / 1e9
    })
    JObject("report" -> report, "compile_s" -> JDouble(compileS),
      "stages" -> stageTimings(seed))
  }

  /** each stage timed on its own action (writing its output) over the
    * previous stage's materialized output, so one stage's time cannot
    * hide in another's */
  private def stageTimings(seed: DataFrame): JValue = {
    val stages = (JsonMethods.parse(spec) \ "stages").children
    var cur = seed
    JArray(stages.zipWithIndex.map { case (st, i) =>
      implicit val formats: Formats = DefaultFormats
      val op = (st \ "op").extract[String]
      val one = JsonMethods.compact(JsonMethods.render(JObject("stages" -> JArray(List(st)))))
      val dir = s"${ctx.work}/stage_$i"
      val t0 = System.nanoTime()
      ctx.spans.span(s"curate.stage.$op")(CuratePipeline.compile(cur, one).write.parquet(dir))
      val s = (System.nanoTime() - t0) / 1e9
      cur = ctx.spark.read.parquet(dir)
      JArray(List(JString(op), JDouble(s), JInt(cur.count())))
    })
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }
}
