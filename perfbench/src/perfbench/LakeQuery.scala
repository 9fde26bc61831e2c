package perfbench

import org.json4s._

/** Beacon-style reads over a multi-file observation collection: the
  * reference harness's eight query shapes plus a JSON-DSL filter, an
  * in-place NetCDF read, UNION ALL BY NAME and a TPC-H join. The
  * operation is one query, planned and collected. */
final class LakeQuery(ctx: Ctx) extends Workload {
  import ctx.formats

  private case class Q(id: String, tpl: String, kind: String, text: String,
      prune: Seq[(String, String, Double)])

  private val queries: IndexedSeq[Q] = (ctx.plan \ "lake" \ "queries").children.map { q =>
    Q((q \ "id").extract[String], (q \ "tpl").extract[String], (q \ "kind").extract[String],
      (q \ "text").extract[String],
      (q \ "prune").children.map(c => ((c(0)).extract[String], (c(1)).extract[String],
        (c(2)).extract[Double])))
  }.toIndexedSeq
  private val order: IndexedSeq[Int] = (ctx.plan \ "lake" \ "order").extract[List[Int]].toIndexedSeq
  // the staged order is a sequence of blocks of one instance per template
  private val block = queries.map(_.tpl).distinct.length
  private val data = ctx.work
  private val testdata = ctx.str("testdata")
  var registerMs = 0.0
  var ncWriteMs = 0.0

  def setup(): Unit = {
    val t0 = System.nanoTime()
    ctx.spans.span("sources.register") {
      ctx.sql(s"CREATE EXTERNAL TABLE obs STORED AS parquet LOCATION '$data/obs/*.parquet'")
    }
    registerMs = (System.nanoTime() - t0) / 1e6
    ctx.sql(s"CREATE EXTERNAL TABLE obs_a STORED AS parquet LOCATION '$data/obs/a_*.parquet'")
    ctx.sql(s"CREATE EXTERNAL TABLE obs_b STORED AS parquet LOCATION '$data/obs/b_*.parquet'")
    // the NetCDF copies are written by the engine's own writer, so the
    // nd_netcdf reads exercise the reader on files it can decode
    val nc = s"${ctx.work}/nc"
    val t1 = System.nanoTime()
    (ctx.plan \ "lake" \ "nc_sources").extract[List[String]].zipWithIndex.foreach { case (f, i) =>
      graft.sources.netcdf.NetcdfWriter.writeFlat(ctx.spark.read.parquet(f), f"$nc/obs_$i%03d.nc")
    }
    ncWriteMs = (System.nanoTime() - t1) / 1e6
    ctx.sql(s"CREATE EXTERNAL TABLE obs_nc STORED AS netcdf LOCATION '$nc/*.nc'")
    ctx.sql(s"CREATE EXTERNAL TABLE lineitem STORED AS parquet LOCATION '$testdata/lineitem.parquet'")
    ctx.sql(s"CREATE EXTERNAL TABLE orders STORED AS parquet LOCATION '$testdata/orders.parquet'")
  }

  /** Latencies start near 2x their settled value and keep falling for
    * several passes while the JIT compiles the engine and Spark; a loop
    * that starts earlier times the JIT, not the engine. Warm-up therefore
    * runs every query instance twice from one client thread per core
    * (about 11 s, against 18-23 s from one thread), then once more in
    * the loop's own order from one thread: the loop's first block then
    * sits 8-19% above its third, against 20-30% after the concurrent
    * passes alone. */
  def warmup(): Unit = {
    Main.requireOk(Main.concurrently(ctx.int("cores"),
      (0 until 2 * order.length).map(i => () => run(queries(order(i % order.length))))))
    Main.requireOk(order.map(k => run(queries(k))))
  }

  /** a step runs the next block of the staged order, so every run times
    * whole blocks of the same template mix */
  def step(i: Int): Seq[Op] = {
    val from = i * block % order.length
    order.slice(from, from + block).map(k => run(queries(k)))
  }

  private def run(q: Q): Op = ctx.timed("query", q.tpl) {
    val df =
      if (q.kind == "json") ctx.spans.span("dsl.json_compile")(ctx.engine.jsonQuery(q.text))
      else ctx.spans.span("sql.plan")(ctx.engine.sql(q.text))
    if (ctx.spans.on) ctx.spans.span("sql.physical")(df.queryExecution.executedPlan)
    val rows = ctx.spans.span("exec.collect")(df.collect())
    op => op.copy(checks = Seq(q.id -> Digest.of(rows)), rowsOut = rows.length.toLong)
  }

  def finish(): JValue = {
    val base = JObject("register_ms" -> JDouble(registerMs), "nc_write_ms" -> JDouble(ncWriteMs))
    if (!ctx.spans.on) return base
    // the file-statistics layer: the share of the collection's files a
    // query's predicates keep, over every query instance that has one
    // statistics per schema variant: `ANALYZE FILES FOR obs` reads the
    // whole collection under one file's schema and fails on the
    // super-typed columns
    val files = (ctx.plan \ "lake" \ "obs_files").extract[List[String]]
    val statsDir = s"${ctx.work}/obs_stats"
    graft.stats.FileStats.write(files.groupBy(f => new java.io.File(f).getName.take(2)).values
      .map(graft.stats.FileStats.collect(ctx.spark, "parquet", _)).reduce(_ union _), statsDir)
    val fracs = queries.filter(_.prune.nonEmpty).map { q =>
      val conds = q.prune.map { case (c, o, v) =>
        graft.stats.FileStats.Cond(c, o, Some(v), None) }
      graft.stats.FileStats.pruneFiles(ctx.spark, statsDir, files, conds).length.toDouble /
        files.length
    }
    JObject(base.obj :+ ("files_read_frac" -> JDouble(fracs.sum / fracs.length.max(1))))
  }
}
