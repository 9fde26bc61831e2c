package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.streaming.EventStreams

/** AvailableNow replays over event files staged in ts order with a fixed
  * maxFilesPerTrigger. Each step replays the files through the
  * stream-stream join and then through sessionization, both via
  * `EventStreams.runToMemorySized`. The operation is one trigger's batch
  * of files ingested by both queries: the two queries' trigger times
  * (from their progress reports) for the same batch id, added. Pairing
  * keeps every run's mix of join and sessionization triggers the same.
  * Each sink is checked against its reference. */
final class StreamIngest(ctx: Ctx) extends Workload {
  private val events = ctx.str("stream", "events")
  private val perTrigger = ctx.int("stream", "max_files_per_trigger")
  private val gapMinutes = ctx.int("stream", "gap_minutes")
  private val progress = scala.collection.mutable.ArrayBuffer.empty[JValue]

  def setup(): Unit = ()

  def warmup(): Unit = {
    Main.requireOk(step("warm", events))
    progress.clear()
  }

  def step(i: Int): Seq[Op] = step(i.toString, events)

  private def step(tag: String, dir: String): Seq[Op] = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val (joinP, joinCheck) = runQuery("join", s"join_$tag", dir)
      val (sessP, sessCheck) = runQuery("sessions", s"sessions_$tag", dir)
      val checks = Seq("join" -> joinCheck, "sessions" -> sessCheck)
      val byBatch = sessP.map(p => p.batchId -> p).toMap
      joinP.map { j =>
        val s = byBatch.get(j.batchId)
        Op("trigger", "join+sessions", java.time.Instant.parse(j.timestamp).toEpochMilli,
          triggerMs(j) + s.map(triggerMs).getOrElse(0.0), checks = checks,
          rowsIn = j.numInputRows + s.map(_.numInputRows).getOrElse(0L))
      }
    } catch {
      case e: Exception =>
        Seq(Op("trigger", "join+sessions", startMs, (System.nanoTime() - t0) / 1e6,
          err = ctx.errText(e)))
    }
  }

  private def triggerMs(p: StreamingQueryProgress): Double =
    p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  private def runQuery(kind: String, name: String,
      dir: String): (Seq[StreamingQueryProgress], Digest.Value) = {
    val spark = ctx.spark
    import spark.implicits._
    def source(): DataFrame = spark.readStream
      .schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", perTrigger.toLong)
      .parquet(dir)
    val (df, sinkCols) = kind match {
      case "join" =>
        val views = source().filter($"event_type" === "view")
          .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
        val buys = source().filter($"event_type" === "purchase")
          .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
            $"ts".as("purchase_ts"))
        (EventStreams.joinWithin(views, "view_ts", buys, "purchase_ts", "user_id", "p_user",
          within = "2 HOURS", watermark = "30 days")
          .select($"view_id", $"purchase_id", $"user_id", $"view_ts", $"purchase_ts"),
          Seq(col("view_id"), col("purchase_id"), col("user_id"), col("view_ts"),
            col("purchase_ts")))
      case _ =>
        val evs = source().select($"event_id", $"ts", $"user_id", $"event_type", $"value")
          .as[EventStreams.Event]
        (EventStreams.sessionize(evs, gapMs = gapMinutes * 60L * 1000L).toDF(),
          Seq(col("user_id"), col("session_start"), col("session_end"), col("n_events"),
            round(col("total_value"), 4).as("total_value")))
    }
    val q = ctx.spans.span(s"streaming.$kind")(
      EventStreams.runToMemorySized(spark, df, name, mode = OutputMode.Append()))
    q.stop()
    val rows = spark.table(name).select(sinkCols: _*).collect()
    spark.catalog.dropTempView(name)
    val ps = q.recentProgress.toSeq
    progress ++= ps.map(p => JsonMethods.parse(p.json))
    (ps, Digest.of(rows))
  }

  def finish(): JValue =
    if (ctx.spans.on) JObject("progress" -> JArray(progress.toList)) else JObject()
}
