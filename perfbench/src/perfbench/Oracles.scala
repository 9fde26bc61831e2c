package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Prints, as one JSON object, the repo's DuckDB oracle statements the
  * benchmark's references reuse (the fineweb recipe chain and the two
  * streaming replays), so the reference never runs through the engine. */
object Oracles {
  val names = Seq("q_curate_fineweb", "q_curate_fineweb_report", "q_stream_join",
    "q_stream_sessions")

  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    println(JsonMethods.compact(JsonMethods.render(
      JObject(names.map(n => n -> JString(all(n))).toList))))
  }
}
