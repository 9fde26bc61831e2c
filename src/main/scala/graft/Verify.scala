package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (mirrors
    // Bench's SPARK_GRAFT_BENCH_ONLY; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // sweep caches so one operator's persist can't pressure the next query
      Bench.sweepCaches(spark)
      try {
        // Presentation normalization for the DuckDB compare (BASELINE.md):
        // session-TZ is UTC, so casting LTZ timestamps to NTZ keeps the
        // digits and writes tz-naive parquet like the oracle produces.
        val df = fn(spark, sfDir)
        val cols = df.schema.fields.map { f =>
          import org.apache.spark.sql.functions.col
          import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
          val c = col("`" + f.name.replace("`", "``") + "`")
          if (f.dataType == TimestampType) c.cast(TimestampNTZType).as(f.name) else c
        }
        df.select(cols.toIndexedSeq: _*).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
