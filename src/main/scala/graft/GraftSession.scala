package graft

import org.apache.spark.sql.SparkSession

/** Engine facade: one place that assembles a correctly-configured
  * SparkSession for the graft engine (the Spark-native re-expression of
  * the reference engine's runtime — see SURVEY.md §3.4; reference
  * session assembly at beacon-core/src/runtime_builder.rs:571-643).
  *
  * Scale notes (100 TB / 1000-executor design):
  *  - AQE on: runtime re-plan handles skew joins + partition coalescing,
  *    which replaces hand-tuned shuffle partition counts at scale.
  *  - Case-sensitive identifiers match the reference
  *    (enable_ident_normalization=false, runtime_builder.rs:927).
  *  - UTC session TZ so timestamp semantics are stable across the
  *    cluster and against the DuckDB oracle.
  *  - nanosAsLong: the reference stores ns timestamps (cf-decoding.md);
  *    Spark's TimestampType is µs. We read ns columns as raw longs and
  *    normalize at the table-loading layer (see [[Tables]]), keeping the
  *    vectorized parquet reader in play instead of failing the scan.
  */
object GraftSession {

  /** Mutating configs applied to an already-running session (tests /
    * driver-owned sessions where we don't control the builder). */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.caseSensitive", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.parquet.filterPushdown", "true")
    // µs parquet timestamps (default INT96 reads back as ns and breaks
    // schema comparison against the µs oracle)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // parquet field-id column resolution: only engages for requested
    // schemas that carry `parquet.field.id` metadata (Delta column
    // mapping mode `id`); plain scans are unaffected
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    // once per session: every re-registration replaces each function
    // and logs a WARN for it. A session conf marker, not "skip names
    // that exist", so graft still overrides a Spark built-in of the
    // same name.
    if (!spark.conf.getOption(FunctionsKey).contains("true")) {
      functions.GraftFunctions.registerAll(spark)
      spark.conf.set(FunctionsKey, "true")
    }
    spark
  }

  private val FunctionsKey = "graft.functions.registered"

  /** Cores of a standalone main's local session: `SPARK_GRAFT_CPUS`
    * when set, else the host's cores, so no default oversubscribes. */
  def localCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Standalone builder (local mode for the mains and tests; on a
    * cluster the master / memory knobs come from spark-submit, not from
    * here). Reliable checkpoints of a frame that is gone are deleted
    * (`cleanCheckpoints`, read only when the context is created), so
    * per-round files of the iterative operators do not pile up. */
  def build(master: String = s"local[$localCores]",
      shufflePartitions: Int = localCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }
}
