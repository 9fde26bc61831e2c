package graft.sql

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-query metrics persistence (the reference's `query_metrics`
  * system table, beacon-core/src/query_metrics_store.rs): every action
  * that runs to completion appends one row, metrics survive a restart
  * and are queryable like any other table. Spark-native shape: a
  * [[QueryExecutionListener]] fires once per completed action with the
  * executed plan and wall time; rows append as JSON lines under
  * `<warehouse>/_query_metrics/` (driver-side file append — NOT a Spark
  * action, so recording can never record itself, the recursion the
  * reference's store dodges by bypassing `run_query`). Open-ended
  * shapes (the plan, the per-node metric tree, the action's observed
  * metrics) stay single JSON string columns for the same reason the
  * reference gives: typing them would pin the schema to engine
  * internals that change between versions.
  */
object QueryMetrics {

  private val SubDir = "_query_metrics"

  /** ONE listener per session; it records into the CURRENT warehouse —
    * the one of the most recently constructed engine. An embedded
    * process runs one engine (the reference's one-runtime-per-process
    * shape); per-warehouse listeners would accumulate one file append
    * per action per engine ever constructed in the session. */
  private val ConfKey = "graft.queryMetrics.installed"
  private val current = new java.util.concurrent.atomic.AtomicReference[String]()

  def install(spark: SparkSession, warehouse: String): Unit = synchronized {
    current.set(warehouse)
    if (spark.conf.getOption(ConfKey).contains("true")) return
    spark.conf.set(ConfKey, "true")
    spark.listenerManager.register(new Listener)
  }

  private final class Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      try Option(current.get).foreach(append(_, funcName, qe, durationNs, error = None))
      catch { case scala.util.control.NonFatal(_) => () } // metrics never fail the query
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      try Option(current.get).foreach(append(_, funcName, qe, -1L, error = Some(e.toString)))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  private def append(warehouse: String, funcName: String, qe: QueryExecution,
      durationNs: Long, error: Option[String]): Unit = {
    val remote = graft.sources.io.ByteStore.hasScheme(warehouse)
    val dir = Paths.get(warehouse, SubDir) // only dereferenced when local
    if (!remote) Files.createDirectories(dir)
    val nodes = planNodes(qe.executedPlan).map(_._1)
    // the topmost node that counts rows: the root is often a codegen or
    // AQE wrapper without a row count
    val resultRows = nodes.iterator.flatMap(_.metrics.get("numOutputRows"))
      .nextOption().map(_.value).getOrElse(-1L)
    val nodeMetrics = JObject(
      nodes.collect {
        case p if p.metrics.nonEmpty =>
          p.nodeName -> (JObject(p.metrics.toList.sortBy(_._1).map {
            case (k, m) => k -> (JLong(m.value): JValue)
          }): JValue)
      }.toList)
    // Dataset.observe metrics this action delivered, name -> values
    // (a CURATE frame's per-stage row counts, say)
    val observed = JObject(qe.observedMetrics.toList.sortBy(_._1).map { case (name, r) =>
      name -> JsonMethods.parse(r.json)
    })
    val row = JObject(List[(String, JValue)](
      "query_id" -> JString(java.util.UUID.randomUUID().toString),
      "finished_at" -> JLong(System.currentTimeMillis()),
      "action" -> JString(funcName),
      "query" -> JString(oneLine(qe.logical.toString, 2000)),
      "execution_time_ms" -> JLong(if (durationNs < 0) -1L else durationNs / 1000000L),
      "result_rows" -> JLong(resultRows),
      "node_metrics" -> JString(JsonMethods.compact(JsonMethods.render(nodeMetrics))),
      "observed_metrics" -> JString(JsonMethods.compact(JsonMethods.render(observed)))) ++
      error.map(e => "error" -> (JString(oneLine(e, 500)): JValue)).toList)
    val line = JsonMethods.compact(JsonMethods.render(row)) + "\n"
    if (remote) {
      // object stores don't append: one small immutable object per
      // recorded query (pid+seq names keep writers collision-free);
      // show() unions every .jsonl object, so the surface is unchanged
      graft.sources.io.ByteStore.writeString(
        graft.sources.io.ByteStore.resolve(
          graft.sources.io.ByteStore.resolve(warehouse, SubDir),
          s"metrics-$pidSuffix-${seq.incrementAndGet()}.jsonl"), line)
    } else {
      // one file per JVM keeps cross-process appends separate; the lock
      // serializes same-JVM listeners (two sessions on one warehouse)
      val f = dir.resolve(s"metrics-$pidSuffix.jsonl")
      appendLock.synchronized {
        Files.write(f, line.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }
  }

  /** Every node of an executed plan in pre-order, with its depth, read
    * through AQE: an [[AdaptiveSparkPlanExec]] is a leaf wrapping the
    * final plan, and each query stage wraps the plan that ran. */
  private[graft] def planNodes(plan: SparkPlan): Seq[(SparkPlan, Int)] = {
    def walk(p: SparkPlan, depth: Int): Seq[(SparkPlan, Int)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec => walk(q.plan, depth)
      case _ => (p, depth) +: p.children.flatMap(walk(_, depth + 1))
    }
    walk(plan, 0)
  }

  private val appendLock = new Object
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  private lazy val pidSuffix: String =
    java.lang.ProcessHandle.current().pid().toString

  private def oneLine(s: String, max: Int): String = {
    val t = s.replace('\n', ' ').replaceAll("\\s+", " ").trim
    if (t.length <= max) t else t.substring(0, max) + "…"
  }

  /** `SHOW QUERY METRICS`: the persisted rows, newest first */
  def show(spark: SparkSession, warehouse: String): DataFrame = {
    import spark.implicits._
    import graft.sources.io.ByteStore
    val dir = ByteStore.resolve(warehouse, SubDir)
    val rows = scala.collection.mutable.ArrayBuffer.empty[
      (String, java.sql.Timestamp, String, String, Long, Long, String, String)]
    if (ByteStore.isDirectory(dir)) {
      ByteStore.list(dir).foreach { f =>
        if (f.endsWith(".jsonl"))
          ByteStore.readString(f).split("\n", -1).foreach { line =>
            if (line.nonEmpty)
              try {
                val j = JsonMethods.parse(line)
                def s(k: String) = (j \ k) match { case JString(x) => x; case _ => "" }
                def l(k: String) = (j \ k) match {
                  case JLong(x) => x; case JInt(x) => x.toLong; case _ => -1L
                }
                rows += ((s("query_id"), new java.sql.Timestamp(l("finished_at")),
                  s("action"), s("query"), l("execution_time_ms"), l("result_rows"),
                  s("node_metrics"), s("observed_metrics")))
              } catch { case scala.util.control.NonFatal(_) => () } // skip torn lines
          }
      }
    }
    rows.sortBy(_._2.getTime)(Ordering[Long].reverse).toSeq
      .toDF("query_id", "finished_at", "action", "query",
        "execution_time_ms", "result_rows", "node_metrics", "observed_metrics")
  }
}
