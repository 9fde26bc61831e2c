package perfbench

import java.lang.management.{ManagementFactory, MemoryPoolMXBean, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import com.sun.management.GarbageCollectionNotificationInfo

import graft.GraftEngine

/** One timed operation. `checks` pairs each result digest with the name
  * of the reference it must match; `rowsIn` counts the input rows the
  * operation consumed, for rows_per_s. */
final case class Op(kind: String, tpl: String, startMs: Long, ms: Double,
    err: String = "", checks: Seq[(String, Digest.Value)] = Nil, rowsIn: Long = 0L,
    rowsOut: Long = 0L, version: Long = -1L)

/** The run's fixed context: the session, the engine over a fresh
  * warehouse, the plan staged by `perfbench/run.py`, and the spans. */
final class Ctx(val spark: SparkSession, val engine: GraftEngine, val plan: JValue,
    val warehouse: String, val work: String, val spans: Spans) {
  implicit val formats: Formats = DefaultFormats
  def str(path: String*): String = at(path).extract[String]
  def int(path: String*): Int = at(path).extract[Int]
  def at(path: Seq[String]): JValue = path.foldLeft(plan)(_ \ _)
  def sql(text: String): Array[org.apache.spark.sql.Row] = engine.sql(text).collect()
  def sqlEsc(s: String): String = s.replace("'", "''")
  def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  /** time `body`, catching its failure into the op record */
  def timed(kind: String, tpl: String)(body: => Op => Op): Op = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val finish = body
      finish(Op(kind, tpl, startMs, (System.nanoTime() - t0) / 1e6))
    } catch {
      case e: Exception =>
        Op(kind, tpl, startMs, (System.nanoTime() - t0) / 1e6, err = errText(e))
    }
  }
}

/** A workload: `setup` stages what the loop needs (timed into setup_s),
  * `warmup` runs untimed operations so JIT and caches settle, `step`
  * runs the next closed-loop operation(s), `finish` runs the untimed
  * end-of-run checks and layer probes. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def step(i: Int): Seq[Op]
  def finish(): JValue
}

object Main {
  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    implicit val formats: Formats = DefaultFormats
    val workload = (plan \ "workload").extract[String]
    val seconds = (plan \ "seconds").extract[Int]
    val trace = (plan \ "trace").extract[Int] == 1
    val cores = (plan \ "cores").extract[Int]
    val work = (plan \ "work").extract[String]
    val out = (plan \ "out").extract[String]

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val listener = if (trace) Some(new ExecListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans(trace)
    val warehouse = s"$work/warehouse"
    val tEngine = System.nanoTime()
    val engine = GraftEngine(spark, warehouse)
    val engineS = (System.nanoTime() - tEngine) / 1e9
    val ctx = new Ctx(spark, engine, plan, warehouse, work, spans)

    val w: Workload = workload match {
      case "lake_query" => new LakeQuery(ctx)
      case "curate_fineweb" => new CurateFineweb(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tSetup = System.nanoTime()
    w.setup()
    val stageS = (System.nanoTime() - tSetup) / 1e9
    val tWarm = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    val gc0 = gcMillis()
    val oldGen = new OldGenAfterGc
    val loopStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val ops = ArrayBuffer.empty[Op]
    var i = 0
    while (System.nanoTime() < deadline) {
      spans.op = ops.length
      ops ++= w.step(i)
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMillis() - gc0) / 1e3
    val (liveBytes, anyGcMaxBytes) = oldGen.stop()
    spans.op = -1
    val extra = w.finish()
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

    val record = JObject(
      "workload" -> JString(workload),
      "loop_start_ms" -> JInt(loopStartMs),
      "loop_s" -> JDouble(loopS),
      "setup" -> JObject("session_s" -> JDouble(sessionS), "engine_s" -> JDouble(engineS),
        "stage_s" -> JDouble(stageS), "warmup_s" -> JDouble(warmupS)),
      "gc_s" -> JDouble(gcS),
      "live_heap_mb" -> JDouble(liveBytes / 1048576.0),
      "old_gen_max_mb" -> JDouble(anyGcMaxBytes / 1048576.0),
      "versions" -> JObject("spark" -> JString(spark.version),
        "jdk" -> JString(System.getProperty("java.version")),
        "max_heap_mb" -> JInt(Runtime.getRuntime.maxMemory / 1048576)),
      "ops" -> JArray(ops.toList.map(opJson)),
      "extra" -> extra,
      "spans" -> spans.toJson,
      "exec" -> listener.map(_.toJson).getOrElse(JNull))
    Files.write(Paths.get(out), JsonMethods.compact(JsonMethods.render(record)).getBytes("UTF-8"))
    spark.stop()
  }

  /** run `tasks` on `threads` client threads; results in task order */
  def concurrently[A](threads: Int, tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = t()
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** a warm-up operation that fails fails the run */
  def requireOk(ops: Seq[Op]): Unit = ops.find(_.err.nonEmpty).foreach { o =>
    throw new IllegalStateException(s"warm-up ${o.kind} ${o.tpl} failed: ${o.err}")
  }

  private def opJson(o: Op): JValue = JObject(
    "kind" -> JString(o.kind), "tpl" -> JString(o.tpl),
    "start_ms" -> JInt(o.startMs), "ms" -> JDouble(o.ms), "err" -> JString(o.err),
    "checks" -> JArray(o.checks.toList.map { case (r, d) => JArray(List(JString(r), d.toJson)) }),
    "rows_in" -> JInt(o.rowsIn), "rows_out" -> JInt(o.rowsOut), "version" -> JInt(o.version))

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** Old-generation occupancy right after collections, from creation
  * until [[stop]]. Raw peak heap depends on when GC ran, so it is not
  * used. The largest occupancy after any collection in between (sampled
  * from the collectors' notifications) is kept as a layer metric only:
  * under G1 it follows promotion into an old generation that no
  * concurrent cycle collects within a run, so it spreads with GC timing
  * (IQR/median 0.22 over five seeds on curate_fineweb). The live set
  * after the full collections at [[stop]] is the steady figure. */
final class OldGenAfterGc {
  private def isOld(pool: String): Boolean = pool.contains("Old") || pool.contains("Tenured")
  private val oldPools: Seq[MemoryPoolMXBean] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && isOld(p.getName)).toSeq
  @volatile private var on = true
  private var maxBytes = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        sample(info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, usage) if isOld(pool) => usage.getUsed }.sum)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }.toSeq
  emitters.foreach(_.addNotificationListener(listener, null, null))

  private def sample(bytes: Long): Unit = synchronized { maxBytes = maxBytes.max(bytes) }

  /** stop sampling after two last full collections a second apart: the
    * first lets Spark's cleaner and non-blocking unpersists release what
    * the loop dropped, which the second collects (one collection alone
    * reads 85 or 280 MB on curate_fineweb, depending on that race).
    * Returns (the occupancy after them, the largest after any collection) */
  def stop(): (Long, Long) = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    on = false
    emitters.foreach(_.removeNotificationListener(listener))
    val live = oldPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    sample(live)
    (live, synchronized(maxBytes))
  }
}
