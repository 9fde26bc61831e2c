package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Engine statement layer + catalog lifecycle (SURVEY §2.11):
  * external tables, views, materialized views, CTAS, INSERT,
  * copy-on-write DELETE/UPDATE, REFRESH, restart restore. */
class CatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)
  lazy val wh: String = java.nio.file.Files.createTempDirectory("graft-wh").toString
  lazy val engine: GraftEngine = GraftEngine(spark, wh)
  val sf = "/root/testdata/sf0.001"

  test("CREATE EXTERNAL TABLE over a glob + query it") {
    engine.sql(s"CREATE EXTERNAL TABLE ext_nation STORED AS parquet LOCATION '$sf/nation.parquet'")
    assert(engine.sql("SELECT count(*) AS n FROM ext_nation").collect()(0).getLong(0) == 25)
  }

  test("CREATE VIEW over the external table") {
    engine.sql("CREATE VIEW big_nations AS SELECT * FROM ext_nation WHERE n_regionkey = 1")
    assert(engine.sql("SELECT count(*) AS n FROM big_nations").collect()(0).getLong(0) == 5)
  }

  test("CTAS managed table + INSERT INTO + INSERT OVERWRITE") {
    engine.sql("CREATE TABLE managed_n AS SELECT n_nationkey, n_name FROM ext_nation WHERE n_nationkey < 5")
    assert(engine.sql("SELECT count(*) FROM managed_n").collect()(0).getLong(0) == 5)
    engine.sql("INSERT INTO managed_n SELECT n_nationkey, n_name FROM ext_nation WHERE n_nationkey >= 20")
    assert(engine.sql("SELECT count(*) FROM managed_n").collect()(0).getLong(0) == 10)
    engine.sql("INSERT OVERWRITE managed_n SELECT n_nationkey, n_name FROM ext_nation WHERE n_nationkey = 0")
    assert(engine.sql("SELECT count(*) FROM managed_n").collect()(0).getLong(0) == 1)
  }

  test("DELETE keeps rows where the predicate is not true (null-safe)") {
    engine.sql("CREATE TABLE del_t AS SELECT * FROM VALUES (1, 10), (2, NULL), (3, 30) AS t(id, v)")
    val res = engine.sql("DELETE FROM del_t WHERE v > 15").collect()(0).getString(0)
    assert(res.contains("deleted 1 rows"))
    // NULL predicate row (id=2) survives — pinned copy-on-write semantics
    val kept = engine.sql("SELECT id FROM del_t ORDER BY id").collect().map(_.getInt(0))
    assert(kept.sameElements(Array(1, 2)))
  }

  test("UPDATE applies CASE-WHEN only to matching rows") {
    engine.sql("CREATE TABLE upd_t AS SELECT * FROM VALUES (1, 10.0D), (2, 20.0D) AS t(id, v)")
    engine.sql("UPDATE upd_t SET v = v * 2 WHERE id = 2")
    val rows = engine.sql("SELECT id, v FROM upd_t ORDER BY id").collect()
    assert(rows(0).getDouble(1) == 10.0)
    assert(rows(1).getDouble(1) == 40.0)
  }

  test("materialized view persists results and REFRESH recomputes") {
    engine.sql("CREATE TABLE mv_src AS SELECT * FROM VALUES (1), (2) AS t(x)")
    engine.sql("CREATE MATERIALIZED VIEW mv1 AS SELECT count(*) AS n FROM mv_src")
    assert(engine.sql("SELECT n FROM mv1").collect()(0).getLong(0) == 2)
    engine.sql("INSERT INTO mv_src SELECT 3")
    // stale until refresh (materialized!)
    assert(engine.sql("SELECT n FROM mv1").collect()(0).getLong(0) == 2)
    engine.sql("REFRESH mv1")
    assert(engine.sql("SELECT n FROM mv1").collect()(0).getLong(0) == 3)
  }

  test("SHOW GRAFT TABLES lists definitions; DROP removes them") {
    val names = engine.sql("SHOW GRAFT TABLES").collect().map(_.getString(0)).toSet
    assert(names.contains("ext_nation") && names.contains("mv1"))
    engine.sql("DROP TABLE upd_t")
    val after = engine.sql("SHOW GRAFT TABLES").collect().map(_.getString(0)).toSet
    assert(!after.contains("upd_t"))
  }

  test("SHOW GRAFT FUNCTIONS lists the engine's registered functions") {
    val names = engine.sql("SHOW GRAFT FUNCTIONS").collect().map(_.getString(0)).toSet
    // engine-registered natives + a Spark builtin through the same catalog
    for (f <- Seq("st_within_point", "try_arrow_cast", "map_vocab", "abs"))
      assert(names.contains(f), s"missing $f")
  }

  test("SHOW QUERY METRICS records completed actions and survives restart") {
    // run a query to completion so the listener fires at least once
    assert(engine.sql("SELECT count(*) AS n FROM ext_nation").collect()(0).getLong(0) == 25)
    // listener delivery is asynchronous; poll until the row lands
    var rows = engine.sql("SHOW QUERY METRICS").collect()
    val deadline = System.currentTimeMillis() + 30000
    while (rows.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      rows = engine.sql("SHOW QUERY METRICS").collect()
    }
    assert(rows.nonEmpty, "at least one recorded action")
    val r = rows.head
    assert(r.schema.fieldNames.toSeq == Seq("query_id", "finished_at", "action",
      "query", "execution_time_ms", "result_rows", "node_metrics", "observed_metrics"))
    assert(rows.exists(_.getAs[String]("action") == "collect"))
    assert(rows.forall(_.getAs[Long]("execution_time_ms") >= -1))
    assert(rows.exists(_.getAs[String]("node_metrics").contains("numOutputRows")))
    // an aggregate's own row carries its result size and per-node
    // metrics from the final AQE plan
    assert(engine.sql("SELECT n_regionkey AS metrics_probe, count(*) AS n FROM ext_nation " +
      "GROUP BY n_regionkey").collect().length == 5)
    def probe() = engine.sql("SHOW QUERY METRICS").collect()
      .find(_.getAs[String]("query").contains("metrics_probe"))
    val probeDeadline = System.currentTimeMillis() + 30000
    while (probe().isEmpty && System.currentTimeMillis() < probeDeadline) Thread.sleep(100)
    val agg = probe().getOrElse(fail("the aggregate's action was not recorded"))
    assert(agg.getAs[Long]("result_rows") == 5)
    assert(agg.getAs[String]("node_metrics") != "{}")
    // rows are files under the warehouse → a fresh engine still sees them
    val engine2 = new GraftEngine2Probe(spark, wh)
    assert(engine2.showMetrics().count() >= rows.length.toLong)
  }

  /** restart probe: read the persisted metrics with no shared state */
  private class GraftEngine2Probe(s: SparkSession, warehouse: String) {
    def showMetrics() = graft.sql.QueryMetrics.show(s, warehouse)
  }

  test("DESCRIBE STATISTICS computes per-column min/max once and caches by (size, mtime)") {
    val nc = "/root/reference/test-datasets/test_file.nc"
    val before = graft.stats.DatasetStatistics.computations.get()
    val rows = engine.sql(s"DESCRIBE STATISTICS '$nc'").collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getString(3))).toMap
    assert(rows.contains("LATITUDE") && rows.contains("TEMP"))
    val (latMin, latMax) = rows("LATITUDE")
    assert(latMin != null && latMax != null && latMin.toDouble <= latMax.toDouble)
    assert(graft.stats.DatasetStatistics.computations.get() == before + 1)
    // unchanged file → cache hit, no recomputation
    engine.sql(s"DESCRIBE STATISTICS '$nc'").collect()
    assert(graft.stats.DatasetStatistics.computations.get() == before + 1)
    // the cache view lists the file's columns as valid entries
    val cacheRows = engine.sql("SHOW STATISTICS CACHE").collect()
      .filter(_.getString(0).endsWith("test_file.nc"))
    assert(cacheRows.nonEmpty && cacheRows.forall(_.getBoolean(2)))
    // a parquet file goes through the same door
    val pq = engine.sql(s"DESCRIBE STATISTICS '$sf/nation.parquet'").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(pq("n_nationkey") == "0")
    // a DIRECTORY store (zarr) fingerprints over its files and computes
    val zarr = engine.sql(
      "DESCRIBE STATISTICS '/root/reference/test-datasets/gridded-example.zarr'")
      .collect().map(r => r.getString(0) -> (r.getString(2), r.getString(3))).toMap
    assert(zarr.contains("lat"))
    val (zmin, zmax) = zarr("lat")
    assert(zmin != null && zmax != null && zmin.toDouble < zmax.toDouble)
  }

  test("query metrics record failing actions with the error") {
    import org.apache.spark.sql.functions._
    intercept[Exception] {
      spark.range(10).select(expr("assert_true(id < 5)")).collect()
    }
    var rows = Array.empty[org.apache.spark.sql.Row]
    val deadline = System.currentTimeMillis() + 30000
    while (rows.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      rows = engine.sql("SHOW QUERY METRICS").collect()
        .filter(r => r.getAs[Long]("execution_time_ms") == -1L)
    }
    assert(rows.nonEmpty, "the failed action should be recorded with -1 duration")
  }

  test("STORED AS BBF external table registers, restores and filters") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bbf-ddl")
    val f = dir.resolve("obs.bbf")
    graft.sources.bbf.BbfStore.Writer.write(f, Seq(
      "a" -> Seq((1, "x", 11.5), (2, "y", 12.5)).toDF("id", "station", "temp"),
      "b" -> Seq((3, "z")).toDF("id", "station"))) // no temp column
    engine.sql(s"CREATE EXTERNAL TABLE bbf_obs STORED AS BBF LOCATION '$f'")
    val rows = engine.sql("SELECT id, station, temp FROM bbf_obs ORDER BY id").collect()
    assert(rows.length == 3)
    assert(rows(2).isNullAt(2), "entry b has no temp column → null")
    assert(engine.sql("SELECT count(*) AS n FROM bbf_obs WHERE temp > 12")
      .collect()(0).getLong(0) == 1L)
    engine.sql("DROP TABLE bbf_obs")
  }

  test("STORED AS JDBC federates a SQL-database table (embedded Derby)") {
    // a real external database: in-memory Derby via plain JDBC
    val url = "jdbc:derby:memory:graftfed;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    val st = c.createStatement()
    st.execute("CREATE TABLE obs (id INT, station VARCHAR(16), temp DOUBLE)")
    st.execute("INSERT INTO obs VALUES (1,'aa',11.5),(2,'bb',12.5),(3,'aa',13.0)")
    st.close(); c.close()
    engine.sql(
      "CREATE EXTERNAL TABLE fed_obs STORED AS JDBC LOCATION " +
        s"'$url' OPTIONS (dbtable 'APP.OBS')")
    // Derby surfaces uppercase identifiers; the engine is case-sensitive
    // like the reference (ident-normalization off)
    val rows = engine.sql(
      "SELECT STATION, count(*) AS n, sum(TEMP) AS t FROM fed_obs GROUP BY STATION ORDER BY STATION")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("aa", 2L, 24.5), ("bb", 1L, 12.5)))
    // predicate pushdown reaches the JDBC relation
    val plan = engine.sql("SELECT ID FROM fed_obs WHERE TEMP > 12")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("TEMP"))
    // joins against local tables work (the federation use case)
    import spark.implicits._
    Seq((1, "x"), (3, "y")).toDF("id", "tag").createOrReplaceTempView("local_tags")
    assert(engine.sql(
      "SELECT count(*) FROM fed_obs f JOIN local_tags t ON f.ID = t.id")
      .collect()(0).getLong(0) == 2)
    // persisted + restorable like every other definition
    spark.catalog.dropTempView("fed_obs")
    engine.restore()
    assert(spark.table("fed_obs").count() == 3)
  }

  test("restore() re-registers everything after a 'restart'") {
    // simulate restart: wipe temp views, then restore from persisted JSON
    spark.catalog.dropTempView("ext_nation")
    spark.catalog.dropTempView("big_nations")
    spark.catalog.dropTempView("mv1")
    val engine2 = GraftEngine(spark, wh)
    engine2.restore()
    assert(engine2.sql("SELECT count(*) FROM ext_nation").collect()(0).getLong(0) == 25)
    assert(engine2.sql("SELECT count(*) FROM big_nations").collect()(0).getLong(0) == 5)
    assert(engine2.sql("SELECT n FROM mv1").collect()(0).getLong(0) == 3)
  }

  test("engine statements fall through to Catalyst for standard SQL") {
    assert(engine.sql("SELECT 40 + 2 AS a").collect()(0).getInt(0) == 42)
    assert(engine.sql("SUMMARIZE ext_nation").collect().length == 3)
  }

  test("quoted identifiers in statements (case preserved)") {
    // session runs case-sensitive (reference: ident normalization off);
    // backtick/double-quote forms must parse and keep the exact case
    engine.sql("CREATE TABLE `QuotedCase` AS SELECT 7 AS v")
    assert(engine.sql("SELECT v FROM `QuotedCase`").collect()(0).getInt(0) == 7)
    engine.sql("""REFRESH "QuotedCase"""")
    engine.sql("""DROP TABLE `QuotedCase`""")
    val names = engine.sql("SHOW GRAFT TABLES").collect().map(_.getString(0)).toSet
    assert(!names.contains("QuotedCase"))
  }

  test("UPDATE with 'where' inside a string literal parses correctly") {
    engine.sql("CREATE TABLE upd_lit AS SELECT * FROM VALUES (1, 'a'), (2, 'b') t(id, s)")
    engine.sql("UPDATE upd_lit SET s = 'fixed where broken' WHERE id = 1")
    val rows = engine.sql("SELECT id, s FROM upd_lit ORDER BY id").collect()
    assert(rows(0).getString(1) == "fixed where broken")
    assert(rows(1).getString(1) == "b")
    // DELETE reports the removed-row count without extra scans
    val st = engine.sql("DELETE FROM upd_lit WHERE s = 'b'").collect()(0).getString(0)
    assert(st.contains("deleted 1 rows"))
    engine.sql("DROP TABLE upd_lit")
  }

  test("ANALYZE FILES + JSON-DSL stats pruning skips non-matching files") {
    import spark.implicits._
    // four files with disjoint key ranges
    val dir = java.nio.file.Files.createTempDirectory("graft-stats").toString
    (0 until 4).foreach { i =>
      (i * 100 until (i + 1) * 100).map(k => (k.toLong, s"v$k")).toDF("k", "v")
        .coalesce(1).write.parquet(s"$dir/part$i")
    }
    // a fifth file widens k to double: the collection has two schemas
    (400 until 500).map(k => (k.toDouble, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/part4")
    engine.sql(s"CREATE EXTERNAL TABLE stats_t STORED AS parquet LOCATION '$dir/part*/*.parquet'")
    val st = engine.sql("ANALYZE FILES FOR stats_t").collect()(0).getString(0)
    assert(st.contains("analyzed 5 files"))
    val reg = engine.sql("SHOW FILE STATISTICS FOR stats_t")
    assert(reg.count() == 10) // 5 files × 2 columns
    // a selective DSL query must open only the one matching file
    val statsDir = engine.catalog.statsDir("stats_t")
    val q = s"""{"select": ["k", "v"],
      "filters": [{"column": "k", "gt_eq": 250, "lt_eq": 260}],
      "from": {"parquet": {"paths": ["$dir/part*/*.parquet"], "stats": "$statsDir"}}}"""
    val df = engine.jsonQuery(q)
    assert(df.count() == 11)
    val opened = df.inputFiles.toSeq
    assert(opened.length == 1, s"expected 1 file after pruning, got ${opened.length}")
    assert(opened.head.contains("part2"))
    // unknown predicate columns / no stats → no pruning, still correct
    val qAll = s"""{"select": ["k"], "filters": [{"column": "v", "eq": "v5"}],
      "from": {"parquet": {"paths": ["$dir/part*/*.parquet"], "stats": "$statsDir"}}}"""
    assert(engine.jsonQuery(qAll).count() == 1)
    // a predicate matching NO file still resolves select/filter columns
    // against the scan schema and returns an empty result (ADVICE r2)
    val qNone = s"""{"select": ["k", "v"],
      "filters": [{"column": "k", "gt": 99999}],
      "from": {"parquet": {"paths": ["$dir/part*/*.parquet"], "stats": "$statsDir"}}}"""
    val none = engine.jsonQuery(qNone)
    assert(none.columns.toSeq == Seq("k", "v"))
    assert(none.count() == 0)
    engine.sql("DROP TABLE stats_t")
  }

  test("ALTER TABLE add/drop/rename columns (copy-on-write)") {
    engine.sql("CREATE TABLE alter_t AS SELECT * FROM VALUES (1, 'a'), (2, 'b') t(id, s)")
    engine.sql("ALTER TABLE alter_t ADD COLUMN score double")
    assert(engine.sql("SELECT score FROM alter_t").collect().forall(_.isNullAt(0)))
    engine.sql("ALTER TABLE alter_t RENAME COLUMN s TO label")
    assert(engine.sql("SELECT label FROM alter_t WHERE id = 1").collect()(0).getString(0) == "a")
    engine.sql("ALTER TABLE alter_t DROP COLUMN score")
    assert(!engine.sql("SELECT * FROM alter_t").columns.contains("score"))
    engine.sql("DROP TABLE alter_t")
  }

  test("COPY TO writes parquet/csv/netcdf and reports row counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-copy").toString
    val st = engine.sql(s"COPY (SELECT n_nationkey, n_name FROM ext_nation) TO '$dir/nat_pq' FORMAT parquet")
      .collect()(0).getString(0)
    assert(st.contains("copied 25 rows"))
    assert(spark.read.parquet(s"$dir/nat_pq").count() == 25)
    // single-file branch: the receipt must be the full row count even
    // though toLocalIterator drains the plan one partition-job at a time
    val ncSt = engine.sql(s"COPY ext_nation TO '$dir/nat.nc'").collect()(0).getString(0)
    assert(ncSt.contains("copied 25 rows"))
    assert(graft.sources.netcdf.NetcdfSource.readFile(spark, s"$dir/nat.nc").count() == 25)
  }

  test("LIST DATASETS classifies files; DESCRIBE FORMAT returns the scan schema") {
    val rows = engine.sql("LIST DATASETS '/root/reference/test-datasets'")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows.exists(_._1.endsWith("gridded-example.zarr")))
    assert(rows.values.toSet.contains("zarr"))
    assert(rows.exists { case (p, f) => p.endsWith("test_file.nc") && f == "netcdf" })
    val sch = engine.sql(
      "DESCRIBE FORMAT parquet '/root/testdata/sf0.001/nation.parquet'").collect()
    assert(sch.map(_.getString(0)).toSet == Set("n_nationkey", "n_name", "n_regionkey"))
  }

  test("RUN CRAWLER discovers and registers datasets by (dir, format)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/obs2020"))
    import spark.implicits._
    Seq((1, "x"), (2, "y")).toDF("id", "s").write.parquet(s"$dir/obs2020/data.parquet")
    val reg = engine.sql(s"RUN CRAWLER '$dir'").collect()
    assert(reg.nonEmpty)
    val names = reg.map(_.getString(0))
    assert(names.exists(_.contains("data") || names.contains("obs2020")), names.mkString(","))
    val t = names.head
    assert(engine.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) == 2)
    engine.sql(s"DROP TABLE $t")
  }

  test("CREATE/RUN/SHOW/DROP CRAWLER lifecycle with persisted definitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl2").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/sensors"))
    import spark.implicits._
    Seq((1, 2.5)).toDF("id", "v").write.parquet(s"$dir/sensors/a.parquet")
    engine.sql(s"CREATE CRAWLER cr1 ON '$dir'")
    val listed = engine.sql("SHOW CRAWLERS").collect().map(_.getString(0))
    assert(listed.contains("cr1"))
    val reg = engine.sql("RUN CRAWLER cr1").collect()
    assert(reg.nonEmpty)
    val t = reg.head.getString(0)
    assert(engine.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) == 1)
    engine.sql("DROP CRAWLER cr1")
    assert(!engine.sql("SHOW CRAWLERS").collect().map(_.getString(0)).contains("cr1"))
    engine.sql(s"DROP TABLE $t")
  }

  test("crawler WITH options: partition detection, format filter, table prefix") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl3").toString
    import spark.implicits._
    // a Hive-partitioned dataset: two date= leaves under one root
    Seq((1, "a")).toDF("id", "s").write
      .parquet(s"$dir/readings/date=2024-01-01/")
    Seq((2, "b"), (3, "c")).toDF("id", "s").write
      .parquet(s"$dir/readings/date=2024-01-02/")
    // a CSV neighbor the format filter must exclude
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/notes.csv"), "a,b\n1,2\n")
    engine.sql(s"""CREATE CRAWLER cr_opts ON '$dir' WITH
      (format_filter 'parquet', detect_partitions 'true', table_prefix 'crawl_')""")
    val reg = engine.sql("RUN CRAWLER cr_opts").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(reg.map(_._1).forall(_.startsWith("crawl_")), reg.mkString(","))
    assert(!reg.exists(_._2 == "csv"), s"csv must be filtered out: $reg")
    // the partitioned group registered ONCE, at its root, with the
    // partition column discovered and usable
    assert(reg.count(_._1 == "crawl_readings") == 1, reg.mkString(","))
    // partition discovery TYPES the column (date=… → DateType)
    val t = engine.sql(
      "SELECT CAST(date AS STRING) AS d, count(*) AS n FROM crawl_readings GROUP BY date")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(t == Map("2024-01-01" -> 1L, "2024-01-02" -> 2L))
    engine.sql("DROP CRAWLER cr_opts")
    engine.sql("DROP TABLE crawl_readings")
  }

  test("crawler discovers warc archives and cdx indexes as external tables (r12)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-warc").toString
    import spark.implicits._
    val pages = Seq(("http://c.example/1", "<p>one one one</p>"),
      ("http://c.example/2", "<p>two two two</p>")).toDF("uri", "html")
    graft.sources.WarcSource.Writer.write(pages, s"$dir/archive", "uri", "html",
      files = 1, gzip = true)
    graft.sources.CdxSource.write(graft.sources.CdxSource.index(
      graft.sources.WarcSource.read(spark, Seq(s"$dir/archive"))), s"$dir/index")
    engine.sql(s"CREATE CRAWLER cr_warc ON '$dir'")
    val reg = engine.sql("RUN CRAWLER cr_warc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(reg.get("archive").contains("warc"), reg.toString)
    assert(reg.get("index").contains("cdx"), reg.toString)
    // both registered tables are queryable through the catalog
    assert(engine.sql(
      "SELECT count(*) FROM archive WHERE warc_type = 'response'")
      .head().getLong(0) == 2)
    assert(engine.sql("SELECT count(*) FROM index").head().getLong(0) == 2)
    engine.sql("DROP CRAWLER cr_warc")
    engine.sql("DROP TABLE archive"); engine.sql("DROP TABLE index")
  }

  test("scheduled crawler: `schedule` WITH option drives background passes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-sched").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/ticks"))
    import spark.implicits._
    Seq((1, "t")).toDF("id", "s").write.parquet(s"$dir/ticks/a.parquet")
    engine.sql(s"CREATE CRAWLER cr_sched ON '$dir' WITH (schedule '1s')")
    // SHOW CRAWLERS surfaces the effective schedule
    val row = engine.sql("SHOW CRAWLERS").collect()
      .find(_.getString(0) == "cr_sched").get
    assert(row.getLong(2) == 1L, s"schedule_secs: $row")
    // first tick is consumed (manager.rs spawn_scheduled) — then the
    // timer runs discovery passes on its own
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (graft.catalog.CrawlerScheduler.completedPasses(wh, "cr_sched") < 2 &&
        System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(graft.catalog.CrawlerScheduler.completedPasses(wh, "cr_sched") >= 2,
      "expected >=2 scheduled discovery passes within 15s")
    // the scheduled passes registered the table without a manual RUN
    // (dir `ticks/a.parquet` groups by its leaf directory → table `a`)
    assert(engine.sql("SELECT count(*) FROM a").collect()(0).getLong(0) == 1)
    // manual triggers serialize with scheduled ones: hammer RUN CRAWLER
    // from several threads while the timer fires; the high-water mark of
    // concurrently executing passes must stay 1 (manager.rs run_lock)
    val threads = (1 to 4).map { _ =>
      new Thread(() => engine.sql("RUN CRAWLER cr_sched").collect())
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(graft.catalog.CrawlerScheduler.maxConcurrent(wh, "cr_sched") == 1,
      "scheduled + manual crawler runs must never overlap")
    // DROP stops the timer: passes stop advancing
    engine.sql("DROP CRAWLER cr_sched")
    val after = graft.catalog.CrawlerScheduler.completedPasses(wh, "cr_sched")
    Thread.sleep(2500)
    assert(graft.catalog.CrawlerScheduler.completedPasses(wh, "cr_sched") == after,
      "DROP CRAWLER must cancel the background trigger")
    engine.sql("DROP TABLE a")
  }

  test("event_driven crawler falls back to the default poll interval") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl-ev").toString
    // not currently event-driven: runs at the default poll interval so
    // the definition is not silently inert (manager.rs fallback)
    engine.sql(s"CREATE CRAWLER cr_ev ON '$dir' WITH (event_driven 'true')")
    val row = engine.sql("SHOW CRAWLERS").collect()
      .find(_.getString(0) == "cr_ev").get
    assert(row.getLong(2) == 900L, s"default poll interval: $row")
    // bad schedule fails the CREATE loudly
    val err = intercept[Exception](
      engine.sql(s"CREATE CRAWLER cr_bad ON '$dir' WITH (schedule 'soon')"))
    assert(err.getMessage.contains("invalid schedule"), err.getMessage)
    engine.sql("DROP CRAWLER cr_ev")
  }

  test("ODV writer round-trips through the ODV reader") {
    import spark.implicits._
    val df = Seq(
      ("c1", 42L, 3.5, java.time.LocalDateTime.of(2021, 6, 1, 12, 0)),
      ("c2", 7L, -0.25, java.time.LocalDateTime.of(2021, 6, 2, 0, 30)))
      .toDF("Cruise", "depth", "temp", "time_ISO8601")
    val path = java.nio.file.Files.createTempDirectory("graft-odv").resolve("out.txt").toString
    graft.sources.OdvWriter.write(df, path)
    val back = graft.sources.OdvSource.read(spark, Seq(path)).orderBy("Cruise").collect()
    assert(back.length == 2)
    assert(back(0).getAs[Long]("depth") == 42L)
    assert(back(0).getAs[Double]("temp") == 3.5)
    assert(back(0).getAs[java.time.LocalDateTime]("time_ISO8601") ==
      java.time.LocalDateTime.of(2021, 6, 1, 12, 0))

    // a .zip target wraps the spreadsheet in a ZIP archive (the
    // reference's ODV responses are always ZIP collections)
    val zipPath = java.nio.file.Files.createTempDirectory("graft-odvz")
      .resolve("out.zip").toString
    assert(graft.sources.OdvWriter.write(df, zipPath) == 2L)
    val zf = new java.util.zip.ZipFile(zipPath)
    try {
      val entry = zf.getEntry("data.txt")
      assert(entry != null, "zip must hold a data.txt entry")
      val head = new String(zf.getInputStream(entry).readNBytes(24),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(head.startsWith("//ODV Spreadsheet"))
    } finally zf.close()
  }

  test("JSON-DSL output clause writes the result and returns a receipt") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dslout").toString
    val receipt = engine.jsonQuery(s"""{"select": ["n_name"], "from": "ext_nation",
      "output": {"format": "csv", "path": "$dir/names"}}""").collect()(0)
    assert(receipt.getLong(1) == 25)
    assert(spark.read.option("header", "true").csv(s"$dir/names").count() == 25)
  }

  test("EXPLAIN over graft-rewritten statements returns a formatted plan") {
    val plan = engine.sql("EXPLAIN SUMMARIZE ext_nation").collect()(0).getString(0)
    assert(plan.contains("Physical Plan"))
    // native EXPLAIN still reaches Catalyst untouched
    assert(engine.sql("EXPLAIN SELECT 1").collect().nonEmpty)
  }

  test("partitioned CTAS: partition predicates prune directories before the scan") {
    engine.sql("CREATE TABLE part_orders PARTITIONED BY (o_orderpriority) AS " +
      s"SELECT o_orderkey, o_totalprice, o_orderpriority FROM parquet.`$sf/orders.parquet`")
    val pruned = engine.sql(
      "SELECT count(*) AS n FROM part_orders WHERE o_orderpriority = '1-URGENT'")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"expected partition filters, got:\n$plan")
    // behavioral pin: only the matching partition's files are touched
    import org.apache.spark.sql.functions.input_file_name
    val files = engine.sql(
      "SELECT * FROM part_orders WHERE o_orderpriority = '1-URGENT'")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("o_orderpriority=1-URGENT")))
    // INSERT INTO appends through the same partition layout — positionally
    val nBefore = engine.sql("SELECT count(*) FROM part_orders").collect()(0).getLong(0)
    engine.sql("INSERT INTO part_orders SELECT o_orderkey + 10000000, " +
      s"o_totalprice, o_orderpriority FROM parquet.`$sf/orders.parquet` LIMIT 10")
    assert(engine.sql("SELECT count(*) FROM part_orders").collect()(0).getLong(0) == nBefore + 10)
    // arity mismatches are rejected, not silently appended as mixed schemas
    val mismatch = intercept[IllegalArgumentException] {
      engine.sql("INSERT INTO part_orders SELECT o_orderkey, o_custkey, " +
        s"o_totalprice, o_orderpriority FROM parquet.`$sf/orders.parquet` LIMIT 1")
    }
    assert(mismatch.getMessage.contains("4 columns for 3"))
    // DELETE/UPDATE keep the hive layout (rewrite partitions by the same
    // cols) — inside the CURRENT commit dir now that managed tables are
    // versioned
    engine.sql("DELETE FROM part_orders WHERE o_totalprice < 1000")
    val current = graft.catalog.TableVersions.latest(wh, "part_orders")
      .getOrElse(fail("versioned table must have a manifest"))
    val dirs = graft.catalog.TableVersions.dataDirs(wh, "part_orders", current)
      .flatMap(d => new java.io.File(d).listFiles().toSeq)
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("o_orderpriority=")), "layout must survive CoW")
    assert(engine.sql("SELECT count(*) FROM part_orders").collect()(0).getLong(0) > 0)
    // partition columns are protected from destructive ALTER
    val e = intercept[IllegalArgumentException] {
      engine.sql("ALTER TABLE part_orders DROP COLUMN o_orderpriority")
    }
    assert(e.getMessage.contains("partition column"))
    engine.sql("DROP TABLE part_orders")
  }

  test("bucketed CTAS: co-bucketed join runs with no shuffle exchange") {
    engine.sql("CREATE TABLE bkt_orders CLUSTERED BY (o_custkey) INTO 8 BUCKETS AS " +
      s"SELECT * FROM parquet.`$sf/orders.parquet`")
    engine.sql("CREATE TABLE bkt_cust CLUSTERED BY (c_custkey) INTO 8 BUCKETS AS " +
      s"SELECT * FROM parquet.`$sf/customer.parquet`")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // join AND aggregate on the bucket key: the bucketed scans satisfy
      // the required distribution end-to-end, so the whole plan runs
      // with zero exchanges
      val joined = engine.sql(
        "SELECT c_custkey, count(*) AS n FROM bkt_orders JOIN bkt_cust " +
          "ON o_custkey = c_custkey GROUP BY c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle, got:\n$plan")
      assert(joined.count() > 0)
      // contrast: the same join against an unbucketed scan DOES shuffle
      val mixed = engine.sql(
        s"SELECT count(*) FROM bkt_orders JOIN parquet.`$sf/customer.parquet` " +
          "ON o_custkey = c_custkey")
      assert(mixed.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned+bucketed tables survive restart with partition values intact") {
    engine.sql("CREATE TABLE pb_t PARTITIONED BY (p) CLUSTERED BY (k) INTO 4 BUCKETS AS " +
      "SELECT * FROM VALUES (1, 'x', 'a'), (2, 'y', 'b'), (3, 'z', 'a') AS t(k, v, p)")
    // simulate restart: session-catalog entry gone, TableDef + data remain
    spark.sql("DROP TABLE IF EXISTS pb_t")
    GraftEngine(spark, wh).restore()
    // partition values live only in directory names — the restart DDL must
    // declare PARTITIONED BY or these read back as nulls over the data files
    val rows = engine.sql("SELECT k, p FROM pb_t ORDER BY k").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b"), (3, "a")))
    assert(engine.sql("SELECT count(*) FROM pb_t WHERE p = 'a'").collect()(0).getLong(0) == 2)
    engine.sql("DROP TABLE pb_t")
  }

  test("bucketed tables survive restart and reject copy-on-write rewrites") {
    // simulate restart: the session-catalog entry is gone, the persisted
    // TableDef + data remain; restore() recreates the bucketed table
    spark.sql("DROP TABLE IF EXISTS bkt_cust")
    GraftEngine(spark, wh).restore()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = engine.sql(
        "SELECT count(*) AS n FROM bkt_orders JOIN bkt_cust ON o_custkey = c_custkey")
      // the single-partition collect of count(*) is not a join shuffle
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
      assert(joined.collect()(0).getLong(0) > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // INSERT INTO appends through (and validates) the bucket spec
    val cBefore = engine.sql("SELECT count(*) FROM bkt_cust").collect()(0).getLong(0)
    engine.sql("INSERT INTO bkt_cust SELECT c_custkey + 9000000, c_name, " +
      "c_nationkey, c_acctbal, c_mktsegment FROM bkt_cust LIMIT 5")
    assert(engine.sql("SELECT count(*) FROM bkt_cust").collect()(0).getLong(0) == cBefore + 5)
    // CoW DELETE preserves the bucket layout (stage → recreate): the
    // co-bucketed join stays exchange-free afterwards
    val beforeN = engine.sql("SELECT count(*) FROM bkt_cust").collect()(0).getLong(0)
    val res = engine.sql("DELETE FROM bkt_cust WHERE c_custkey % 2 = 0")
      .collect()(0).getString(0)
    val afterN = engine.sql("SELECT count(*) FROM bkt_cust").collect()(0).getLong(0)
    assert(afterN < beforeN && res.contains(s"deleted ${beforeN - afterN} rows"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j2 = engine.sql(
        "SELECT c_custkey, count(*) AS n FROM bkt_orders JOIN bkt_cust " +
          "ON o_custkey = c_custkey GROUP BY c_custkey")
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucket layout must survive the CoW delete")
      assert(j2.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // ALTER's rewrite would drop the layout — still rejected
    val e = intercept[IllegalArgumentException] {
      engine.sql("ALTER TABLE bkt_cust DROP COLUMN c_mktsegment")
    }
    assert(e.getMessage.contains("bucket"))
    engine.sql("DROP TABLE bkt_orders")
    engine.sql("DROP TABLE bkt_cust")
  }

  test("CURATE TABLE materializes the pipeline DSL through the catalog") {
    import spark.implicits._
    Seq(
      (1L, "One good clean sentence right here.\nbad line", "web"),
      (2L, "One good clean sentence right here.\nbad line", "web"),
      (3L, "A different document with an address a@b.com in it.", "wiki"))
      .toDF("doc_id", "text", "source")
      .createOrReplaceTempView("curate_src")
    engine.sql(
      """CURATE TABLE curated FROM curate_src USING
        '{"stages": [
          {"op": "c4_clean", "require_pass": false},
          {"op": "pii_redact"},
          {"op": "dedup_exact"}]}'""")
    val rows = engine.sql("SELECT doc_id, text, source FROM curated ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // dup doc 2 deduplicated away; pii redacted; passengers survive
    assert(rows.map(_._1).toSeq == Seq(1L, 3L))
    assert(rows(1)._2 == "A different document with an address <EMAIL> in it.")
    assert(rows(1)._3 == "wiki")
    // the statement is super-user-gated like every other DDL
    assert(graft.sql.Statements.recognizes("CURATE TABLE t FROM s USING '{}'"))
    engine.sql("DROP TABLE curated")
  }

  test("SESSIONIZE statement: sessions and funnels match the operator; steps must be quoted (r12)") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = Seq(
      (1L, ts(0), 7L, "view", 1.0),
      (2L, ts(60), 7L, "click", 2.0),
      (3L, ts(7200), 7L, "purchase", 3.0)) // own session (gap 10 min)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    ev.createOrReplaceTempView("sess_src")
    val sessions = engine.sql(
      "SESSIONIZE sess_src BY user_id ON ts GAP 10 MINUTES AGG value")
      .orderBy("session_seq").collect()
    assert(sessions.length == 2)
    assert(sessions(0).getAs[Long]("n_events") == 2)
    assert(sessions(0).getAs[Double]("total_value") == 3.0)
    val fun = engine.sql("SESSIONIZE sess_src BY user_id ON ts GAP 10 MINUTES " +
      "FUNNEL event_type STEPS 'view', 'click', 'purchase'")
      .orderBy("session_seq").collect()
    // session 1 completes view→click (purchase is in session 2)
    assert(fun(0).getAs[Long]("steps_completed") == 2)
    assert(fun(1).getAs[Long]("steps_completed") == 0)
    val bad = intercept[Exception] {
      engine.sql("SESSIONIZE sess_src BY user_id ON ts GAP 10 MINUTES " +
        "FUNNEL event_type STEPS view, click")
    }
    assert(bad.getMessage.contains("quoted"))
    // a step containing a comma survives the quoted tokenizer (ADVICE
    // r12: the old raw split(",") broke it mid-token)
    val comma = engine.sql("SESSIONIZE sess_src BY user_id ON ts GAP 10 " +
      "MINUTES FUNNEL event_type STEPS 'add,to,cart', 'click'")
    assert(comma.columns.contains("step2_us") &&
      !comma.columns.contains("step3_us"),
      s"comma step split: ${comma.columns.mkString(",")}")
    // super-user-gated like every engine statement
    assert(graft.sql.Statements.recognizes(
      "SESSIONIZE t BY u ON ts GAP 5 MINUTES"))
  }

  test("CURATE TABLE materializes trainer sequences through tokenize+pack (r10)") {
    import spark.implicits._
    Seq(
      (1L, "the thread and the end"),
      (2L, "band in the sand"),
      (3L, "hand it in then")).toDF("doc_id", "text")
      .createOrReplaceTempView("curate_tok_src")
    engine.sql(
      """CURATE TABLE curated_seqs FROM curate_tok_src USING
        '{"stages": [
          {"op": "tokenize", "merges": [["t","h"],["th","e"],["a","n"],["an","d"]]},
          {"op": "pack", "seq_len": 8}]}'""")
    // the materialized table IS sequences, not documents — the
    // trainer-feed handoff persisted through the managed catalog
    val seqs = engine.sql(
      "SELECT seq_id, n_tokens, size(input_ids) AS w FROM curated_seqs ORDER BY seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(seqs.nonEmpty)
    assert(seqs.init.forall(s => s._2 == 8L && s._3 == 8),
      "all but the tail sequence are full")
    assert(seqs.map(_._1).toSeq == seqs.indices.map(_.toLong),
      "sequence ids are dense from 0")
    engine.sql("DROP TABLE curated_seqs")
  }

  test("SHOW QUERY METRICS carries a CURATE statement's per-stage row counts") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    Seq(
      (1L, "One good clean sentence right here.\nbad line", "web"),
      (2L, "One good clean sentence right here.\nbad line", "web"),
      (3L, "spam spam spam spam spam spam spam spam", "web"),
      (4L, "A different document with an address a@b.com in it.", "wiki"))
      .toDF("doc_id", "text", "source")
      .createOrReplaceTempView("curate_obs_src")
    val spec = """{"stages": [
      {"op": "c4_clean", "require_pass": false},
      {"op": "dedup_exact"},
      {"op": "repetition_filter", "max_dup_gram_frac": 0.5}]}"""
    engine.sql(s"CURATE TABLE curated_obs FROM curate_obs_src USING '$spec'")
    // every recorded action's observations, grouped by compiled frame,
    // of the frames that observe this spec's stages
    val ops = Seq("input", "c4_clean", "dedup_exact", "repetition_filter")
    val Name = """curate (\d+): (\d+) (\S+)""".r
    def frames(): Seq[Seq[(Int, String, Long)]] =
      engine.sql("SHOW QUERY METRICS").collect().toSeq
        .flatMap(r => JsonMethods.parse(r.getAs[String]("observed_metrics")) match {
          case JObject(fs) => fs.collect { case (Name(id, k, op), v) =>
            (id.toLong, (k.toInt, op, (v \ "rows") match { case JInt(n) => n.toLong; case _ => -1L }))
          }
          case _ => Nil
        })
        .groupMap(_._1)(_._2).toSeq.sortBy(_._1).map(_._2.distinct.sorted)
        .filter(_.map(_._2) == ops)
    // listener delivery is asynchronous; poll until the statement's
    // checkpoint and write rows have both landed
    val deadline = System.currentTimeMillis() + 30000
    while (frames().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    val recorded = frames().headOption.getOrElse(fail("no recorded per-stage counts"))
    val expected = graft.dsl.CuratePipeline.report(spark.table("curate_obs_src"), spec)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(expected.map(_._3) == Seq(4L, 4L, 3L, 2L))
    assert(recorded == expected)
    engine.sql("DROP TABLE curated_obs")
  }
}
