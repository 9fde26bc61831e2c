package graft.catalog

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.FileCollection
import graft.sources.io.ByteStore

/** The engine catalog: JSON-persisted table definitions over a
  * warehouse directory — the Spark re-expression of the reference's
  * persisted schema provider (table definitions as serialized JSON,
  * beacon-datafusion-ext/src/table_ext.rs; rebuild-on-restart in
  * dependency order, runtime.rs:1185-1223).
  *
  * Table kinds:
  *  - external: a [[FileCollection]] over glob paths; REFRESH re-lists
  *    files and re-infers the super-typed schema.
  *  - managed: parquet data under `<warehouse>/<name>`; CTAS / INSERT
  *    INTO / DELETE / UPDATE supported (copy-on-write, see below).
  *  - view: SQL text, re-planned on registration.
  *  - materialized view: SQL text + parquet materialization under the
  *    warehouse; REFRESH recomputes (statement_plan/materialized_view.rs).
  *
  * DELETE/UPDATE are copy-on-write rewrites of the whole table — the
  * semantics pinned by the reference (statement_plan/lower.rs:109-227):
  * DELETE keeps rows where the predicate is NOT true (null-safe), and
  * UPDATE is a CASE-WHEN projection; the rewritten data atomically
  * replaces the table directory. At cluster scale this is the same
  * full-rewrite model; partition-pruned rewrites would be the next
  * refinement.
  */
class GraftCatalog(val spark: SparkSession, val warehouse: String) {

  import GraftCatalog._

  // all metadata I/O (definitions, version manifests, stats, indexes)
  // rides the ByteStore seam — a warehouse on any Hadoop scheme
  // (`hdfs://`, `s3a://`) works end-to-end, same as the data files
  // (which Spark's own parquet reader/writer already handle by scheme)
  private val catalogDir: String = ByteStore.resolve(warehouse, "_catalog")
  ByteStore.createDirectories(catalogDir)

  // ------------------------------------------------------------ define

  def createExternalTable(
      name: String, format: String, paths: Seq[String],
      options: Map[String, String] = Map.empty): Unit = {
    val d = TableDef(name, "external", format = Some(format), paths = paths,
      options = options)
    persist(d)
    register(d)
  }

  // ---- crawler definitions (reference crawler/definition.rs):
  // persisted (name → prefix); RUN executes one discovery pass

  def createCrawler(name: String, prefix: String,
      options: Map[String, String] = Map.empty): Unit = {
    // validate the schedule BEFORE persisting, so a bad duration fails
    // the CREATE loudly instead of arming a broken timer
    CrawlerScheduler.effectiveScheduleSecs(this, options)
    persist(TableDef(name, "crawler", paths = Seq(prefix), options = options))
    CrawlerScheduler.start(this, name, options)
  }

  def crawlers(): Seq[TableDef] = tables().filter(_.kind == "crawler")

  def crawlerDef(name: String): TableDef =
    load(name).filter(_.kind == "crawler")
      .getOrElse(throw new IllegalArgumentException(s"no crawler $name"))

  // ---- ALTER TABLE (managed): copy-on-write schema evolution, the
  // same rewrite stance as DELETE/UPDATE (reference lower.rs:71-107)

  def alterAddColumn(name: String, column: String, sqlType: String): Unit = {
    requireManaged(name)
    val df = managedRead(name)
    rewrite(name, df.withColumn(column,
      lit(null).cast(org.apache.spark.sql.types.DataType.fromDDL(sqlType))), "alter")
  }

  def alterDropColumn(name: String, column: String): Unit = {
    requireManaged(name)
    require(!load(name).exists(partitionCols(_).contains(column)),
      s"cannot drop partition column $column of $name")
    val df = managedRead(name)
    require(df.columns.contains(column), s"no column $column in $name")
    rewrite(name, df.drop(column), "alter")
  }

  def alterRenameColumn(name: String, from: String, to: String): Unit = {
    requireManaged(name)
    require(!load(name).exists(partitionCols(_).contains(from)),
      s"cannot rename partition column $from of $name")
    val df = managedRead(name)
    require(df.columns.contains(from), s"no column $from in $name")
    rewrite(name, df.withColumnRenamed(from, to), "alter")
  }

  private def requireManaged(name: String): Unit = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    requireUnbucketed(name, "ALTER TABLE")
  }

  /** ANALYZE FILES: collect the per-file min/max/null registry for an
    * external table into `<warehouse>/_stats/<name>` (reference
    * file_stats.rs; internals/file-statistics.md). Queries through the
    * JSON DSL can then prune files before the scan. */
  def analyzeFiles(name: String): Long = {
    val d = definition(name).filter(_.kind == "external").getOrElse(
      throw new IllegalArgumentException(s"$name is not an external table"))
    val files = graft.sources.FileCollection.expandGlobs(spark, d.paths)
    // stat the super-typed frame the table itself reads: a plain load
    // takes one file's schema and fails on a collection of two
    val stats = graft.stats.FileStats.collectFrom(graft.sources.FileCollection.read(
      spark, d.format.getOrElse("parquet"), files, d.options))
    graft.stats.FileStats.write(stats, statsDir(name))
    files.length.toLong
  }

  def statsDir(name: String): String =
    ByteStore.resolve(ByteStore.resolve(warehouse, "_stats"), name)

  def fileStats(name: String): DataFrame =
    graft.stats.FileStats.load(spark, statsDir(name))

  // ---- secondary indexes (reference managed-tables.md §CREATE INDEX;
  // structures + pruning semantics in [[Indexes]], plan integration in
  // [[graft.plans.IndexPruneRule]])

  def createIndex(table: String, idxName: String, column: String, kind: String): Unit = {
    require(Indexes.kinds(kind),
      s"unknown index type '$kind' (btree, bitmap, inverted)")
    val d = load(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table: $table"))
    val (format, files, opts) = indexableFiles(d)
    require(files.nonEmpty, s"no files to index in $table")
    Indexes.build(spark, kind, format, files, opts, column,
      indexDataDir(table, idxName))
    persist(d.copy(options = d.options + (s"index.$idxName" -> s"$column:$kind")))
    refreshIndexRoots()
    // several catalog instances can front one warehouse (restart tests,
    // multiple engines); the acting one must own the rule registry entry
    // or the optimizer would consult a stale root map
    graft.plans.IndexPruneRule.register(this)
  }

  def dropIndex(table: String, idxName: String): Unit = {
    val d = load(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table: $table"))
    require(d.options.contains(s"index.$idxName"), s"no index $idxName on $table")
    persist(d.copy(options = d.options - s"index.$idxName"))
    ByteStore.deleteRecursively(indexDataDir(table, idxName))
    refreshIndexRoots()
    graft.plans.IndexPruneRule.register(this)
  }

  def indexes(table: String): Seq[Indexes.IndexDef] =
    load(table).toSeq.flatMap(_.options.collect {
      case (k, v) if k.startsWith("index.") =>
        val Array(c, kind) = v.split(":", 2)
        Indexes.IndexDef(k.stripPrefix("index."), c, kind)
    }).sortBy(_.name)

  def indexDataDir(table: String, idx: String): String =
    ByteStore.resolve(ByteStore.resolve(
      ByteStore.resolve(warehouse, "_indexes"), table), idx)

  /** the files an index build covers: a managed table's parquet data,
    * or an external table over a Spark-native file format */
  private def indexableFiles(d: TableDef): (String, Seq[String], Map[String, String]) =
    d.kind match {
      case "managed" =>
        require(bucketSpec(d).isEmpty && partitionCols(d).isEmpty,
          s"CREATE INDEX on bucketed/partitioned table ${d.name} is not " +
            "supported: those layouts carry their own pruning")
        // index only the CURRENT version's commit dirs — files retained
        // for time travel must not leak stale rows into index verdicts
        val dirs = TableVersions.latest(warehouse, d.name)
          .map(e => TableVersions.dataDirs(warehouse, d.name, e))
          .getOrElse(Seq(dataDir(d.name)))
        ("parquet", dirs.flatMap(listParquet), Map.empty)
      case "external" =>
        val fmt = d.format.getOrElse("parquet")
        require(Set("parquet", "csv", "json", "orc")(fmt),
          s"CREATE INDEX needs a Spark-native file format, not $fmt")
        (fmt, FileCollection.expandGlobs(spark, d.paths), d.options)
      case other =>
        throw new IllegalArgumentException(s"cannot index $other ${d.name}")
    }

  private def listParquet(dir: String): Seq[String] =
    ByteStore.walkFiles(dir).filter(_.endsWith(".parquet"))

  /** normalized scan-root → table, for the optimizer rule's O(1) miss.
    * Managed tables map by data directory; external tables map by their
    * configured paths AND the expanded per-file paths, because a
    * glob-defined external registers as a multi-root scan (one root per
    * matched file) and the rule resolves each root. */
  @volatile private var indexRoots: Map[String, String] = Map.empty

  private def refreshIndexRoots(): Unit =
    indexRoots = tables()
      .filter(_.options.keys.exists(_.startsWith("index.")))
      .flatMap { d =>
        val roots =
          if (d.kind == "managed")
            dataDir(d.name) +: TableVersions.latest(warehouse, d.name)
              .map(e => TableVersions.dataDirs(warehouse, d.name, e)).getOrElse(Seq.empty)
          else d.paths ++ (
            try FileCollection.expandGlobs(spark, d.paths)
            catch { case scala.util.control.NonFatal(_) => Seq.empty })
        roots.map(r => Indexes.norm(r) -> d.name)
      }.toMap

  def indexedTableAt(root: String): Option[String] = indexRoots.get(root)

  refreshIndexRoots() // restart path: persisted index defs prune again

  /** scoped object-store credentials (CREATE SECRET); constructing the
    * catalog re-applies persisted secrets to the session's Hadoop conf */
  val secrets = new Secrets(spark, warehouse)

  /** persisted CRS parameter rows (CREATE PERSISTENT CRS); constructing
    * the catalog re-registers them into the session's projection
    * registry */
  val crs = new CrsStore(warehouse)
  crs.loadAll()

  /** RBAC directory (CREATE USER/ROLE, GRANT/DENY/REVOKE) */
  lazy val auth = new graft.auth.AuthStore(warehouse)

  private def definition(name: String): Option[TableDef] = load(name)

  def createView(name: String, sql: String): Unit = {
    val d = TableDef(name, "view", sql = Some(sql))
    persist(d)
    register(d)
  }

  def createMaterializedView(name: String, sql: String): Unit = {
    val d = TableDef(name, "mview", sql = Some(sql))
    materialize(d)
    persist(d)
    register(d)
  }

  /** CTAS into a managed parquet table. Plain (non-bucketed) managed
    * tables are VERSIONED: the data lands in an immutable commit
    * directory and a [[TableVersions]] manifest publishes it — CTAS over
    * an existing name keeps the old versions readable via time travel. */
  def createManagedTable(name: String, data: DataFrame,
      buckets: Option[(Seq[String], Int)] = None,
      partitions: Seq[String] = Seq.empty): Unit = buckets match {
    case None =>
      // PARTITIONED managed table: hive-style directory layout inside
      // the commit dir, so a partition-column predicate prunes whole
      // directories before the scan (PartitionFilters in the plan).
      // Partition columns surface last in the read-back schema (Spark
      // partition discovery order).
      val d = TableDef(name, "managed",
        options = if (partitions.isEmpty) Map.empty
          else Map("partition_cols" -> partitions.mkString(",")))
      val replacing = TableVersions.latest(warehouse, name).isDefined
      TableVersions.withCommitDir(warehouse, name) { cdir =>
        val w = data.write.mode(SaveMode.Overwrite)
        (if (partitions.nonEmpty) w.partitionBy(partitions: _*) else w)
          .parquet(ByteStore.resolve(dataDir(name), cdir))
        TableVersions.commit(warehouse, name,
          if (replacing) "replace" else "create", Seq(cdir))
      }
      persist(d)
      register(d)
      refreshIndexRoots() // CTAS-over-existing moves the current commit dir
    case Some((cols, n)) =>
      // BUCKETED managed table: data lands hash-partitioned AND sorted
      // by the bucket columns, and the session catalog carries the
      // bucket spec — so equi-joins and aggregations between
      // co-bucketed tables run with NO shuffle exchange (the 100 TB
      // join-co-location path). Registered as a session-catalog table,
      // not a temp view: only catalog tables carry bucket metadata.
      require(cols.nonEmpty && n > 0, "CLUSTERED BY needs columns and a positive bucket count")
      TableVersions.dropAll(warehouse, name) // bucketed layout is unversioned
      val d = TableDef(name, "managed",
        options = Map("bucket_cols" -> cols.mkString(","), "bucket_n" -> n.toString))
      spark.catalog.dropTempView(name) // a temp view would shadow the table
      spark.sql(s"DROP TABLE IF EXISTS ${quote(name)}")
      val w0 = data.write.mode(SaveMode.Overwrite)
      val w = (if (partitions.nonEmpty) w0.partitionBy(partitions: _*) else w0)
        .bucketBy(n, cols.head, cols.tail: _*)
        .sortBy(cols.head, cols.tail: _*)
        .option("path", dataDir(name))
        .format("parquet")
      w.saveAsTable(name)
      persist(if (partitions.nonEmpty)
        d.copy(options = d.options + ("partition_cols" -> partitions.mkString(","))) else d)
  }

  private def partitionCols(d: TableDef): Seq[String] =
    d.options.get("partition_cols").map(_.split(",").toSeq).getOrElse(Seq.empty)

  private def bucketSpec(d: TableDef): Option[(Seq[String], Int)] =
    d.options.get("bucket_cols").map(cs =>
      (cs.split(",").toSeq, d.options("bucket_n").toInt))

  def insertInto(name: String, data: DataFrame, overwrite: Boolean = false): Unit = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    val d = load(name).get
    // INSERT is positional on EVERY managed path: align incoming column
    // names to the table's visible schema (and reject arity mismatches),
    // else an append with differently-named source expressions would land
    // a mixed-schema directory — and on the bucketed path the bucket
    // columns would resolve against generated names
    val target = spark.table(name).schema
    require(data.schema.length == target.length,
      s"INSERT INTO $name: ${data.schema.length} columns for ${target.length}")
    val aligned = data.toDF(target.fieldNames.toIndexedSeq: _*)
    bucketSpec(d) match {
      case Some((cols, n)) =>
        if (overwrite) createManagedTable(name, aligned, Some((cols, n)), partitionCols(d))
        else aligned.write.mode(SaveMode.Append)
          .bucketBy(n, cols.head, cols.tail: _*)
          .sortBy(cols.head, cols.tail: _*)
          .format("parquet")
          .saveAsTable(name) // append keeps (and validates) the bucket spec
      case None =>
        // append = new commit dir + manifest referencing old dirs + new
        // one; existing data is neither copied nor touched. Overwrite =
        // manifest referencing only the new commit (old versions stay
        // time-travel-readable until VACUUM).
        ensureVersioned(name)
        TableVersions.withCommitDir(warehouse, name) { cdir =>
          val w = aligned.write.mode(SaveMode.Overwrite)
          (if (partitionCols(d).nonEmpty) w.partitionBy(partitionCols(d): _*) else w)
            .parquet(ByteStore.resolve(dataDir(name), cdir))
          // append publishes via commitAppend so the previous dir list
          // is re-read inside the commit lock (a concurrent append
          // committed during our parquet write must not be dropped) —
          // and the session-view RE-REGISTRATION rides the same lock
          // (r17): a stale register racing a later commit's register
          // would re-point the view at its own superseded version and
          // drop the later append from every read
          TableVersions.withCommitLock {
            if (overwrite)
              TableVersions.commit(warehouse, name, "insert_overwrite", Seq(cdir))
            else
              TableVersions.commitAppend(warehouse, name, "insert", Seq(cdir))
            register(d)
          }
        }
        // the new commit dir is a new scan root; the prune rule's
        // root→table map must learn it or indexed scans stop resolving
        refreshIndexRoots()
    }
  }

  /** adopt a legacy (pre-versioning) managed data directory: move its
    * loose content into commit dir #1 and publish it as version 1 */
  private def ensureVersioned(name: String): Unit = {
    if (TableVersions.latest(warehouse, name).isDefined) return
    val dd = dataDir(name)
    if (!ByteStore.exists(dd)) return
    val entries = ByteStore.list(dd)
    TableVersions.withCommitDir(warehouse, name) { cdir =>
      val target = ByteStore.resolve(dd, cdir)
      ByteStore.createDirectories(target)
      entries.foreach(e => ByteStore.move(e,
        ByteStore.resolve(target, ByteStore.fileName(e))))
      TableVersions.commit(warehouse, name, "import", Seq(cdir))
    }
  }

  /** current-version read of a plain managed table */
  private def managedRead(name: String): DataFrame =
    TableVersions.latest(warehouse, name) match {
      case Some(e) => versionRead(name, e)
      case None => spark.read.parquet(dataDir(name))
    }

  /** read one published version. Unpartitioned commits scan as one
    * multi-root relation (one scan node); partitioned commits must scan
    * per-root and union — Spark's partition discovery refuses sibling
    * roots (CONFLICTING_DIRECTORY_STRUCTURES) — which costs nothing:
    * each branch keeps its own PartitionFilters pruning and the union
    * is a no-exchange concatenation. */
  private def versionRead(name: String, e: TableVersions.Entry): DataFrame = {
    val dirs = TableVersions.dataDirs(warehouse, name, e)
    if (load(name).exists(partitionCols(_).nonEmpty) && dirs.size > 1)
      dirs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    else spark.read.parquet(dirs: _*)
  }

  // ---- time travel over the version log (SURVEY §2 managed storage;
  // the reference's Lance versioned commits — beacon-lance/src/io.rs:207)

  def history(name: String): Seq[TableVersions.Entry] = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    TableVersions.list(warehouse, name)
  }

  /** read the table as of `version` (a published manifest not yet
    * VACUUMed away) */
  def tableAt(name: String, version: Long): DataFrame = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    val e = TableVersions.get(warehouse, name, version).getOrElse(
      throw new IllegalArgumentException(
        s"$name has no version $version (published: " +
          s"${TableVersions.list(warehouse, name).map(_.version).mkString(",")})"))
    versionRead(name, e)
  }

  /** RESTORE: publish a new version whose manifest references the
    * restored version's commit dirs — metadata-only, no data copied */
  def restoreVersion(name: String, version: Long): Unit = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    requireUnbucketed(name, "RESTORE")
    val e = TableVersions.get(warehouse, name, version).getOrElse(
      throw new IllegalArgumentException(s"$name has no version $version"))
    e.dirs.foreach { dir =>
      require(ByteStore.exists(ByteStore.resolve(dataDir(name), dir)),
        s"version $version of $name was VACUUMed (missing commit $dir)")
    }
    TableVersions.commit(warehouse, name, s"restore:v$version", e.dirs)
    register(load(name).get)
    refreshIndexRoots() // the restored dirs become the scan roots again
  }

  /** OPTIMIZE: rewrite the CURRENT version into one compacted commit —
    * the small-file compaction a long-lived table needs (every append
    * adds a commit dir; at 100 TB scan cost is dominated by file count
    * and task-schedule overhead long before data volume). Output file
    * count targets `targetBytes` per file from the current version's
    * actual bytes. With `zorder` columns, rows are range-partitioned
    * and sorted on the Morton key ([[graft.operators.ZOrder.zorderBy]])
    * so each output file's min/max stats cover a compact N-D box and
    * stats-based pruning bites on every z-ordered dimension. Published
    * as a normal version — time travel to the pre-optimize layout
    * keeps working until VACUUM. Returns (filesBefore, filesAfter). */
  def optimizeTable(name: String, zorder: Seq[String] = Seq.empty,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    requireUnbucketed(name, "OPTIMIZE")
    ensureVersioned(name)
    val e = TableVersions.latest(warehouse, name).getOrElse(
      throw new IllegalArgumentException(s"$name has no data to optimize"))
    val pcols = load(name).map(partitionCols).getOrElse(Seq.empty)
    require(zorder.isEmpty || pcols.isEmpty,
      s"OPTIMIZE ... ZORDER BY is not supported on partitioned table $name: " +
        "hive partitioning already owns the directory layout")
    val files = TableVersions.dataDirs(warehouse, name, e)
      .flatMap(listParquet)
    val before = files.size
    val bytes = files.map(ByteStore.size).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = managedRead(name)
    val data =
      if (zorder.nonEmpty) graft.operators.ZOrder.zorderBy(df, zorder, nOut)
      // partitioned: cluster rows by their hive partition so each
      // directory is written by ONE task (one file per partition dir —
      // plain repartition(n) would scatter every partition across all
      // n tasks and MULTIPLY the file count)
      else if (pcols.nonEmpty) df.repartition(nOut, pcols.map(col): _*)
      else df.repartition(nOut)
    val cdir = TableVersions.withCommitDir(warehouse, name) { cdir =>
      val w = data.write.mode(SaveMode.Overwrite)
      (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w)
        .parquet(ByteStore.resolve(dataDir(name), cdir))
      TableVersions.commit(warehouse, name,
        if (zorder.nonEmpty) s"optimize:zorder(${zorder.mkString(",")})"
        else "optimize", Seq(cdir))
      cdir
    }
    register(load(name).get)
    refreshIndexRoots()
    (before, listParquet(ByteStore.resolve(dataDir(name), cdir)).size)
  }

  /** drop manifests older than the newest `retainLast` plus their
    * now-unreferenced commit dirs; returns (versionsRemoved, dirsRemoved) */
  def vacuumTable(name: String, retainLast: Int): (Int, Int) = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    TableVersions.vacuum(warehouse, name, retainLast)
  }

  /** DELETE FROM name WHERE predicate — keeps rows where the predicate
    * is NOT true (a NULL predicate keeps the row, matching the
    * reference's keep-NOT-p filter). */
  def delete(name: String, predicateSql: String): Long = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    load(name).filter(bucketSpec(_).isDefined).foreach { d =>
      return deleteBucketed(d, predicateSql)
    }
    val df = managedRead(name)
    val kept = df.filter(!coalesce(expr(predicateSql), lit(false)))
    // removed-row count without extra scans: rows-before from parquet
    // footers (metadata-only), kept rows counted by an accumulator
    // riding the rewrite job itself
    val before = df.count() // metadata-only count: no data columns read
    // kept-row count via observe(): observation metrics are applied
    // exactly once per action (task retries / speculative attempts do
    // not double-count, unlike accumulators in transformations)
    val obs = new org.apache.spark.sql.Observation(s"graft.delete.$name")
    rewrite(name, kept.observe(obs,
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("kept")),
      "delete")
    before - obs.get("kept").asInstanceOf[Long]
  }

  /** UPDATE name SET col = expr, ... WHERE predicate — CASE-WHEN
    * projection over every row. */
  def update(name: String, assignments: Seq[(String, String)], predicateSql: Option[String]): Unit = {
    require(kindOf(name).contains("managed"), s"$name is not a managed table")
    load(name).filter(bucketSpec(_).isDefined).foreach { d =>
      updateBucketed(d, assignments, predicateSql)
      return
    }
    val df = managedRead(name)
    val pred = predicateSql.map(expr).getOrElse(lit(true))
    val byName = assignments.toMap
    val cols = df.schema.fieldNames.map { f =>
      byName.get(f) match {
        case Some(e) => when(coalesce(pred, lit(false)), expr(e).cast(df.schema(f).dataType))
          .otherwise(col(quote(f))).as(f)
        case None => col(quote(f))
      }
    }
    rewrite(name, df.select(cols.toIndexedSeq: _*), "update")
  }

  def refresh(name: String): Unit = {
    val d = load(name).getOrElse(throw new IllegalArgumentException(s"unknown table: $name"))
    if (d.kind == "mview") materialize(d)
    register(d)  // external: re-lists + re-infers; view: re-plans
  }

  def drop(name: String): Unit = {
    if (load(name).exists(_.kind == "crawler"))
      CrawlerScheduler.stop(warehouse, name) // triggers die with the definition
    val wasBucketed = load(name).exists(bucketSpec(_).isDefined)
    ByteStore.deleteIfExists(defPath(name))
    spark.catalog.dropTempView(name)
    if (wasBucketed) spark.sql(s"DROP TABLE IF EXISTS ${quote(name)}")
    ByteStore.deleteRecursively(dataDir(name))
    ByteStore.deleteRecursively(
      ByteStore.resolve(ByteStore.resolve(warehouse, "_indexes"), name))
    TableVersions.dropAll(warehouse, name) // version log dies with the table
    TableExtensions.dropAll(warehouse, name) // sidecar dies with the table
    refreshIndexRoots()
  }

  /** CoW on a BUCKETED table preserves the layout: surviving rows
    * stage to plain parquet (a bucketed table cannot overwrite the path
    * it is being read from), then the bucketed table is recreated from
    * the staging copy — layout, catalog entry and zero-shuffle joins
    * all intact afterwards. */
  private def deleteBucketed(d: TableDef, predicateSql: String): Long = {
    val df = spark.table(d.name)
    val before = df.count()
    val kept = df.filter(!coalesce(expr(predicateSql), lit(false)))
    val after = cowRecreateBucketed(d, kept)
    before - after
  }

  private def updateBucketed(d: TableDef,
      assignments: Seq[(String, String)], predicateSql: Option[String]): Unit = {
    val df = spark.table(d.name)
    val pred = predicateSql.map(expr).getOrElse(lit(true))
    val byName = assignments.toMap
    val cols = df.schema.fieldNames.map { f =>
      byName.get(f) match {
        case Some(e) => when(coalesce(pred, lit(false)), expr(e).cast(df.schema(f).dataType))
          .otherwise(col(quote(f))).as(f)
        case None => col(quote(f))
      }
    }
    cowRecreateBucketed(d, df.select(cols.toIndexedSeq: _*))
  }

  /** stage → recreate; returns the staged row count */
  private def cowRecreateBucketed(d: TableDef, data: DataFrame): Long = {
    val (cols, n) = bucketSpec(d).get
    val tmp = ByteStore.resolve(warehouse, s".${d.name}__cow")
    ByteStore.deleteRecursively(tmp)
    data.write.mode(SaveMode.Overwrite).parquet(tmp)
    val staged = spark.read.parquet(tmp)
    val count = staged.count()
    createManagedTable(d.name, staged, Some((cols, n)), partitionCols(d))
    ByteStore.deleteRecursively(tmp)
    count
  }

  /** ALTER's rewrites emit plain parquet, which would silently drop the
    * bucket layout — rejected, not guessed */
  private def requireUnbucketed(name: String, op: String): Unit =
    require(load(name).forall(bucketSpec(_).isEmpty),
      s"$op on bucketed table $name is not supported: the copy-on-write " +
        "rewrite would drop the bucket layout (recreate the table instead)")

  def tables(): Seq[TableDef] =
    ByteStore.list(catalogDir)
      .filter(_.endsWith(".json"))
      .map(p => parseDef(ByteStore.readString(p)))
      .sortBy(_.name)

  /** Restore every persisted definition into the session (dependency
    * order: data tables first, then views, then materialized views —
    * view SQL may reference the others). */
  def restore(): Unit = {
    val defs = tables()
    val order = Map("external" -> 0, "managed" -> 0, "view" -> 1, "mview" -> 2)
    defs.sortBy(d => order.getOrElse(d.kind, 3)).foreach(register)
  }

  // ----------------------------------------------------------- internal

  private def register(d: TableDef): Unit = d.kind match {
    case "external" =>
      val df = d.format.get match {
        case "arrow"           => graft.sources.ArrowSource.read(spark, d.paths)
        case "odv"             => graft.sources.OdvSource.read(spark, d.paths)
        case "warc"            => graft.sources.WarcSource.read(spark, d.paths)
        case "cdx"             => graft.sources.CdxSource.read(spark, d.paths)
        case "netcdf" | "hdf5" | "tiff" => graft.sources.netcdf.NetcdfSource.read(spark, d.paths)
        case "zarr"            => graft.sources.zarr.ZarrSource.read(spark, d.paths)
        case "bbf"             =>
          graft.sources.bbf.BbfSource.read(spark, d.paths, d.options.get("entry"))
        case "atlas"           =>
          require(d.paths.size == 1, "atlas takes exactly one store location")
          graft.sources.atlas.AtlasSource.read(spark, d.paths.head, d.options.get("dataset"))
        case "icechunk"        =>
          require(d.paths.size == 1, "icechunk takes exactly one repository location")
          graft.sources.icechunk.IcechunkSource.read(spark, d.paths.head,
            d.options.get("branch"), d.options.get("tag"), d.options.get("snapshot"))
        case "delta"           =>
          require(d.paths.size == 1, "delta takes exactly one table location")
          graft.sources.delta.DeltaSource.read(
            spark, d.paths.head, d.options.get("versionAsOf"))
        case "iceberg"         =>
          require(d.paths.size == 1, "iceberg takes exactly one table location")
          graft.sources.iceberg.IcebergSource.read(
            spark, d.paths.head, d.options.get("versionAsOf"))
        // SQL-database federation (reference beacon-sql-databases):
        // STORED AS JDBC/POSTGRES/MYSQL LOCATION '<jdbc-url>' OPTIONS
        // (dbtable 'schema.table', ...) registers a remote table through
        // Spark's JDBC source — projection/filter (and with DSv2,
        // aggregate) pushdown to the source database comes from Spark
        case "jdbc" | "postgres" | "mysql" =>
          spark.read.format("jdbc")
            .option("url", d.paths.head)
            .options(d.options.view.filterKeys(_ != "versionAsOf").toMap)
            .load()
        // a Hive-partitioned root (crawler partition detection):
        // Spark's own partition discovery surfaces the key=value
        // columns and prunes on them — FileCollection's file expansion
        // would lose both
        case fmt if d.options.get("hive_partitioned").contains("true") =>
          spark.read.format(fmt)
            .options(d.options.view.filterKeys(_ != "hive_partitioned").toMap)
            .load(d.paths: _*)
        case fmt               => FileCollection.read(spark, fmt, d.paths, d.options)
      }
      df.createOrReplaceTempView(d.name)
    case "managed" => bucketSpec(d) match {
      case None =>
        // current version = the latest manifest's commit dirs; a legacy
        // (pre-versioning) directory reads as before until first mutation
        managedRead(d.name).createOrReplaceTempView(d.name)
      case Some((cols, n)) =>
        // restart path: recreate the session-catalog entry (bucket spec
        // AND partition spec) over the existing data directory. Partition
        // values live only in the hive-style directory names, so the
        // restart DDL must declare PARTITIONED BY (else the partition
        // columns would be read as data columns over files that don't
        // contain them) and recover the partition metadata.
        spark.catalog.dropTempView(d.name)
        if (!spark.catalog.tableExists(d.name)) {
          val pcols = partitionCols(d)
          // partition discovery types the partition columns and puts
          // them last — exactly the layout the DDL needs
          val schema = spark.read.parquet(dataDir(d.name)).schema
          val partClause = if (pcols.isEmpty) ""
            else s"PARTITIONED BY (${pcols.map(quote).mkString(", ")}) "
          spark.sql(
            s"CREATE TABLE ${quote(d.name)} (${schema.toDDL}) USING PARQUET " +
              partClause +
              s"CLUSTERED BY (${cols.map(quote).mkString(", ")}) " +
              s"SORTED BY (${cols.map(quote).mkString(", ")}) INTO $n BUCKETS " +
              s"LOCATION '${dataDir(d.name)}'")
          if (pcols.nonEmpty)
            spark.sql(s"MSCK REPAIR TABLE ${quote(d.name)}")
        }
    }
    case "view" =>
      // LATE-BINDING: a SQL-defined temp view stores the PARSED plan and
      // re-analyzes per query (spark.sql.legacy.storeAnalyzedPlanForView
      // defaults false), so the view tracks source mutations — a
      // DataFrame.createOrReplaceTempView would freeze the base table's
      // file listing at registration time and serve stale rows after an
      // INSERT/DELETE/UPDATE on the base.
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${quote(d.name)} AS ${d.sql.get}")
    case "mview" =>
      spark.read.parquet(dataDir(d.name)).createOrReplaceTempView(d.name)
    case "crawler" =>
      // restart restores background triggers (manager.rs init: "Load
      // persisted crawlers and start their triggers"); unscheduled
      // definitions stay on-demand (RUN CRAWLER)
      CrawlerScheduler.start(this, d.name, d.options)
    case other => throw new IllegalStateException(s"unknown table kind $other")
  }

  private def materialize(d: TableDef): Unit =
    spark.sql(d.sql.get).write.mode(SaveMode.Overwrite).parquet(dataDir(d.name))

  /** copy-on-write commit: the rewritten data lands in a fresh commit
    * directory (a partitioned table's hive layout is preserved inside
    * it) and a new manifest publishes it — prior versions stay readable
    * via time travel until VACUUM. The manifest write is the commit
    * point: no rename of data, object-store-safe. */
  private def rewrite(name: String, data: DataFrame, operation: String): Unit = {
    ensureVersioned(name)
    val pcols = load(name).map(partitionCols).getOrElse(Seq.empty)
    TableVersions.withCommitDir(warehouse, name) { cdir =>
      val w = data.write.mode(SaveMode.Overwrite)
      (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w)
        .parquet(ByteStore.resolve(dataDir(name), cdir))
      TableVersions.commit(warehouse, name, operation, Seq(cdir))
    }
    register(load(name).get)
    refreshIndexRoots() // CoW moved the table onto a fresh commit dir
  }

  private def dataDir(name: String): String = ByteStore.resolve(warehouse, name)
  private def defPath(name: String): String =
    ByteStore.resolve(catalogDir, s"$name.json")

  private def kindOf(name: String): Option[String] = load(name).map(_.kind)

  private def load(name: String): Option[TableDef] = {
    val p = defPath(name)
    if (ByteStore.exists(p)) Some(parseDef(ByteStore.readString(p))) else None
  }

  private def persist(d: TableDef): Unit =
    ByteStore.writeString(defPath(d.name), renderDef(d))

  private def quote(n: String): String = "`" + n.replace("`", "``") + "`"
}

object GraftCatalog {

  /** A persisted table definition (≈ table_ext.rs typetag-serde JSON). */
  final case class TableDef(
      name: String,
      kind: String,                       // external | managed | view | mview
      format: Option[String] = None,
      paths: Seq[String] = Seq.empty,
      options: Map[String, String] = Map.empty,
      sql: Option[String] = None)

  private[catalog] def renderDef(d: TableDef): String = {
    val fields: List[(String, JValue)] = List(
      "name" -> JString(d.name),
      "kind" -> JString(d.kind)) ++
      d.format.map("format" -> JString(_)).toList ++
      (if (d.paths.nonEmpty) List("paths" -> JArray(d.paths.map(JString(_)).toList)) else Nil) ++
      (if (d.options.nonEmpty)
        List("options" -> JObject(d.options.map { case (k, v) => k -> (JString(v): JValue) }.toList))
      else Nil) ++
      d.sql.map("sql" -> JString(_)).toList
    JsonMethods.pretty(JsonMethods.render(JObject(fields)))
  }

  private[catalog] def parseDef(json: String): TableDef = {
    val m = JsonMethods.parse(json).asInstanceOf[JObject].obj.toMap
    def str(k: String): Option[String] = m.get(k).collect { case JString(s) => s }
    TableDef(
      name = str("name").getOrElse(throw new IllegalArgumentException("definition missing name")),
      kind = str("kind").getOrElse("external"),
      format = str("format"),
      paths = m.get("paths").collect { case JArray(xs) => xs.collect { case JString(s) => s } }
        .getOrElse(Seq.empty),
      options = m.get("options").collect {
        case JObject(o) => o.collect { case (k, JString(v)) => k -> v }.toMap
      }.getOrElse(Map.empty),
      sql = str("sql"))
  }
}
