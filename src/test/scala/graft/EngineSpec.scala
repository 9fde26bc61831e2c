package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{SuperType, UnionByName}
import graft.dsl.JsonQuery
import graft.sources.FileCollection
import graft.sql.{GraftSql, Summarize}

/** End-to-end engine tests over a shared local session. */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)
  lazy val sf = "/root/testdata/sf0.001"
  lazy val tmp: String = java.nio.file.Files.createTempDirectory("graft-test").toString

  // ---------------------------------------------------------- union by name

  test("unionByName supercast: FIXTURES §5 heterogeneous files") {
    import spark.implicits._
    val a = Seq((1.0f, 10, 30.5)).toDF("temperature", "depth", "salinity")
    val b = Seq((2.5d, 20L)).toDF("temperature", "depth")
    val u = UnionByName(Seq(a, b))
    assert(u.schema("temperature").dataType == DoubleType)
    assert(u.schema("depth").dataType == LongType)
    assert(u.schema("salinity").dataType == DoubleType)
    val rows = u.orderBy("depth").collect()
    assert(rows.length == 2)
    assert(rows(1).isNullAt(2), "missing column NULL-fills")
    assert(rows(0).getDouble(0) == 1.0)
  }

  test("FileCollection groups conflicting schemas and supercasts") {
    import spark.implicits._
    val d1 = s"$tmp/fc/a.parquet"
    val d2 = s"$tmp/fc/b.parquet"
    Seq((1.0f, 10, 30.5)).toDF("temperature", "depth", "salinity")
      .write.mode("overwrite").parquet(d1)
    Seq((2.5d, 20L)).toDF("temperature", "depth")
      .write.mode("overwrite").parquet(d2)
    val df = FileCollection.read(spark, "parquet", Seq(s"$tmp/fc/*.parquet"))
    assert(df.schema("temperature").dataType == DoubleType)
    assert(df.schema("depth").dataType == LongType)
    assert(df.count() == 2)
    // filters must still push into both branches
    assert(df.filter(col("depth") > 15).count() == 1)
  }

  test("FileCollection single-schema fast path is one native scan") {
    val df = FileCollection.parquet(spark, s"$sf/lineitem.parquet")
    assert(df.count() == 6000)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), s"homogeneous scan must not union:\n$plan")
  }

  // ---------------------------------------------------------------- JSON DSL

  test("DSL minimum end-to-end slice (SURVEY §7.1.4)") {
    val q = s"""{"select": ["l_orderkey", "l_extendedprice"],
                 "filters": [{"column": "l_quantity", "gt": 45}],
                 "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}},
                 "limit": 10}"""
    // filter references a non-selected column; Spark resolves missing
    // attributes through the projection, so the canonical slice just works
    assert(JsonQuery.compile(spark, q).collect().length == 10)
  }

  test("DSL one-sided min/max filters (docs: min without max is valid)") {
    def n(filter: String): Long = JsonQuery.compile(spark,
      s"""{"select": ["l_orderkey"], "filters": [$filter],
           "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}}}""").count()
    val total = n("""{"column": "l_quantity", "min": 0}""")
    assert(n("""{"column": "l_quantity", "min": 45}""") ==
      n("""{"column": "l_quantity", "gt_eq": 45}"""))
    assert(n("""{"column": "l_quantity", "max": 5}""") ==
      n("""{"column": "l_quantity", "lt_eq": 5}"""))
    assert(n("""{"column": "l_quantity", "min": 45}""") < total)
    // legacy aliases low/high behave identically
    assert(n("""{"for_query_parameter": "l_quantity", "low": 45}""") ==
      n("""{"column": "l_quantity", "min": 45}"""))
    // neq aliases (docs: not_eq, not_equal)
    assert(n("""{"column": "l_linenumber", "not_eq": 1}""") ==
      n("""{"column": "l_linenumber", "neq": 1}"""))
    assert(n("""{"column": "l_linenumber", "not_equal": 1}""") ==
      n("""{"column": "l_linenumber", "neq": 1}"""))
  }

  test("DSL validate: full analysis, no execution, no file writes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-validate")
    val q = s"""{"select": ["l_orderkey", {"column": "l_quantity", "alias": "qty"}],
                 "filters": [{"column": "l_quantity", "min": 10}],
                 "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}},
                 "output": {"path": "$dir/out.csv", "format": "csv"}}"""
    val schema = JsonQuery.validate(spark, q)
    assert(schema.fieldNames.toSeq == Seq("l_orderkey", "qty"))
    // the output file was NOT written
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/out.csv")))
    // a bad column is an analysis error at validate time
    intercept[Exception] {
      JsonQuery.validate(spark,
        s"""{"select": ["no_such_column"],
             "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}}}""")
    }
    // a malformed output clause fails even though the write is skipped
    intercept[IllegalArgumentException] {
      JsonQuery.validate(spark,
        s"""{"select": ["l_orderkey"],
             "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}},
             "output": {"format": "csv"}}""")
    }
  }

  test("DSL structured output formats: geoparquet, nd_netcdf, odv object") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dslout")
    // geoparquet with explicit lon/lat role columns
    val gq = s"""{"select": [{"column": "l_quantity", "alias": "lat"},
                             {"column": "l_linenumber", "alias": "lon"},
                             "l_orderkey"],
                  "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}},
                  "limit": 50,
                  "output": {"path": "$dir/pts.parquet",
                    "format": {"geoparquet": {"longitude_column": "lon",
                                              "latitude_column": "lat"}}}}"""
    val r1 = JsonQuery.compile(spark, gq).collect()(0)
    assert(r1.getLong(1) == 50)
    assert(graft.sources.GeoParquet.read(spark, Seq(s"$dir/pts.parquet"))
      .columns.contains("geometry_wkt"))
    // r15: morton_files switches to the Z-order clustered layout —
    // file count honored, rows intact, covering columns present
    val gqm = gq.replace(s""""$dir/pts.parquet"""", s""""$dir/ptsm.parquet"""")
      .replace(""""latitude_column": "lat"""",
        """"latitude_column": "lat", "morton_files": 4""")
    assert(JsonQuery.compile(spark, gqm).collect()(0).getLong(1) == 50)
    val mParts = new java.io.File(s"$dir/ptsm.parquet")
      .listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(mParts == 4, s"morton_files=4 wrote $mParts files")
    val mBack = graft.sources.GeoParquet.read(spark, Seq(s"$dir/ptsm.parquet"))
    assert(mBack.count() == 50 && mBack.columns.contains("bbox_xmin"))
    intercept[IllegalArgumentException] {
      JsonQuery.compile(spark, gqm.replace(""""morton_files": 4""",
        """"morton_files": 0"""))
    }
    // nd_netcdf with dimension_columns
    val nd = s"""{"select": [{"column": "l_linenumber", "alias": "ln"},
                             {"column": "l_quantity", "alias": "qty"},
                             {"column": "l_extendedprice", "alias": "price"}],
                  "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}},
                  "limit": 20,
                  "output": {"path": "$dir/grid.nc",
                    "format": {"nd_netcdf": {"dimension_columns": ["ln", "qty"]}}}}"""
    assert(JsonQuery.compile(spark, nd).collect()(0).getLong(1) > 0)
    assert(graft.sources.netcdf.NetcdfSource.readFile(spark, s"$dir/grid.nc").count() > 0)
    // odv with column-role options (validated against the result schema)
    val odv = s"""{"select": [{"column": "l_orderkey", "alias": "cruise"},
                              {"column": "l_quantity", "alias": "depth"}],
                   "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}},
                   "limit": 10,
                   "output": {"path": "$dir/o.odv",
                     "format": {"odv": {"key_column": "cruise",
                       "depth_column": {"column_name": "depth"},
                       "data_columns": [{"column_name": "depth"}]}}}}"""
    assert(JsonQuery.compile(spark, odv).collect()(0).getLong(1) == 10)
    // a missing role column fails loudly
    val bad = odv.replace(""""key_column": "cruise"""", """"key_column": "nope"""")
    intercept[IllegalArgumentException](JsonQuery.compile(spark, bad).collect())
    // ipc alias routes to the arrow writer
    val ipc = s"""{"select": ["l_orderkey"], "limit": 5,
                   "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}},
                   "output": {"path": "$dir/x.arrow", "format": "ipc"}}"""
    assert(JsonQuery.compile(spark, ipc).collect()(0).getLong(1) == 5)
  }

  test("DSL select/filter/sort/limit over parquet") {
    val q = s"""{"select": ["l_orderkey", "l_quantity", "l_extendedprice"],
                 "filter": {"and": [{"column": "l_quantity", "gt": 45},
                                    {"column": "l_extendedprice", "lt": 50000}]},
                 "sort_by": [{"Desc": "l_extendedprice"}],
                 "from": {"parquet": {"paths": ["$sf/lineitem.parquet"]}},
                 "offset": 2, "limit": 5}"""
    val rows = JsonQuery.compile(spark, q).collect()
    assert(rows.length == 5)
    val prices = rows.map(_.getDouble(2))
    assert(prices.sameElements(prices.sorted.reverse))
    assert(rows.forall(_.getDouble(1) > 45))
  }

  test("DSL literal coercion: fractional bound truncates into integer column") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("depth")
    df.createOrReplaceTempView("coerce_t")
    val q = """{"select": ["depth"], "filter": {"column": "depth", "gt_eq": 1.5},
               "from": "coerce_t"}"""
    // 1.5 truncates to 1 (pinned): depth >= 1 keeps all three rows
    assert(JsonQuery.compile(spark, q).count() == 3)
  }

  test("DSL number out of range falls back to double literal") {
    import spark.implicits._
    Seq(1.toByte).toDF("b").createOrReplaceTempView("coerce_b")
    val q = """{"select": ["b"], "filter": {"column": "b", "lt": 1e18}, "from": "coerce_b"}"""
    assert(JsonQuery.compile(spark, q).count() == 1)
  }

  test("DSL and:[] is true, or:[] is false") {
    import spark.implicits._
    Seq(1, 2).toDF("x").createOrReplaceTempView("empty_comb")
    val qAnd = """{"select": ["x"], "filter": {"and": []}, "from": "empty_comb"}"""
    val qOr  = """{"select": ["x"], "filter": {"or": []}, "from": "empty_comb"}"""
    assert(JsonQuery.compile(spark, qAnd).count() == 2)
    assert(JsonQuery.compile(spark, qOr).count() == 0)
  }

  test("DSL timestamp strings become timestamp literals") {
    val q = s"""{"select": ["o_orderkey", "o_orderdate"],
                 "filter": {"column": "o_orderdate", "gt_eq": "1995-06-01T00:00:00"},
                 "from": {"parquet": {"paths": ["$sf/orders.parquet"]}}}"""
    val n = JsonQuery.compile(spark, q).count()
    assert(n > 0 && n < 1500)
  }

  test("DSL function call resolves engine + builtin functions") {
    val q = s"""{"select": [{"function": "upper", "args": ["o_orderstatus"], "alias": "s"},
                            {"function": "graft_version", "args": [], "alias": "v"}],
                 "from": {"parquet": {"paths": ["$sf/orders.parquet"]}},
                 "limit": 1}"""
    val row = JsonQuery.compile(spark, q).collect()(0)
    assert(row.getString(1) == functions.GraftFunctions.version)
  }

  test("DSL distinct-on picks first row per key under sort") {
    val q = s"""{"select": ["o_custkey", "o_orderkey", "o_totalprice"],
                 "sort_by": [{"Desc": "o_totalprice"}],
                 "distinct": {"on": ["o_custkey"],
                              "select": ["o_custkey", "o_orderkey", "o_totalprice"]},
                 "from": {"parquet": {"paths": ["$sf/orders.parquet"]}}}"""
    val rows = JsonQuery.compile(spark, q).collect()
    val custs = rows.map(_.getLong(0))
    assert(custs.distinct.length == custs.length, "one row per customer")
  }

  test("DSL geojson polygon filter") {
    import spark.implicits._
    Seq((0.5, 0.5), (5.0, 5.0), (20.0, 20.0)).toDF("lon", "lat")
      .createOrReplaceTempView("geo_t")
    val q = """{"select": ["lon", "lat"],
               "filter": {"longitude_column": "lon", "latitude_column": "lat",
                          "geometry": {"type": "Polygon",
                            "coordinates": [[[0,0],[10,0],[10,10],[0,10],[0,0]]]}},
               "from": "geo_t"}"""
    assert(JsonQuery.compile(spark, q).count() == 2)
  }

  // ------------------------------------------------------------- SQL front door

  test("SUMMARIZE over a table") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation_s")
    val rows = GraftSql.sql(spark, "SUMMARIZE nation_s").collect()
    assert(rows.length == 3) // n_nationkey, n_name, n_regionkey
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("n_nationkey").getString(2) == "0")   // min
    assert(byName("n_nationkey").getString(3) == "24")  // max
    assert(byName("n_nationkey").getLong(4) == 25)      // distinct
    assert(byName("n_name").getAs[Any]("avg") == null)  // non-numeric
    assert(rows.forall(_.getAs[Double]("null_percentage") == 0.0))
  }

  test("SUMMARIZE (query) form") {
    val rows = GraftSql.sql(spark,
      "SUMMARIZE (SELECT n_nationkey FROM nation_s WHERE n_nationkey < 10)").collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(7) == 10) // count column
  }

  test("UNION ALL BY NAME widens and null-fills across SQL") {
    import spark.implicits._
    Seq((1, 1.5f)).toDF("a", "b").createOrReplaceTempView("ubn_x")
    Seq((2L, "s")).toDF("a", "c").createOrReplaceTempView("ubn_y")
    val df = GraftSql.sql(spark,
      "SELECT a, b FROM ubn_x UNION ALL BY NAME SELECT a, c FROM ubn_y")
    assert(df.schema("a").dataType == LongType)
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(df.count() == 2)
  }

  test("plain SQL passes through to Catalyst") {
    assert(GraftSql.sql(spark, "SELECT 1 AS one").collect()(0).getInt(0) == 1)
  }

  // ------------------------------------------------------------- functions

  test("st_within_point / coalesce_label / try_arrow_cast / map_units via SQL") {
    val r = spark.sql(
      """SELECT st_within_point('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', 5.0D, 5.0D) AS in_poly,
                coalesce_label(NULL, 'a', 1, 'b') AS label,
                try_arrow_cast('12', 'Int32') AS ok_cast,
                try_arrow_cast('xx', 'Int32') AS bad_cast,
                map_units('degC', 'K', 20.0D) AS kelvin,
                pressure_to_depth_teos_10(1000.0D, 30.0D) AS depth,
                cast_int8_as_char(65L) AS ch
      """).collect()(0)
    assert(r.getBoolean(0))
    assert(r.getString(1) == "b")
    assert(r.getInt(2) == 12)
    assert(r.isNullAt(3))
    assert(math.abs(r.getDouble(4) - 293.15) < 1e-9)
    assert(math.abs(r.getDouble(5) - 990.0) < 10.0) // ~990 m at 1000 dbar
    assert(r.getString(6) == "A")
  }

  test("map_vocab resolves registered vocabulary at plan time") {
    functions.VocabRegistry.register("test_vocab", Map("SH" -> "Ship", "BU" -> "Buoy"))
    val r = spark.sql("SELECT map_vocab('test_vocab', 'SH') AS v, map_vocab('test_vocab', 'XX') AS missing")
      .collect()(0)
    assert(r.getString(0) == "Ship")
    assert(r.isNullAt(1))
  }

  test("EXPLAIN ANALYZE runs the plan and reports per-node runtime metrics") {
    import spark.implicits._
    (1L to 100L).map(i => (i, i % 7)).toDF("k", "g").createOrReplaceTempView("ea_t")
    val rows = graft.sql.GraftSql.sql(spark,
      "EXPLAIN ANALYZE SELECT g, count(*) AS n FROM ea_t WHERE k > 10 GROUP BY g")
      .collect()
    assert(rows.length > 2, "expected one row per physical node")
    assert(rows.map(_.getAs[String]("node")).exists(_.contains("Aggregate")))
    // metrics carry EXECUTED values: some aggregate node output 7 groups
    val metricRows = rows.map(_.getAs[String]("metrics"))
    assert(metricRows.exists(_.contains("numOutputRows=7")),
      s"no node recorded the 7 output groups: ${metricRows.mkString(" | ")}")
  }

  test("$1..$n bind parameters: typed binding, repeats, quote immunity, injection-proof") {
    import spark.implicits._
    (1L to 20L).map(i => (i, s"name$i")).toDF("id", "name")
      .createOrReplaceTempView("bp_t")
    // order + repeats: $2 before $1, $1 twice
    val rows = graft.sql.GraftSql.sql(spark,
      "SELECT id FROM bp_t WHERE id BETWEEN $2 AND $1 OR id = $1 ORDER BY id",
      Seq(7L, 3L)).collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(3L, 4L, 5L, 6L, 7L))
    // a literal '$1' inside quotes is data, not a marker
    assert(graft.sql.GraftSql.sql(spark,
      "SELECT count(*) FROM bp_t WHERE name = '$1' OR id = $1", Seq(5L))
      .collect()(0).getLong(0) == 1L)
    // values bind as literals — a malicious string cannot widen the query
    assert(graft.sql.GraftSql.sql(spark,
      "SELECT count(*) FROM bp_t WHERE name = $1",
      Seq("x' OR '1'='1")).collect()(0).getLong(0) == 0L)
    // out-of-range marker fails loudly
    assert(intercept[IllegalArgumentException] {
      graft.sql.GraftSql.sql(spark, "SELECT $3", Seq(1, 2))
    }.getMessage.contains("$3"))
    // an apostrophe inside a comment must not flip the in-string state
    // and swallow later markers (ADVICE r8)
    val c = graft.sql.GraftSql.sql(spark,
      "-- don't trip the tracker\nSELECT $1 AS v /* it's fine */, $2 AS w",
      Seq(7, "x")).collect()(0)
    assert(c.getInt(0) == 7 && c.getString(1) == "x")
    // and a marker-looking token inside a comment is not a marker
    assert(graft.sql.GraftSql.sql(spark,
      "SELECT $1 AS v -- $9 is commentary\n", Seq(5)).collect()(0).getInt(0) == 5)
    // a DOUBLE-quoted Spark string literal is data too: "$1" must not
    // rewrite (and "$5" must not trip the range check) — r11 review
    val dq = graft.sql.GraftSql.sql(spark,
      """SELECT count(*) FROM bp_t WHERE name = "costs $5 each" OR id = $1""",
      Seq(5L)).collect()(0).getLong(0)
    assert(dq == 1L, "a $N inside double quotes must stay literal text")
    // a BACKSLASH-escaped quote inside a literal must not flip the
    // in-string state and expose the rest of the literal to the
    // marker scanner (r11 review)
    val esc = graft.sql.GraftSql.sql(spark,
      "SELECT 'it\\'s $9 total' AS v, $1 AS w", Seq(3)).collect()(0)
    assert(esc.getString(0) == "it's $9 total" && esc.getInt(1) == 3)
  }

  test("EXPLAIN FORMAT JSON returns the optimized logical plan as JSON nodes") {
    import spark.implicits._
    (1 to 10).map(i => (i, i * 2)).toDF("a", "b").createOrReplaceTempView("ej_t")
    val plan = graft.sql.GraftSql.sql(spark,
      "EXPLAIN FORMAT JSON SELECT a, sum(b) AS s FROM ej_t WHERE a > 3 GROUP BY a")
      .collect()(0).getString(0)
    val parsed = org.json4s.jackson.JsonMethods.parse(plan)
    val classes = (parsed \\ "class").children.collect {
      case org.json4s.JString(s) => s }
    assert(classes.exists(_.contains("Aggregate")), s"no Aggregate node in: $classes")
    // local fixture folds to LocalRelation under Aggregate — ≥2 nodes total
    assert(classes.size >= 2, s"expected a multi-node plan, got: $classes")
  }

  test("ns bridge: floor-to-µs timestamp + exact sub-µs remainder, incl. pre-epoch") {
    GraftSession.configure(spark)
    import spark.implicits._
    // 2024-01-01T00:00:07.179575175 ns; a pre-epoch instant; exact µs
    Seq(1704067207179575175L, -1L, 1000L).toDF("ns").createOrReplaceTempView("ns_fix")
    val byNs = spark.sql(
      """SELECT ns, CAST(ns_to_timestamp(ns) AS STRING) AS ts, ns_submicros(ns) AS sub
         FROM ns_fix""").collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(byNs(1704067207179575175L) == ("2024-01-01 00:00:07.179575", 175L))
    // floor semantics: -1 ns lies in the µs AT -1µs with 999ns remainder
    assert(byNs(-1L) == ("1969-12-31 23:59:59.999999", 999L))
    assert(byNs(1000L) == ("1970-01-01 00:00:00.000001", 0L))
    // round-trip identity: µs*1000 + sub == ns, for every fixture value
    assert(spark.sql(
      """SELECT count(*) FROM ns_fix
         WHERE unix_micros(ns_to_timestamp(ns)) * 1000 + ns_submicros(ns) != ns""")
      .collect()(0).getLong(0) == 0L)
  }

  test("curate sign_hash stage: packs signs, dedups identical docs, wide vector is loud") {
    import spark.implicits._
    import graft.dsl.CuratePipeline
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon common words here today"),
      (2L, "alpha beta gamma delta epsilon common words here today"), // exact twin
      (3L, "completely different content about other topics entirely now"))
      .toDF("doc_id", "text")
    val out = CuratePipeline.compile(docs,
      """{"stages": [
        {"op": "embed_text", "salt": "s1", "dim": 64},
        {"op": "sign_hash", "vec_col": "embedding"},
        {"op": "hash_neardup", "hash_col": "sign_hash", "max_dist": 0}
      ]}""").select($"doc_id", $"sign_hash").orderBy("doc_id").collect()
    // identical docs share the hash → cluster keeps the min id
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // the packed hash equals the sign bits of the embedding directly
    val direct = docs.filter($"doc_id" === 1L)
      .select(graft.functions.VectorExprs.bit_sign(
        graft.functions.TextExprs.embed_text($"text", "s1", 64)))
      .collect()(0).getSeq[Long](0)
    assert(out(0).getLong(1) == direct.head)
    // > 64 dims cannot pack into one word — loud, not truncated
    val e = intercept[Exception] {
      CuratePipeline.compile(docs,
        """{"stages": [
          {"op": "embed_text", "salt": "s1", "dim": 128},
          {"op": "sign_hash", "vec_col": "embedding"}
        ]}""").collect()
    }
    assert(e.getMessage.contains("1..64"), e.getMessage)
  }

  test("curate semdedup model_path: a reloaded codebook reproduces the in-pipeline training") {
    import spark.implicits._
    import graft.dsl.CuratePipeline
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text").limit(60)
    val inline = CuratePipeline.compile(docs,
      """{"stages": [
        {"op": "embed_text", "salt": "mp1", "dim": 16},
        {"op": "semdedup", "vec_col": "embedding", "k": 4, "iters": 3, "tau": 0.9}
      ]}""").select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // write the SAME replayable training as an artifact, reload by path
    val emb = CuratePipeline.compile(docs,
      """{"stages": [{"op": "embed_text", "salt": "mp1", "dim": 16}]}""")
    val m = graft.operators.IvfIndex.trainReplayable(emb, "doc_id", "embedding", k = 4, iters = 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-mp").toString
    graft.operators.IvfIndex.writeModel(m, s"$tmp/cells.txt")
    val loaded = CuratePipeline.compile(docs,
      s"""{"stages": [
        {"op": "embed_text", "salt": "mp1", "dim": 16},
        {"op": "semdedup", "vec_col": "embedding", "tau": 0.9,
         "model_path": "$tmp/cells.txt"}
      ]}""").select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(loaded == inline)
    assert(loaded.nonEmpty && loaded.size < 60, "the slice must actually dedup")
  }

  test("curate hash_neardup: null hashes all survive — unknown is not equal") {
    import spark.implicits._
    import graft.dsl.CuratePipeline
    // ids 1/2 share a hash (dup group, keep min); 3/4/5 have NO hash —
    // null must never band or collapse, so all three survive
    val df = Seq(
      (1L, Some(42L)), (2L, Some(42L)),
      (3L, None: Option[Long]), (4L, None: Option[Long]), (5L, None: Option[Long]),
      (6L, Some(7L))).toDF("doc_id", "h")
      .withColumn("text", concat(lit("doc "), $"doc_id"))
    val kept = CuratePipeline.compile(df,
      """{"stages": [{"op": "hash_neardup", "hash_col": "h", "max_dist": 0}]}""")
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("curate pipeline DSL: stages compose in order and preserve passengers") {
    import spark.implicits._
    import graft.dsl.CuratePipeline
    val docs = Seq(
      (1L, "Good line number one stays.\nbad line\nMail a@b.com please today.", "web"),
      (2L, "Good line number one stays.\nbad line\nMail a@b.com please today.", "web"),
      (3L, "Another document entirely here.", "wiki")).toDF("doc_id", "text", "source")
    val out = CuratePipeline.compile(docs,
      """{"stages": [
        {"op": "c4_clean", "require_pass": false},
        {"op": "normalize"},
        {"op": "pii_redact"},
        {"op": "dedup_exact"},
        {"op": "cap_per_group", "group": "source", "salt": "s1", "cap": 5}
      ]}""").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // docs 1 and 2 are byte-identical after cleaning → dedup keeps 1;
    // the source passenger column survives every stage
    assert(out.map(_._1).toSeq == Seq(1L, 3L))
    assert(out(0)._3 == "web" && out(1)._3 == "wiki")
    // c4 dropped 'bad line', normalize collapsed the newline, pii
    // redacted the address
    assert(out(0)._2 ==
      "Good line number one stays. Mail <EMAIL> please today.")
    // require_pass gates short docs out entirely
    assert(CuratePipeline.compile(docs,
      """{"stages": [{"op": "c4_clean"}]}""").count() == 0,
      "3 sentences < 5 → every doc fails the C4 doc gate")
    // unknown op raises the DSL error
    val e = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(docs, """{"stages": [{"op": "nope"}]}""")
    }
    assert(e.getMessage.contains("unknown curate op"))
    // gopher_filter stage: the word-count rule gates the short docs out
    val long = ("the quick brown fox jumps over the lazy dog and then " * 5).trim
    val mixed = Seq((1L, long), (2L, "too short of a doc")).toDF("doc_id", "text")
    val kept = CuratePipeline.compile(mixed,
      """{"stages": [{"op": "gopher_filter", "min_words": 20}]}""")
      .collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L))
  }

  test("curate quantile_filter: sampled threshold gates by percentile, above/below, loud on bad q (r12)") {
    import spark.implicits._
    import graft.dsl.CuratePipeline
    // values 0..99; rate 100% makes the sampled threshold the exact
    // type-1 percentile, so the cut is verifiable in closed form
    val docs = (0 until 100).map(i => (i.toLong, s"doc $i", i.toLong))
      .toDF("doc_id", "text", "len")
    val above = CuratePipeline.compile(docs,
      """{"stages": [{"op": "quantile_filter", "column": "len",
           "q": 0.25, "rate_per_m": 1000000}]}""")
      .collect().map(_.getLong(2)).sorted.toSeq
    // 25th percentile of 0..99 at rank ceil(0.25·100)=25 → value 24
    assert(above == (24L to 99L), s"above cut wrong: ${above.take(3)}…")
    val below = CuratePipeline.compile(docs,
      """{"stages": [{"op": "quantile_filter", "column": "len",
           "q": 0.9, "keep": "below", "rate_per_m": 1000000}]}""")
      .collect().map(_.getLong(2)).sorted.toSeq
    // 90th percentile at rank 90 → value 89; keep ≤ 89
    assert(below == (0L to 89L), s"below cut wrong: ${below.takeRight(3)}")
    val e = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(docs,
        """{"stages": [{"op": "quantile_filter", "column": "len", "q": 1.5}]}""")
    }
    assert(e.getMessage.contains("'q'"))
    val e2 = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(docs,
        """{"stages": [{"op": "quantile_filter", "column": "len",
             "q": 0.5, "keep": "sideways"}]}""")
    }
    assert(e2.getMessage.contains("above|below"))
    // an EMPTY md5 sample (tiny corpus × rate 1/1M) must raise loudly,
    // never silently drop the whole corpus (ADVICE r12)
    val e3 = intercept[Exception] {
      CuratePipeline.compile(docs,
        """{"stages": [{"op": "quantile_filter", "column": "len",
             "q": 0.5, "rate_per_m": 1}]}""").collect()
    }
    assert(e3.getMessage.contains("empty sample"), s"got ${e3.getMessage}")
  }

  test("curate tokenize algo=wordpiece: greedy ids feed pack; bad algo/pieces are loud (r12)") {
    import spark.implicits._
    import graft.dsl.CuratePipeline
    val docs = Seq((1L, "the theater"), (2L, "in and out"))
      .toDF("doc_id", "text")
    val out = CuratePipeline.compile(docs,
      """{"stages": [{"op": "tokenize", "algo": "wordpiece",
           "pieces": ["the", "at", "er", "in", "and"]}]}""")
      .orderBy("doc_id").collect()
    // chars of the corpus rank 0..C-1; 'the' = id C, 'at' = C+1, …
    // doc 1: the | the at er → 4 pieces; doc 2: in | and | o u t → 5
    assert(out(0).getAs[Long]("n_wp_tokens") == 4L)
    assert(out(1).getAs[Long]("n_wp_tokens") == 5L)
    val ids1 = out(0).getSeq[Long](out(0).fieldIndex("token_ids"))
    assert(ids1.length == 4 && ids1(0) == ids1(1), s"both 'the' share one id: $ids1")
    assert(!ids1.contains(-1L), "every piece/char must be in-vocab")
    val e = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(docs,
        """{"stages": [{"op": "tokenize", "algo": "wordpiece"}]}""")
    }
    assert(e.getMessage.contains("pieces"))
    val e2 = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(docs,
        """{"stages": [{"op": "tokenize", "algo": "sentencepiece"}]}""")
    }
    assert(e2.getMessage.contains("unknown algo"))
  }

  test("curate DSL v2 stages: dedup/decontaminate/quality/sampling compose") {
    import spark.implicits._
    import graft.dsl.CuratePipeline
    // dedup_paragraphs: shared boilerplate leaves every doc but its
    // first; passengers and column order survive the text rebuild
    val para = Seq(
      (1L, "Unique alpha text.\n\nShared boilerplate line.", "web"),
      (2L, "Unique beta text.\n\nShared boilerplate line.", "wiki"))
      .toDF("doc_id", "text", "source")
    val dd = CuratePipeline.compile(para,
      """{"stages": [{"op": "dedup_paragraphs"}]}""")
    assert(dd.columns.toSeq == Seq("doc_id", "text", "source"))
    val byId = dd.collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId(1L)._1 == "Unique alpha text.\n\nShared boilerplate line.")
    assert(byId(2L)._1 == "Unique beta text.", "doc 2 loses the shared paragraph")
    assert(byId(2L)._2 == "wiki", "passenger survives")

    // minhash_neardup: duplicate text collapses to the min-id keeper,
    // the distinct doc is untouched
    val near = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again", "a"),
      (11L, "the quick brown fox jumps over the lazy dog again and again", "b"),
      (12L, "completely different content about spark partitions and shuffles", "c"))
      .toDF("doc_id", "text", "source")
    val nd = CuratePipeline.compile(near,
      """{"stages": [{"op": "minhash_neardup"}]}""")
      .collect().map(_.getLong(0)).sorted
    assert(nd.toSeq == Seq(10L, 12L), "11 is the non-keeper duplicate")

    // decontaminate: benchmark rows leave; a train doc quoting the
    // benchmark above max_frac leaves with them
    val decon = Seq(
      (20L, "alpha beta gamma delta epsilon zeta", true),
      (21L, "alpha beta gamma delta epsilon zeta", false),
      (22L, "nothing in common with the held out split here", false))
      .toDF("doc_id", "text", "is_bench")
    val dk = CuratePipeline.compile(decon,
      """{"stages": [{"op": "decontaminate", "benchmark_col": "is_bench",
                      "max_frac": 0.5}]}""")
      .collect().map(_.getLong(0)).sorted
    assert(dk.toSeq == Seq(22L), "bench row and fully-contaminated train row leave")

    // lm_quality_filter: common-token doc scores low and stays; the doc
    // holding the corpus's rare tokens scores high and leaves
    val lm = Seq(
      (30L, "common common common common common common"),
      (31L, "common rarest outlier zzz")).toDF("doc_id", "text")
    val lk = CuratePipeline.compile(lm,
      """{"stages": [{"op": "lm_quality_filter", "max_score": 0.5}]}""")
      .collect().map(_.getLong(0))
    assert(lk.toSeq == Seq(30L))
    val e1 = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(lm, """{"stages": [{"op": "lm_quality_filter"}]}""")
    }
    assert(e1.getMessage.contains("max_score"))

    // stratified_sample / mixture reject malformed rate maps
    val e2 = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(lm,
        """{"stages": [{"op": "stratified_sample", "strata": "lang", "salt": "s"}]}""")
    }
    assert(e2.getMessage.contains("rates"))
    val e3 = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(lm,
        """{"stages": [{"op": "mixture", "group": "g", "salt": "s",
                        "weights": {"a": "lots"}}]}""")
    }
    assert(e3.getMessage.contains("weights.a"))

    // mixture: appends epoch and replicates by the weight contract
    val mix = (0L until 40L).map(i => (i, s"doc $i", if (i < 20) "dbl" else "one"))
      .toDF("doc_id", "text", "source")
    val mx = CuratePipeline.compile(mix,
      """{"stages": [{"op": "mixture", "group": "source", "salt": "m1",
                      "weights": {"dbl": 2.0}}]}""")
    assert(mx.columns.toSeq == Seq("doc_id", "text", "source", "epoch"))
    val perSrc = mx.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSrc("dbl") == 40L, "integer weight 2 → exactly two epochs each")
    assert(perSrc("one") == 20L, "default weight 1 → one epoch each")

    // temperature_sample: smallest group keeps everything
    val temp = (0L until 300L).map(i => (i, s"doc $i", if (i < 250) "big" else "small"))
      .toDF("doc_id", "text", "source")
    val tk = CuratePipeline.compile(temp,
      """{"stages": [{"op": "temperature_sample", "group": "source",
                      "salt": "t1", "alpha": 0.5}]}""")
    val tCounts = tk.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tCounts("small") == 50L, "smallest group keeps 100%")
    assert(tCounts("big") < 250L, "larger group downsamples")
  }

  test("curate DSL v4 stages: tokenize + pack materialize trainer sequences (r10)") {
    import spark.implicits._
    import graft.dsl.CuratePipeline
    def longs(r: org.apache.spark.sql.Row, field: String): List[Long] =
      r.get(r.fieldIndex(field)) match {
        case s: scala.collection.Seq[_] => s.iterator.map(_.asInstanceOf[Long]).toList
        case other => fail(s"expected a seq at $field, got $other")
      }
    val docs = Seq(
      (1L, "the inner thread and the other end"),
      (2L, "another band in the ander"),
      (3L, "hand it in then and there")).toDF("doc_id", "text")
    val merges = """[["e","r"],["t","h"],["th","e"],["i","n"],["a","n"],["an","d"]]"""
    // tokenize APPENDS token_ids/n_bpe_tokens; rows stay documents
    val tok = CuratePipeline.compile(docs,
      s"""{"stages": [{"op": "tokenize", "merges": $merges}]}""")
    assert(tok.columns.toSeq == Seq("doc_id", "text", "token_ids", "n_bpe_tokens"))
    assert(tok.count() == 3)
    val perDoc = tok.orderBy("doc_id").collect()
      .map(longs(_, "token_ids"))
    // note: the literal replace-chain contract can merge across symbol
    // boundaries ("o th er" + 'th e'→'the' yields "o ther"), and such
    // out-of-vocab symbols take the UNK id −1 — the oracle replays the
    // identical chain, so engine and oracle agree on the full stream
    assert(perDoc.forall(_.nonEmpty))
    assert(perDoc.flatten.count(_ >= 0) > perDoc.flatten.length / 2,
      "most symbols resolve in the corpus-built vocab")
    // pack cuts the concatenated stream every seq_len tokens
    val packed = CuratePipeline.compile(docs,
      s"""{"stages": [{"op": "tokenize", "merges": $merges},
                      {"op": "pack", "seq_len": 10}]}""")
      .orderBy("seq_id").collect()
    val total = perDoc.map(_.size).sum
    assert(packed.map(_.getAs[Long]("n_tokens")).sum == total)
    assert(packed.init.forall(_.getAs[Long]("n_tokens") == 10L),
      "all but the tail sequence are full")
    assert(longs(packed.head, "input_ids") == perDoc.flatten.take(10).toList,
      "sequence 0 = the first 10 tokens of the doc-ordered stream")
    // merges_path: the same table as a merges.txt-style artifact
    val mf = java.nio.file.Files.createTempFile("graft-merges", ".txt")
    java.nio.file.Files.writeString(mf,
      "# merges v1\ne r\nt h\nth e\ni n\na n\nan d\n")
    val viaPath = CuratePipeline.compile(docs,
      s"""{"stages": [{"op": "tokenize", "merges_path": "$mf"},
                      {"op": "pack", "seq_len": 10}]}""")
      .orderBy("seq_id").collect()
    assert(viaPath.map(longs(_, "input_ids").mkString(" ")).toSeq ==
      packed.map(longs(_, "input_ids").mkString(" ")).toSeq,
      "a path-referenced vocab artifact must encode identically")
    // error shapes
    val noIds = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(docs, """{"stages": [{"op": "pack", "seq_len": 8}]}""")
    }
    assert(noIds.getMessage.contains("tokenize stage before"))
    val noMerges = intercept[graft.dsl.JsonQuery.DslException] {
      CuratePipeline.compile(docs, """{"stages": [{"op": "tokenize"}]}""")
    }
    assert(noMerges.getMessage.contains("merges"))
  }

  test("rewriteMarkers boundary scan matches the lexer under BOTH legacy confs (r12)") {
    import graft.sql.GraftSql
    // The premise the scanner rests on, PINNED empirically: Spark's
    // ANTLR lexer consumes backslash-quote pairs at the GRAMMAR level,
    // so quote boundaries are config-independent — the two legacy
    // confs change token interpretation, never where a token ends.
    // If a future Spark changes this, these two probes flip and the
    // scanner must learn to branch.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    intercept[Exception] { s2.sql("SELECT '\\' AS x") } // \' still escapes
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    intercept[Exception] { s3.sql("SELECT 1 AS \"x\\\", 2 AS y") } // \" too
    // ...therefore ONE scan serves both: $1 inside a backslash-escaped
    // string stays data, and markers after a closed span rewrite —
    // identically under every session
    assert(!GraftSql.rewriteMarkers(s2, "SELECT '\\' , $1 '", 1)
      .contains(":graft_p1"))
    assert(GraftSql.rewriteMarkers(s3, "SELECT 'a' , $1", 1)
      .endsWith(":graft_p1"))
    // and the params path executes correctly under the ANSI-ident conf
    assert(GraftSql.sql(s3, "SELECT $1 AS \"q\"", Seq("v"))
      .collect()(0).getString(0) == "v")
    s2.conf.unset("spark.sql.parser.escapedStringLiterals")
    s3.conf.unset("spark.sql.ansi.doubleQuotedIdentifiers")
  }

  test("GraftSession.configure registers the graft functions once per session") {
    // each registration stores a fresh ExpressionInfo with the builder
    // (the builder itself is a non-capturing lambda, one instance for
    // the JVM), so the info's identity tells whether it was replaced
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("st_x")
    val before = registry.lookupFunction(id)
    assert(before.nonEmpty)
    GraftSession.configure(spark)
    assert(registry.lookupFunction(id).exists(_ eq before.get),
      "a second configure must not re-register the functions")
  }
}
