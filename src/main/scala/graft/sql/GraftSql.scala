package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.UnionByName

/** The engine's SQL front door: standard SQL passes straight to Catalyst
  * (`spark.sql`), while the engine's statement extensions are recognized
  * by a lightweight sidecar recognizer — the same two-token-peek approach
  * the reference parser uses (beacon-core/src/parser/beacon_parser.rs:33-117)
  * rather than a full custom grammar.
  *
  * Round-1 statements:
  *  - `SUMMARIZE <table>` / `SUMMARIZE (<query>)` → [[Summarize]]
  *  - `<query> UNION ALL BY NAME <query>` (n-ary) → supercast union
  *    (union_by_name.rs semantics; sql/union-by-name.md)
  * Everything else → Catalyst.
  */
object GraftSql {

  /** Positional bind parameters — the reference's `$1..$n` embedded
    * API (`plan.with_param_values`, runtime.rs:107-116). `$N` markers
    * are rewritten (quote-aware, so a literal `'$1'` survives) to
    * Spark named parameters and bound via parameterized `spark.sql`,
    * which substitutes them as typed literals during analysis — never
    * string splicing, so values cannot inject SQL. Markers may repeat
    * and appear in any order; params are 1-based. */
  def sql(spark: SparkSession, text: String, params: Seq[Any]): DataFrame =
    spark.sql(rewriteMarkers(spark, text, params.length),
      params.zipWithIndex.map { case (v, ix) => s"graft_p${ix + 1}" -> v }.toMap)

  /** [[rewriteMarkers]] with the session in hand — the seam where a
    * lexer-config-dependent scan WOULD branch. Verified empirically
    * against Spark 4's parser (EngineSpec pins it): quote BOUNDARIES
    * are grammar-level and config-independent — the ANTLR lexer
    * consumes `\'` (and `\"`) as escape pairs even under
    * `spark.sql.parser.escapedStringLiterals=true` and
    * `spark.sql.ansi.doubleQuotedIdentifiers=true`; those confs only
    * change how a token's CONTENT is interpreted, never where it
    * ends. So one scanner serves every session configuration. */
  def rewriteMarkers(spark: SparkSession, text: String, nParams: Int): String =
    rewriteMarkers(text, nParams)

  /** `$N` markers → `:graft_pN` named parameters (quote- and
    * comment-aware); exposed so callers that must PARSE the bound
    * text before execution (the wire's sqlAs params path) rewrite it
    * identically */
  def rewriteMarkers(text: String, nParams: Int): String = {
    val sb = new StringBuilder
    var inS = false; var inB = false; var inD = false
    var i = 0
    val t = text
    while (i < t.length) {
      val c = t.charAt(i)
      // backslash pairs inside quoted spans are GRAMMAR-level escapes
      // in Spark's lexer (config-independent — see the overload above):
      // a \' or \" must not flip the in-quote state
      if ((inS || inD) && c == '\\' && i + 1 < t.length) {
        sb.append(c).append(t.charAt(i + 1)); i += 2
      }
      else if (inS) { if (c == '\'') inS = false; sb.append(c); i += 1 }
      else if (inB) { if (c == '`') inB = false; sb.append(c); i += 1 }
      // Spark's default config reads "..." as a STRING literal — a $N
      // inside one is data, not a marker
      else if (inD) { if (c == '"') inD = false; sb.append(c); i += 1 }
      else if (c == '-' && i + 1 < t.length && t.charAt(i + 1) == '-') {
        // line comment: copy verbatim — an apostrophe in `-- don't`
        // must not flip the in-string state
        val nl = t.indexOf('\n', i)
        val end = if (nl < 0) t.length else nl + 1
        sb.append(t.substring(i, end)); i = end
      }
      else if (c == '/' && i + 1 < t.length && t.charAt(i + 1) == '*') {
        val close = t.indexOf("*/", i + 2)
        val end = if (close < 0) t.length else close + 2
        sb.append(t.substring(i, end)); i = end
      }
      else if (c == '\'') { inS = true; sb.append(c); i += 1 }
      else if (c == '`') { inB = true; sb.append(c); i += 1 }
      else if (c == '"') { inD = true; sb.append(c); i += 1 }
      else if (c == '$' && i + 1 < t.length && t.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < t.length && t.charAt(j).isDigit) j += 1
        val n = t.substring(i + 1, j).toInt
        require(n >= 1 && n <= nParams,
          s"bind parameter $$$n out of range (got $nParams params)")
        sb.append(s":graft_p$n")
        i = j
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def sql(spark: SparkSession, text: String): DataFrame = {
    val trimmed = text.trim.stripSuffix(";")
    val upper = trimmed.toUpperCase
    if (upper.startsWith("EXPLAIN ANALYZE ")) {
      // the reference's explain_analyze_query (beacon-core/src/
      // runtime.rs:466-506): EXECUTE the plan to completion — through the
      // noop sink, so nothing lands on the driver — then report the
      // physical plan with each node's recorded runtime metrics.
      explainAnalyze(spark, trimmed.substring("EXPLAIN ANALYZE".length).trim)
    } else if (upper.startsWith("EXPLAIN FORMAT JSON ")) {
      // the reference's explain endpoint returns the LOGICAL plan as a
      // machine-readable JSON document (display_pg_json,
      // runtime.rs:444-463); Spark's TreeNode serialization is the
      // engine-native equivalent — one node object per plan operator
      import spark.implicits._
      val inner = trimmed.substring("EXPLAIN FORMAT JSON".length).trim
      return Seq(sql(spark, inner).queryExecution.optimizedPlan.toJSON).toDF("plan")
    } else if (upper.startsWith("EXPLAIN ")) {
      // graft-rewritten statements (SUMMARIZE / UNION ALL BY NAME) have
      // no Catalyst SQL text, so native EXPLAIN can't see them: build
      // the frame and return its formatted plan. Plain SQL falls
      // through to Catalyst's own EXPLAIN.
      val inner = trimmed.substring("EXPLAIN".length).trim
      val innerUpper = inner.toUpperCase
      if (innerUpper.startsWith("SUMMARIZE") || splitUnionByName(inner).length > 1) {
        import spark.implicits._
        val plan = sql(spark, inner).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        return Seq(plan).toDF("plan")
      }
      spark.sql(trimmed)
    } else if (upper.startsWith("SUMMARIZE")) {
      val src = trimmed.substring("SUMMARIZE".length).trim
      val df =
        if (src.startsWith("(") && src.endsWith(")"))
          spark.sql(src.substring(1, src.length - 1))
        else spark.table(src)
      Summarize.summarize(df)
    } else {
      splitUnionByName(trimmed) match {
        case parts if parts.length > 1 =>
          UnionByName(parts.map(p => spark.sql(stripParens(p))))
        case _ => spark.sql(trimmed)
      }
    }
  }

  /** One row per executed physical node: (node_id, depth, node, metrics).
    * Metrics are Spark's per-node SQLMetrics (rows output, scan/shuffle
    * bytes, spill, time), read AFTER the run so every value is final —
    * the per-node half of the reference's `query_metrics` surface. */
  private def explainAnalyze(spark: SparkSession, inner: String): DataFrame = {
    import spark.implicits._
    val df = sql(spark, inner)
    // run the df's OWN QueryExecution (a sink write would plan a fresh
    // one and leave these nodes' metrics at zero); foreach on the
    // InternalRow RDD drains every partition executor-side
    df.queryExecution.toRdd.foreach(_ => ())
    QueryMetrics.planNodes(df.queryExecution.executedPlan).zipWithIndex.map {
      case ((p, depth), id) =>
        (id, depth, p.nodeName, p.metrics.toSeq.sortBy(_._1)
          .map { case (k, m) => s"$k=${m.value}" }.mkString(", "))
    }.toDF("node_id", "depth", "node", "metrics")
  }

  /** Split at top-level `UNION ALL BY NAME` boundaries (outside quotes and
    * parens, case-insensitive). */
  private[graft] def splitUnionByName(s: String): Seq[String] = {
    val marker = "UNION ALL BY NAME"
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var i = 0
    var start = 0
    var inSingle = false
    var inDouble = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inSingle) { if (c == '\'') inSingle = false; i += 1 }
      else if (inDouble) { if (c == '"') inDouble = false; i += 1 }
      else c match {
        case '\'' => inSingle = true; i += 1
        case '"'  => inDouble = true; i += 1
        case '('  => depth += 1; i += 1
        case ')'  => depth -= 1; i += 1
        case _ if depth == 0 && i + marker.length <= s.length &&
            s.regionMatches(true, i, marker, 0, marker.length) &&
            wordBoundary(s, i, marker.length) =>
          out += s.substring(start, i).trim
          i += marker.length
          start = i
        case _ => i += 1
      }
    }
    out += s.substring(start).trim
    out.toSeq
  }

  private def wordBoundary(s: String, at: Int, len: Int): Boolean = {
    val before = at == 0 || !Character.isLetterOrDigit(s.charAt(at - 1))
    val after = at + len >= s.length || !Character.isLetterOrDigit(s.charAt(at + len))
    before && after
  }

  private[graft] def stripParens(s: String): String = {
    val t = s.trim
    // strip one level only when the parens wrap the whole expression
    if (t.startsWith("(") && t.endsWith(")")) {
      var depth = 0
      var wraps = true
      for (i <- 0 until t.length - 1) {
        t.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) wraps = false
          case _ =>
        }
      }
      if (wraps) t.substring(1, t.length - 1) else t
    } else t
  }
}
