package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RelationBridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Crawl link graph: host-level edges out of page HTML and a
  * fixed-iteration PageRank over them — the frontier-prioritization /
  * quality-weighting step of large crawl curations (Common-Crawl-style
  * host ranking; the C4/RefinedWeb lineage weights domains by link
  * centrality before sampling). No reference counterpart (its formats
  * are scientific); the shapes here are the standard ones.
  *
  * Scale: edge extraction is a map-only pass over pages followed by
  * ONE (src, dst) shuffle. PageRank groups the edges by source once and
  * keeps them and the ranks on one hash partitioning of the host key,
  * so a round is one job with one shuffle, the contributions. Host keys
  * are low-cardinality relative to pages (the 100 TB corpus has ~10⁷
  * hosts, not 10¹¹), so the per-iteration shuffle is small; skewed
  * mega-hosts (wikipedia.org) concentrate on the DST side of the
  * contribution sum, which combines map-side before it ships.
  */
object LinkGraph {

  /** Host-level edge list from pages: `(src_host, dst_host, n_links)`
    * where links come from [[TextOps.htmlLinks]] over `htmlCol`
    * resolved against `urlCol`. Self-edges (intra-host navigation —
    * the overwhelming bulk of a real page's links) are excluded;
    * `n_links` counts repeated cross-host links page-by-page. */
  def hostEdges(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val src = TextOps.urlHost(col(urlCol))
    pages
      .select(src.as("src_host"),
        explode(TextOps.htmlLinks(col(htmlCol), col(urlCol))).as("dst"))
      .select(col("src_host"), TextOps.urlHost(col("dst")).as("dst_host"))
      .filter(col("src_host") =!= "" && col("dst_host") =!= "" &&
        col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED simple graph (direction and parallel edges collapse) —
    * the communityness signal next to PageRank's centrality (link-farm
    * rings score high here and low there). Degree-ordered orientation
    * (the "compact-forward" scheme, Latapy 2008): every edge orients
    * from its (degree, id)-smaller endpoint, which bounds any node's
    * out-neighborhood by O(√m) on ANY graph — the wedge self-join never
    * explodes on a power-law hub, where id-ordered orientation would
    * quadratically blow up on the hub's neighborhood. Each triangle is
    * found exactly once (the wedge at its order-smallest vertex plus
    * the one closing oriented edge). Nodes with no triangles report 0.
    * Three shuffles total: degree count, the wedge join, the close
    * join — all on node keys. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val und = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    // oriented edges (u → v) from the (degree, id)-smaller endpoint,
    // carrying v's degree so wedge ordering needs no extra join
    val o = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"), col("db").as("dv"))
    val wedges = o.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
      .join(o.select(col("u"), col("v").as("v2"), col("dv").as("d2")), Seq("u"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    // (v1, v2) ordered by the SAME total order, so the closing edge —
    // if the triangle exists — is exactly the oriented v1 → v2
    val tri = wedges
      .join(o.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .select(col("u").as("m1"), col("v1").as("m2"), col("v2").as("m3"))
    val perNode = tri
      .select(explode(array(col("m1"), col("m2"), col("m3"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") > 1, round(
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("d") * (col("d") - lit(1L))), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Fixed-iteration PageRank over a directed edge list. Classic
    * power iteration on the UNWEIGHTED simple digraph (parallel edges
    * collapse): every node starts at 1/N; each round a node keeps
    * `(1-d)/N` and receives `d · Σ rank(src)/out_deg(src)` over its
    * in-edges. Dangling nodes (no out-edges) leak their damped mass —
    * the simple convention, stated here because it is part of the
    * replayable contract; ranks then sum to < 1 in graphs with sinks.
    * As in a SQL join, a NULL endpoint is one node of its own that links
    * nothing: a NULL source sends nothing, and a NULL destination counts
    * in its source's out-degree but receives nothing.
    *
    * Determinism across engines: every iteration rounds to 9 decimals
    * (Spark's `round`, half up) so floating summation order cannot
    * accumulate drift between this loop and a SQL replay of the same
    * rounds.
    *
    * The co-partitioned RDD loop on [[Materialize.rounds]], as in
    * [[Dedup.connectedComponents]]: the distinct edges are grouped once
    * into `(src, dsts)` on `spark.sql.shuffle.partitions` hash
    * partitions and persisted there, and the ranks share that
    * partitioner, so `links ⋈ ranks` is narrow. N is counted once on
    * the driver. A round is one map-side-combined shuffle of the
    * contributions and a narrow `ranks ⟕ mass`, checkpointed and
    * forced by one action: one job per round. The loop stops early
    * when a round changes no rank, since every later round would repeat
    * it. Node ids are of a type whose values compare by equality (see
    * [[Materialize.keyPairs]]). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations must be >= 1, got $iterations")
    val spark = edges.sparkSession
    val (rows, node) = Materialize.keyPairs(edges, srcCol, dstCol, "pageRank")
    val part = Materialize.keyPartitioner(spark)
    Par.withJobDescription(spark.sparkContext, "pagerank: links") {
      val links = rows.aggregateByKey(Set.empty[Any], part)(_ + _, _ ++ _)
        .mapValues(_.toArray).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nodes = links.flatMap { case (src, dsts) => (src +: dsts).map(_ -> ()) }
          .reduceByKey(part, (u, _) => u)
        val n = nodes.count().toDouble
        // ranks and the round's result: (node, (rank, changed))
        val (ranks, _) = Materialize.rounds(spark, "pagerank",
            nodes.mapValues(_ => (round9(1.0 / n), true)), iterations) { ranks =>
          val mass = links.join(ranks, part).flatMap { case (src, (dsts, (r, _))) =>
            if (src == null) Iterator.empty
            else dsts.iterator.filter(_ != null).map(_ -> r / dsts.length)
          }.reduceByKey(part, _ + _)
          ranks.leftOuterJoin(mass, part).mapValues { case ((r, _), m) =>
            val next = round9((1.0 - damping) / n + damping * m.getOrElse(0.0))
            (next, next != r)
          }
        }
        RelationBridge.ofInternalRows(spark,
          ranks.map { case (v, (r, _)) => InternalRow(v, r) },
          StructType(Seq(node.copy(name = "node"), StructField("rank", DoubleType))))
      } finally links.unpersist(blocking = false)
    }
  }

  /** Spark's `round(x, 9)` on a double */
  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
}
