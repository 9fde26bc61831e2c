package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LinkGraph, Materialize, TextOps}
import graft.sql.Jobs

/** htmlLinks resolution rules the q_html_links seeds don't isolate,
  * hostEdges edge semantics, and pageRank's closed-form behavior on
  * tiny graphs (including the documented dangling-mass convention). */
class LinkGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)

  private def links(html: String, base: String): Seq[String] = {
    val s = spark
    import s.implicits._
    Seq((html, base)).toDF("h", "b")
      .select(TextOps.htmlLinks(col("h"), col("b")))
      .head().getSeq[String](0)
  }

  test("htmlLinks: bases without a path resolve relatives at the root") {
    assert(links("""<a href="x.html">x</a>""", "https://a.com")
      == Seq("https://a.com/x.html"))
    assert(links("""<a href="/r">r</a>""", "https://a.com")
      == Seq("https://a.com/r"))
  }

  test("htmlLinks: a query on the base does not leak into the directory") {
    assert(links("""<a href="n.html">n</a>""", "https://a.com/dir/page?q=1")
      == Seq("https://a.com/dir/n.html"))
  }

  test("htmlLinks: fragment-only and opaque-scheme hrefs drop, any case") {
    assert(links(
      """<a href="#sec">s</a><a href="MAILTO:x@y.z">m</a>""" +
        """<a href="tel:+123">t</a><a href="real.html">r</a>""",
      "http://a.com/d/") == Seq("http://a.com/d/real.html"))
  }

  test("htmlLinks: protocol-relative links take the BASE scheme") {
    assert(links("""<a href="//b.org/p">p</a>""", "HTTPS://a.com/x")
      == Seq("https://b.org/p"))
    assert(links("""<a href="//b.org/p">p</a>""", "http://a.com/x")
      == Seq("http://b.org/p"))
  }

  test("hostEdges: self-links drop, parallel cross-host links count") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      ("http://a.com/1",
        """<a href="/nav">n</a><a href="http://b.org/x">1</a>""" +
          """<a href="http://b.org/y">2</a>"""),
      ("http://a.com/2", """<a href="http://b.org/z">3</a>"""),
      ("http://b.org/1", """<a href="http://a.com/w">4</a>"""))
      .toDF("url", "html")
    val edges = LinkGraph.hostEdges(pages, "url", "html")
      .orderBy("src_host", "dst_host").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(edges.toSeq == Seq(("a.com", "b.org", 3L), ("b.org", "a.com", 1L)))
  }

  test("pageRank: a 2-cycle is a fixed point at 1/2 each") {
    val s = spark
    import s.implicits._
    val e = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
    val r = LinkGraph.pageRank(e, "s", "d", iterations = 7)
      .orderBy("node").collect().map(x => (x.getString(0), x.getDouble(1)))
    assert(r.toSeq == Seq(("a", 0.5), ("b", 0.5)))
  }

  test("pageRank: dangling nodes keep only the teleport share (documented leak)") {
    val s = spark
    import s.implicits._
    val e = Seq(("a", "b")).toDF("s", "d") // b is a sink
    val r1 = LinkGraph.pageRank(e, "s", "d", iterations = 1)
      .orderBy("node").collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    // N=2: a gets (1-d)/N = 0.075; b gets 0.075 + 0.85 * (0.5/1) = 0.5
    assert(r1("a") == 0.075 && r1("b") == 0.5)
    val r2 = LinkGraph.pageRank(e, "s", "d", iterations = 2)
      .orderBy("node").collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    assert(r2("a") == 0.075 && r2("b") == 0.13875) // 0.075 + 0.85·0.075, rounded@9
  }

  test("pageRank: parallel edges collapse before out-degree is taken") {
    val s = spark
    import s.implicits._
    // a links b twice and c once: degree must be 2, not 3
    val e = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("s", "d")
    val r = LinkGraph.pageRank(e, "s", "d", iterations = 1)
      .orderBy("node").collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    // N=3: b gets (1-d)/3 + d * (1/3)/2 — same as c
    assert(r("b") == r("c"))
    assert(math.abs(r("b") - (0.05 + 0.85 / 6)) < 1e-9)
  }

  test("pagerank randomized: distributed rounds equal a direct power iteration (r14)") {
    val s = spark
    import s.implicits._
    import graft.operators.LinkGraph
    val rnd = new scala.util.Random(20260815L)
    (1 to 3).foreach { trial =>
      // random directed graph with dangling nodes and duplicate edges
      val n = 12 + rnd.nextInt(8)
      val raw = (0 until 60).map(_ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
        .filter { case (a, b) => a != b }
      val got = LinkGraph.pageRank(raw.toDF("src", "dst"), "src", "dst",
          iterations = 5)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // independent reference with the SAME conventions: dedup'd
      // edges, init round(1/n, 9), per-iter round 9, dangling mass
      // NOT redistributed (the documented convention)
      val edges = raw.distinct
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val outDeg = edges.groupBy(_._1).map { case (k, es) => k -> es.size }
      def r9(x: Double) = BigDecimal(x)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      var pr = nodes.map(_ -> r9(1.0 / nodes.size)).toMap
      (1 to 5).foreach { _ =>
        val mass = edges.groupBy(_._2).map { case (dst, in) =>
          dst -> in.map { case (src, _) => pr(src) / outDeg(src) }.sum
        }
        pr = nodes.map(v =>
          v -> r9(0.15 / nodes.size + 0.85 * mass.getOrElse(v, 0.0))).toMap
      }
      assert(got.keySet == pr.keySet, s"trial $trial node sets differ")
      got.keys.foreach { k =>
        assert(math.abs(got(k) - pr(k)) < 1e-6,
          s"trial $trial $k: engine=${got(k)} reference=${pr(k)}")
      }
    }
  }

  // ---- the DataFrame power iteration the RDD loop replaced, kept as
  // the reference: three checkpointed loop-invariant frames, N as a
  // broadcast one-row frame, and a join plan per round
  private def refPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85): DataFrame = {
    val e = Materialize.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = Materialize.checkpoint(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val outDeg = Materialize.checkpoint(
      e.groupBy("src").agg(count(lit(1)).as("out_deg")))
    val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(nNodes))
      .select(col("node"), round(lit(1.0) / col("n_nodes"), 9).as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks, e("src") === ranks("node"))
        .join(outDeg, "src")
        .select(col("dst"), (col("rank") / col("out_deg")).as("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("mass"))
      ranks = nodes
        .join(contribs, nodes("node") === contribs("dst"), "left")
        .crossJoin(broadcast(nNodes))
        .select(col("node"),
          round(lit(1.0 - damping) / col("n_nodes") +
            lit(damping) * coalesce(col("mass"), lit(0.0)), 9).as("rank"))
    }
    ranks
  }

  private def seededEdges(seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    // nodes n0..n(n-1); the upper quarter only receives (dangling), and
    // a fifth of the edges repeat
    val n = 30 + rnd.nextInt(20)
    val edges = (0 until 4 * n).map(_ =>
      (s"n${rnd.nextInt(3 * n / 4)}", s"n${rnd.nextInt(n)}"))
      .filter { case (a, b) => a != b }
    edges ++ rnd.shuffle(edges).take(edges.size / 5)
  }

  test("pageRank: ranks equal the DataFrame power iteration (dangling, duplicate and NULL endpoints)") {
    val s = spark
    import s.implicits._
    val graphs = Seq(1L, 2L, 3L).map(seed => s"seed $seed" -> seededEdges(seed)) :+
      ("null endpoints" -> (seededEdges(4L) ++
        Seq[(String, String)](("n1", null), ("n1", null), (null, "n2"), (null, null))))
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "5")
    for ((name, raw) <- graphs; session <- Seq(spark, wide); iterations <- Seq(1, 5)) {
      val edges = session.createDataFrame(raw).toDF("src", "dst").repartition(3)
      val want = refPageRank(edges, "src", "dst", iterations)
      val got = LinkGraph.pageRank(edges, "src", "dst", iterations)
      val tag = s"$name iterations=$iterations shuffle=${session.conf.get("spark.sql.shuffle.partitions")}"
      assert(got.schema == want.schema, tag)
      def ranks(df: DataFrame) = df.collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
      assert(ranks(got) == ranks(want), tag)
    }
    // integer node ids take the same path
    val longEdges = seededEdges(5L).map { case (a, b) => (a.tail.toLong, b.tail.toLong) }
      .toDF("src", "dst")
    assert(LinkGraph.pageRank(longEdges, "src", "dst").collect().toSet ==
      refPageRank(longEdges, "src", "dst", 5).collect().toSet)
  }

  test("pageRank: one job per round") {
    val s = spark
    import s.implicits._
    val edges = seededEdges(6L).toDF("src", "dst")
    val (ranks, ran) = Jobs.of(spark)(LinkGraph.pageRank(edges, "src", "dst", 5).collect())
    val jobs = ran.map(_.label)
    assert(ranks.nonEmpty)
    assert(jobs.count(_.startsWith("pagerank: round")) == 5, jobs.mkString(", "))
    assert(jobs.size <= 5 + 3, s"${jobs.size} jobs for 5 rounds: ${jobs.mkString(", ")}")
  }
}
