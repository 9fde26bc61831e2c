package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sql.Jobs

class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)
  lazy val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------ text ops

  test("tokens / counts / ratios on crafted text") {
    import spark.implicits._
    val df = Seq(
      ("the quick brown fox, the lazy dog!!", 1L),
      ("", 2L),
      ("   ", 3L),
      ("single", 4L)).toDF("text", "id")
    val out = df.select($"id",
      TextOps.tokenCount($"text").as("n"),
      TextOps.punctRatio($"text").as("p"),
      TextOps.stopwordRatio($"text").as("s")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 7)
    assert(out(2L).getInt(1) == 0)
    assert(out(3L).getInt(1) == 0)
    assert(out(4L).getInt(1) == 1)
    assert(out(1L).getDouble(2) > 0)   // has , and !!
    assert(math.abs(out(1L).getDouble(3) - 2.0 / 7.0) < 1e-12) // 'the' twice
    assert(out(2L).getDouble(3) == 0.0)
  }

  test("langid: CJK wins, markers pick language, no markers → unknown") {
    import spark.implicits._
    val df = Seq(
      ("the cat and the dog is here", "en"),
      ("der hund und die katze ist da", "de"),
      ("le chat et la souris est ici", "fr"),
      ("el gato y los perros es aqui", "es"),
      ("你好 世界", "zh"),
      ("zzz qqq www", "unknown")).toDF("text", "expected")
    val got = df.select(TextOps.langId($"text"), $"expected").collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("shingles: n-grams and short-text fallback") {
    import spark.implicits._
    val rows = Seq("a b c d", "a b").toDF("text")
      .select(TextOps.shingles($"text", 3).as("sh")).collect()
    assert(rows(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(rows(1).getSeq[String](0) == Seq("a b"))
  }

  // -------------------------------------------------------------- dedup

  test("exact dedup keeps the lowest id per normalized text") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different")).toDF("doc_id", "text")
    val kept = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(1L, 3L)))
    val groups = Dedup.exactGroups(df, "text", "doc_id")
      .filter($"n_copies" > 1).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("kept_id") == 1L)
  }

  test("minhash LSH: identical docs always pair, disjoint docs never pair") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val other = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)), "exact dup must share every band")
    assert(!pairs.exists(p => p._2 == 3L), "disjoint shingle sets must not pair")
  }

  test("simhash: identical text → distance 0; unrelated text → large distance") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark engine shuffles data across partitions"),
      (2L, "spark engine shuffles data across partitions"),
      (3L, "completely unrelated words about gardening tulips"))
      .toDF("doc_id", "text")
    val sh = df.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) > 10)
  }

  test("ngram jaccard: exact overlap fraction") {
    import spark.implicits._
    // shingles(4 tokens, n=3) = 2 shingles; docs share exactly one
    val df = Seq((1L, "a b c d"), (2L, "a b c x")).toDF("doc_id", "text")
    val rows = Dedup.ngramJaccardPairs(df, "text", "doc_id").collect()
    assert(rows.length == 1)
    assert(math.abs(rows(0).getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-12)
  }

  // ---------------------------------------------------------- similarity

  test("ANN LSH recalls true near-duplicates") {
    import spark.implicits._
    // synthesize genuine near-dups: base vectors + tiny perturbations
    val rnd = new scala.util.Random(7)
    val bases = (0 until 40).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val perturbed = bases.map { case (id, v) =>
      (id + 1000L, v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f))
    }
    val df = (bases ++ perturbed).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val cands = Similarity.lshCandidatePairs(df, "vec_id", "embedding",
      nPlanes = 16, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = (0 until 40).map(i => (i.toLong, i + 1000L))
    val recall = truePairs.count(cands.contains).toDouble / truePairs.size
    assert(recall >= 0.9, s"near-dup recall $recall")
    // and buckets must prune: far fewer candidates than the 3160 possible pairs
    assert(cands.size < 1500, s"LSH produced ${cands.size} candidates (no pruning)")
  }

  test("cosineNearDupPairs: banded join (no cross join), finds the planted dup") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val rows = Seq(
      (1L, base.toSeq),
      (2L, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f).toSeq)) ++
      (3L to 30L).map(i => (i, Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", 0.95)
    val physical = pairs.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), "all-pairs cross product in plan")
    assert(!physical.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"planted near-dup not found: $got")
    assert(got.forall { case (a, b) => a < b })
  }

  test("near-dup gate plan has no cross join: LSH bucket join only") {
    import spark.implicits._
    val df = graft.queries.QueriesData.queries("q_embedding_neardup")(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), "all-pairs cross product in plan")
    assert(!physical.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
    // exact/rounded rerank still keeps only genuinely similar pairs
    assert(df.collect().forall(_.getAs[Double]("cos") >= 0.3))
  }

  test("SimHash64 / LshBands are codegen-native (r17): generated == " +
      "interpreted bit-for-bit, sketch stages stay in WholeStageCodegen") {
    import spark.implicits._
    import graft.functions.VectorExprs
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new scala.util.Random(170042L)
    val docs = (1L to 40L).map { i =>
      (i, (1 to 12).map(_ => s"tok${rnd.nextInt(30)}"),
        (1 to 64).map(_ => rnd.nextDouble() * 2 - 1))
    }.toDF("id", "toks", "vec")
    // the generated path must produce the interpreted kernel's bits
    val got = docs.select($"id",
        VectorExprs.simhash64($"toks").as("sh"),
        VectorExprs.lsh_bands($"vec", nPlanes = 32, seed = 7L, bandBits = 8)
          .as("bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    val exp = docs.collect().map { r =>
      val toks = ArrayData.toArrayData(r.getSeq[String](1)
        .map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
      val vec = ArrayData.toArrayData(r.getSeq[Double](2).toArray)
      (r.getLong(0), VectorExprs.simHash64Kernel(toks),
        VectorExprs.lshBandsKernel(vec, isFloat = false, 32, 7L, 8)
          .toLongArray().toSeq)
    }
    assert(got.map(t => (t._1, t._2)).toSeq == exp.map(t => (t._1, t._2)).toSeq)
    assert(got.map(_._3.toSeq).toSeq == exp.map(_._3).toSeq)
    // plan pins: both kernels keep their stage inside WholeStageCodegen
    // (read from parquet so ConvertToLocalRelation can't pre-evaluate);
    // a CodegenFallback expression would leave the Project bare
    val pq = java.nio.file.Files.createTempDirectory("sketchcg").toString
    docs.write.mode("overwrite").parquet(pq)
    val planned = spark.read.parquet(pq).select(
      VectorExprs.simhash64($"toks").as("sh"),
      VectorExprs.lsh_bands($"vec", 32, 7L, 8).as("bands"))
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project.*simhash64.*"), plan)
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project.*lsh_bands.*"), plan)
    // and the gates that consume LshBands (the LSH candidate join and
    // the ANN bucketing path — the verify-gated corpus-hot stages)
    // plan their lsh_bands projection inside a `*(n)` codegen stage:
    // no line holding the kernel may be a BARE Project/Filter
    for (gate <- Seq("q_embedding_neardup", "q_ann_lsh_topk")) {
      val g = graft.queries.QueriesData.queries(gate)(spark, sf)
      val p = g.queryExecution.executedPlan.toString
      assert(p.contains("lsh_bands"), s"$gate no longer uses lsh_bands:\n$p")
      val bare = p.linesIterator.exists(l =>
        l.contains("lsh_bands") && l.contains("Project") &&
          !l.contains("*("))
      assert(!bare, s"$gate has lsh_bands outside WholeStageCodegen:\n$p")
    }
  }

  test("frontier-budget gate plans its top-hosts cut as TakeOrdered, " +
      "not a global window (r17)") {
    val df = graft.queries.QueriesData.queries("q_frontier_budget")(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    // the top-3-hosts cut must be a per-partition top-k merge — a
    // row_number window here is a single-partition sort of the host
    // table, 10^8 rows on one task at web scale
    assert(physical.contains("TakeOrderedAndProject(limit=3"),
      "top-hosts cut is not a TakeOrdered plan")
    // exactly ONE window remains: the politeness schedule's per-host
    // row_number (hash-partitioned — the scale-correct shape). The
    // host-rank cut's GLOBAL row_number window is gone. (PageRank's
    // one-row total still single-partitions a bounded aggregate, which
    // is fine — the pin is on window count, not on every exchange.)
    assert(physical.linesIterator.count(_.contains("Window [")) == 1,
      "unexpected extra window in the frontier-budget plan")
    assert(df.count() > 0)
  }

  test("native text kernels match the composed HOF formulation bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.types.DoubleType
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "der die und das ist hier\tmit tabs\nund newlines",
      "  le la et   les est  ", "一二三 chinese 文本", "", "x",
      "punct!!! lots, of; punct??? (here) [too] {braces}",
      "MixedCase TOKENS With Digits123 and-hyphens")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val hofTokens = filter(split(trim($"text"), "\\s+"), t => length(t) > 0)
    val hof = docs.select($"id",
      size(hofTokens).as("n"),
      when(size(hofTokens) === 0, 0.0).otherwise(
        aggregate(hofTokens, lit(0L), (a, t) => a + length(t)).cast(DoubleType)
          / size(hofTokens)).as("mtl"),
      (length($"text") - length(regexp_replace($"text", "[\\p{Punct}]", ""))).as("np"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getInt(3))).toMap
    val nat = docs.select($"id",
      TextOps.tokenCount($"text").as("n"),
      TextOps.meanTokenLength($"text").as("mtl"),
      graft.functions.TextExprs.text_stats($"text").getField("punct").as("np"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getInt(3))).toMap
    assert(nat == hof)
    // shingles: native == HOF shape
    val hofSh = docs.select($"id", when(size(hofTokens) < 3, array(concat_ws(" ", hofTokens)))
      .otherwise(transform(sequence(lit(0), size(hofTokens) - 3),
        i => concat_ws(" ", slice(hofTokens, i + 1, lit(3))))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val natSh = docs.select($"id", TextOps.shingles($"text", 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(natSh == hofSh)
    // minhash: native == per-j md5 min
    val sh = TextOps.shingles($"text", 3)
    val hofMh = docs.select($"id", Dedup.minhashExpr(sh, 0).as("m0"),
      Dedup.minhashExpr(sh, 7).as("m7"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val natMh = docs.select($"id",
      graft.functions.TextExprs.minhash_md5(sh, 8).as("mh"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1).head, r.getSeq[String](1).last)).toMap
    assert(natMh == hofMh)
  }

  test("md5_low48 kernel matches the built-in hex/conv formulation bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // the pre-r17 hash48: md5 → hex → six LE substrings → conv(16,10)
    def oldHash48(key: Column, salt: String): Column = {
      val h = md5(concat(key.cast("string"), lit(salt)))
      val le48 = concat(
        substring(h, 27, 2), substring(h, 25, 2), substring(h, 23, 2),
        substring(h, 21, 2), substring(h, 19, 2), substring(h, 17, 2))
      conv(le48, 16, 10).cast("long")
    }
    val keys = (Seq("", "x", "一二三 unicode 文本", "trailing space ",
      "long-" * 100, "né́ combining") ++
      (0 until 500).map(i => s"key-$i")).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val rows = keys.select($"id",
        Sampling.hash48($"k", "spec-salt").as("nat"),
        oldHash48($"k", "spec-salt").as("old"),
        Sampling.hash48($"id", "n-salt").as("natL"),
        oldHash48($"id", "n-salt").as("oldL"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"string key mismatch at ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4), s"long key mismatch at ${r.getLong(0)}")
    }
    // null key → null hash, exactly like the built-in chain
    val nr = Seq((1L, Option.empty[String])).toDF("id", "k")
      .select(Sampling.hash48($"k", "s").as("nat"), oldHash48($"k", "s").as("old"))
      .collect().head
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("native url kernels match the composed built-in formulation byte-for-byte") {
    import spark.implicits._
    val adversarial = Seq(
      "HTTP://user:pw@Host.Example.com:80/a/b/../c/./d/../../e?utm_x=1&k=2#frag",
      "https://WWW.News.org:443/?gclid=abc&q=term",
      "  http://pad.example.com/x  ",
      "ftp://Archive.example.io:2121/data/7",
      "files.example.net/plain/9", "", "/rooted/only", "just-words",
      "http://h.example", "http://h.example/", "http://h.example/?",
      "http://h.example/?&&", "http://h.example/p?",
      "http://h.example:8080/p", "https://h.example:443:443/p",
      "http://a@b@c.example/p", "http://h.example/a/../../..",
      "http://h.example/./././x", "http://h.example/a//b/../c",
      "http://h.example/..", "http://h.example/p#a#b",
      "http://h.example/p?utm_=x&utm=keep&UTM_y=case",
      "http://www.example", "http://www.", "http://İstanbul.example/p",
      "http://h.example/p\nq#frag-after-newline",
      "scheme+odd.thing://Host/p", "http://h.example./p?a=%20&b=+",
      "HtTpS://MiXeD.Case.COM:443/A/B?Z=1&gclid=&fbclid",
      "http://trailing.dot.example.com.:80/p", "//proto-relative.example/p",
      "http://h.example/deep/a/../b/../c/../d/../e/../f/../g/../h/../i/../j/..")
    val rnd = new scala.util.Random(42)
    val schemes = Seq("http://", "https://", "HTTP://", "", "ftp://")
    val hosts = Seq("Example.com", "www.ex.org:443", "a.b.c.d:80", "u@p.io", "X.Y")
    val paths = Seq("", "/", "/p/q", "/a/../b", "/./x", "/a/b/../../../c")
    val queries = Seq("", "?a=1", "?utm_s=x&b=2", "?gclid=1&&c=3", "?x")
    val frags = Seq("", "#f", "#a#b")
    val random = (0 until 400).map { _ =>
      schemes(rnd.nextInt(schemes.size)) + hosts(rnd.nextInt(hosts.size)) +
        paths(rnd.nextInt(paths.size)) + queries(rnd.nextInt(queries.size)) +
        frags(rnd.nextInt(frags.size))
    }
    val df = (adversarial ++ random).zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("id", "u")
    val rows = df.select($"id", $"u",
        TextOps.urlNormalize($"u").as("n_nat"),
        TextOps.urlNormalizeComposed($"u").as("n_ref"),
        TextOps.urlSurt($"u").as("s_nat"),
        TextOps.urlSurtComposed($"u").as("s_ref"),
        TextOps.urlHost($"u").as("h_nat"),
        TextOps.urlHostComposed($"u").as("h_ref"),
        TextOps.urlScheme($"u").as("c_nat"),
        TextOps.urlSchemeComposed($"u").as("c_ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(2) == r.getString(3), s"normalize: ${r.getString(1)}")
      assert(r.getString(4) == r.getString(5), s"surt: ${r.getString(1)}")
      assert(r.getString(6) == r.getString(7), s"host: ${r.getString(1)}")
      assert(r.getString(8) == r.getString(9), s"scheme: ${r.getString(1)}")
    }
    // null in → null out, like the composed chain
    val nr = Seq((1L, Option.empty[String])).toDF("id", "u")
      .select(TextOps.urlNormalize($"u"), TextOps.urlSurt($"u"),
        TextOps.urlHost($"u"), TextOps.urlScheme($"u")).collect().head
    (0 to 3).foreach(i => assert(nr.isNullAt(i)))
    // the SQL registrations resolve to the same kernels
    val sqlRow = df.filter($"id" === 0).selectExpr("url_normalize(u)",
      "url_surt(u)", "url_host(u)", "url_scheme(u)").collect().head
    val natRow = df.filter($"id" === 0).select(TextOps.urlNormalize($"u"),
      TextOps.urlSurt($"u"), TextOps.urlHost($"u"), TextOps.urlScheme($"u"))
      .collect().head
    (0 to 3).foreach(i => assert(sqlRow.getString(i) == natRow.getString(i)))
  }

  test("hot-bucket caps bound candidate pair counts") {
    import spark.implicits._
    // 30 identical docs: uncapped LSH yields 435 pairs; cap 10 bounds it
    val dup = (0 until 30).map(i => (i.toLong, "same exact text in every single document here"))
    val df = (dup :+ (99L, "an entirely different outlier document")).toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidates(df, "text", "doc_id").count()
    val capped = Dedup.minhashCandidates(df, "text", "doc_id", maxBucket = 10).count()
    assert(uncapped == 435L)
    assert(capped == 0L, "over-cap buckets must be dropped entirely")
    val jacUncapped = Dedup.ngramJaccardPairs(df, "text", "doc_id").count()
    val jacCapped = Dedup.ngramJaccardPairs(df, "text", "doc_id", maxDocFreq = 10).count()
    assert(jacUncapped == 435L && jacCapped == 0L)
  }

  test("brute-force top-k is k rows per query, self excluded, descending") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings")
    val res = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 4).collect()
    assert(res.length == 12)
    val byQ = res.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val cos = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cos.sameElements(cos.sorted.reverse))
      assert(!rows.exists(r => r.getLong(2) == r.getLong(0)))
    }
  }

  test("sign-bit packing: strict positivity, word boundaries, width guard") {
    import spark.implicits._
    import graft.functions.VectorExprs
    // 66 dims: positives at 0, 63 (word-0 edges), 64, 65 (word 1);
    // zero and negatives must clear
    val v = Array.fill(66)(-1.0f)
    v(0) = 0.5f; v(63) = 1e-30f; v(64) = 2.0f; v(65) = 0.1f; v(1) = 0.0f
    val out = Seq(Tuple1(v.toSeq)).toDF("e")
      .select(VectorExprs.bit_sign($"e")).collect()(0).getSeq[Long](0)
    assert(out == Seq((1L << 0) | (1L << 63), (1L << 0) | (1L << 1)))
    // Hamming over packed words == sign-mismatch count from the floats
    val a = Array.tabulate(130)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val b = Array.tabulate(130)(i => if (i % 5 == 0) 1.0f else -1.0f)
    val expect = (0 until 130).count(i => (a(i) > 0) != (b(i) > 0))
    val ham = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
      .select(VectorExprs.hamming_dist(
        VectorExprs.bit_sign($"a"), VectorExprs.bit_sign($"b")))
      .collect()(0).getInt(0)
    assert(ham == expect)
    // differing signature widths raise rather than zero-extend
    val err = intercept[Exception] {
      Seq((Seq(1.0f, -1.0f), Seq(1.0f, -1.0f, 1.0f, 0f, 0f, 0f).padTo(65, 0f)))
        .toDF("a", "b")
        .select(VectorExprs.hamming_dist(
          VectorExprs.bit_sign($"a"), VectorExprs.bit_sign($"b"))).collect()
    }
    assert(err.getMessage.contains("widths differ"), err.getMessage)
    // wrong element types are loud, not garbage reads: the kernels are
    // SQL-registered, so any argument type can reach them
    val typeErr = intercept[Exception] {
      spark.sql("SELECT hamming_dist(array(1, 2), array(1, 2))").collect()
    }
    assert(typeErr.getMessage.contains("expected array<bigint>"), typeErr.getMessage)
    val idotErr = intercept[Exception] {
      spark.sql("SELECT vec_idot(array(1.5D, 2.5D), array(1.0D, 2.0D))").collect()
    }
    assert(idotErr.getMessage.contains("expected array<int>"), idotErr.getMessage)
  }

  test("sq8 quantization: floor(x+0.5) rounding, zero vector, interpreted==codegen") {
    import spark.implicits._
    import graft.functions.VectorExprs
    // mx = 1.0; -0.5 codes to floor(-63.5 + 0.5) = -63, NOT half-away's -64
    val df = Seq(
      (1L, Seq(1.0f, -1.0f, 0.5f, -0.5f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "e")
    val codes = df.select($"id", VectorExprs.sq8_encode($"e").as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(1L) == Seq(127, -127, 64, -63, 0))
    assert(codes(2L) == Seq(0, 0, 0, 0, 0))
    // interpreted eval agrees with the codegen'd DataFrame path
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal => L}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val lit = L.create(Array(1.0f, -1.0f, 0.5f, -0.5f, 0.0f),
      ArrayType(FloatType, containsNull = false))
    val interp = VectorExprs.Sq8Encode(lit).eval(null)
      .asInstanceOf[ArrayData].toIntArray.toSeq
    assert(interp == codes(1L))
    // exact integer dot matches a driver-side reference
    val idot = Seq((Seq(127, -127, 64, -63, 0), Seq(100, 50, -3, 7, 9)))
      .toDF("a", "b").select(VectorExprs.vec_idot($"a", $"b"))
      .collect()(0).getLong(0)
    assert(idot == 127L * 100 - 127L * 50 - 64L * 3 - 63L * 7)
  }

  test("hamming / sq8 top-k: k rows per query, self excluded, agree with direct reference") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    val hk = Similarity.hammingTopK(emb, queries, "vec_id", "embedding", k = 4).collect()
    assert(hk.length == 12)
    assert(!hk.exists(r => r.getLong(0) == r.getLong(2)))
    // reference: sign-mismatch counts computed on the driver
    val all = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def hamRef(a: Array[Float], b: Array[Float]): Int =
      a.indices.count(i => (a(i) > 0) != (b(i) > 0))
    hk.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val got = rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getInt(3))).toSeq
      val want = all.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, hamRef(all(q), v)) }
        .sortBy { case (id, d) => (d, id) }.take(4)
      assert(got == want, s"query $q")
    }
    val sk = Similarity.sq8TopK(emb, queries, "vec_id", "embedding", k = 4).collect()
    assert(sk.length == 12 && !sk.exists(r => r.getLong(0) == r.getLong(2)))
    sk.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val dots = rows.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(dots.sameElements(dots.sorted.reverse))
    }
    // the pair-scoring stage is codegen kernels, not UDFs or HOFs
    val plan = Similarity.hammingTopK(emb, queries, "vec_id", "embedding", k = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("transform("),
      s"binary ANN scan must codegen:\n$plan")
  }

  test("prefix rerank: full pool equals brute force; both stages broadcast; guards loud") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    // m = everything → the rerank pool is the whole corpus, so the
    // result must equal exact brute force bit-for-bit
    val pr = Similarity.prefixRerankTopK(emb, queries, "vec_id", "embedding",
        k = 4, prefixDims = 16, m = 499).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(pr == bf)
    // a small pool still returns k rows per query and every neighbor
    // must come from the coarse top-m (pool containment)
    val smallK = Similarity.prefixRerankTopK(emb, queries, "vec_id", "embedding",
      k = 4, prefixDims = 16, m = 8)
    assert(smallK.count() == 12)
    // neither stage shuffles the corpus: the only exchanges feed the
    // per-query windows, every join is broadcast
    val plan = smallK.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle-join:\n$plan")
    assert(intercept[IllegalArgumentException] {
      Similarity.prefixRerankTopK(emb, queries, "vec_id", "embedding",
        k = 10, prefixDims = 16, m = 5)
    }.getMessage.contains("m=5"))
  }

  test("vector kernels resolve through their SQL registration") {
    val row = spark.sql(
      """SELECT
           vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
           round(vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)), 9) AS c,
           bit_sign(array(1.0F, -1.0F, 0.5F)) AS s,
           hamming_dist(bit_sign(array(1.0F, -1.0F)), bit_sign(array(-1.0F, 1.0F))) AS h,
           sq8_encode(array(1.0F, -0.5F)) AS q,
           vec_idot(array(3, -2), array(10, 10)) AS i""").collect()(0)
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 1.0)
    assert(row.getSeq[Long](2) == Seq((1L << 0) | (1L << 2)))
    assert(row.getInt(3) == 2)
    assert(row.getSeq[Int](4) == Seq(127, -63))
    assert(row.getLong(5) == 10L)
  }

  test("banded hamming near-dup: equals brute force within the recall bound, guard is loud") {
    import spark.implicits._
    // planted structure: 0/1 twins (flip 2 signs), 2/3 twins (flip 5),
    // the rest random-ish far vectors
    val rnd = new scala.util.Random(3)
    def vec(): Array[Float] = Array.fill(96)(rnd.nextFloat() - 0.5f)
    val base = vec(); val twin = base.clone(); twin(7) = -base(7); twin(70) = -base(70)
    val b2 = vec(); val t2 = b2.clone()
    Seq(1, 20, 40, 65, 90).foreach(i => t2(i) = -b2(i))
    val rows = Seq(0L -> base, 1L -> twin, 2L -> b2, 3L -> t2) ++
      (4L until 40L).map(_ -> vec())
    val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("id", "e")
    val got = Similarity.hammingNearDupPairs(df, "id", "e", maxDist = 8, bandBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // brute force over signs on the driver
    val all = rows.toMap
    val want = (for {
      a <- rows.map(_._1); b <- rows.map(_._1) if a < b
      d = all(a).indices.count(i => (all(a)(i) > 0) != (all(b)(i) > 0))
      if d <= 8
    } yield (a, b, d)).sorted
    assert(got == want)
    assert(got.contains((0L, 1L, 2)) && got.contains((2L, 3L, 5)))
    // 96 dims → 2 words; bandBits=64 gives 2 bands, too narrow for
    // maxDist 8 — must raise, not under-recall
    val err = intercept[Exception] {
      Similarity.hammingNearDupPairs(df, "id", "e", maxDist = 8, bandBits = 64).collect()
    }
    assert(err.getMessage.contains("bands"), err.getMessage)
    // padding bands are EXCLUDED from the join keys: 96 dims at 2-bit
    // bands keeps bands 0..47; bands 48..63 cover only the last word's
    // zero padding — key 0 for every row, i.e. one bucket holding the
    // whole corpus, an all-pairs join in disguise
    val bands = Similarity.signBands(df, "id", "e", bandBits = 2, maxDist = 8)
      .select($"band").distinct().collect().map(_.getInt(0)).sorted
    assert(bands.toSeq == (0 until 48), s"kept bands: ${bands.mkString(",")}")
    // the recall guard counts KEPT bands: 96 dims / 16-bit bands = 6
    // bands, so maxDist 6 must raise even though 2 words × 4 sub-bands
    // would naively read as 8
    val err2 = intercept[Exception] {
      Similarity.hammingNearDupPairs(df, "id", "e", maxDist = 6, bandBits = 16).collect()
    }
    assert(err2.getMessage.contains("bands"), err2.getMessage)
  }

  test("index model artifacts: bit-exact round trip, corrupt files are loud") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings")
    val tmp = java.nio.file.Files.createTempDirectory("graft-models").toString
    // IVF: save → load reproduces every centroid component bit-for-bit
    val ivf = IvfIndex.trainReplayable(emb, "vec_id", "embedding", k = 3, iters = 2)
    IvfIndex.writeModel(ivf, s"$tmp/ivf.txt")
    val ivf2 = IvfIndex.readModel(s"$tmp/ivf.txt")
    assert(ivf2.centroids.map(_.toSeq).toSeq == ivf.centroids.map(_.toSeq).toSeq)
    // denormals / extremes round-trip too (Double.toString contract)
    val extreme = IvfIndex.Model(Array(
      Array(java.lang.Double.MIN_VALUE, -0.0, 1.0 / 3.0, 1e308, -4.9e-324)))
    IvfIndex.writeModel(extreme, s"$tmp/ext.txt")
    val ext2 = IvfIndex.readModel(s"$tmp/ext.txt")
    assert(ext2.centroids(0).toSeq.map(java.lang.Double.doubleToRawLongBits) ==
      extreme.centroids(0).toSeq.map(java.lang.Double.doubleToRawLongBits))
    // PQ: same round trip across the (subspace, code) grid
    val pq = PqIndex.trainReplayable(emb, "vec_id", "embedding", m = 4, k = 3, iters = 2)
    PqIndex.writeModel(pq, s"$tmp/pq.txt")
    val pq2 = PqIndex.readModel(s"$tmp/pq.txt")
    assert(pq2.sub.map(_.map(_.toSeq).toSeq).toSeq == pq.sub.map(_.map(_.toSeq).toSeq).toSeq)
    // corruption raises, never a silently-misshapen codebook
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/bad1.txt"),
      "# hdr\n1.0,2.0\n3.0\n")
    assert(intercept[IllegalArgumentException] {
      IvfIndex.readModel(s"$tmp/bad1.txt")
    }.getMessage.contains("ragged"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/bad2.txt"),
      "# hdr\n0\t0\t1.0\n0\t2\t2.0\n")
    assert(intercept[IllegalArgumentException] {
      PqIndex.readModel(s"$tmp/bad2.txt")
    }.getMessage.contains("grid"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/bad3.txt"),
      "# hdr\n0\t0\tnot-a-number\n")
    assert(intercept[IllegalArgumentException] {
      PqIndex.readModel(s"$tmp/bad3.txt")
    }.getMessage.contains("malformed"))
  }

  test("IVF ANN: deterministic centroids, bounded probes, high recall on clustered data") {
    import spark.implicits._
    // 3 well-separated clusters of 60 vectors each
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i % 2 == 0) 5.0f else -5.0f))
    val vecs = (0 until 180).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f)).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val m1 = IvfIndex.train(df, "embedding", k = 3, seed = 7)
    val m2 = IvfIndex.train(df, "embedding", k = 3, seed = 7)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq, "deterministic")
    // assignments must recover the 3 clusters
    val cells = IvfIndex.assign(df, "embedding", m1)
      .select($"vec_id", $"__cell").collect()
      .groupBy(r => r.getLong(0) % 3).map { case (g, rs) => g -> rs.map(_.getInt(1)).distinct }
    assert(cells.values.forall(_.length == 1), "each true cluster maps to one cell")
    // ANN vs brute force: same top-3 within a cluster-heavy corpus
    val queries = df.filter($"vec_id" < 6)
    val ann = IvfIndex.topK(df, queries, "vec_id", "embedding", m1, k = 3, nProbe = 1)
      .select($"query_id", $"neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 3)
      .select($"query_id", $"neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = exact.map { case (q, ns) => (ann.getOrElse(q, Set.empty) & ns).size.toDouble / ns.size }
    assert(recall.sum / recall.size >= 0.9, s"IVF recall ${recall.sum / recall.size}")
    // the corpus-wide assign pass is a codegen'd expression, not a UDF:
    // no per-row Seq[Float] boxing on the map-only tag stage
    val assignPlan = IvfIndex.assign(df, "embedding", m1)
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("ScalaUDF"), s"IVF assign must codegen:\n$assignPlan")
  }

  test("salted join spreads a hot key across salt partitions with identical results") {
    import spark.implicits._
    // hot key: 0 appears 1000x on the large side
    val large = ((0 until 1000).map(_ => (0L, "h")) ++ (1 to 50).map(i => (i.toLong, "t")))
      .toDF("k", "tag")
    val small = (0L to 50L).map(k => (k, s"dim$k")).toDF("k", "dim")
    val salted = SkewTools.saltedJoin(large, small, "k", salt = 8)
    val plain = large.join(small, "k")
    assert(salted.count() == plain.count())
    assert(salted.groupBy("k").count().orderBy("k").collect().toSeq ==
      plain.groupBy("k").count().orderBy("k").collect().toSeq)
  }

  // -------------------------------------------------------------- as-of

  test("as-of join picks latest right row at or before left time, ties by max key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 50L), (4L, 99L, 100L))
      .toDF("event_id", "uid", "t")
    val right = Seq(
      (10L, 100L, 1L, 5.0),   // exactly at t=100 → visible to event 1
      (10L, 100L, 2L, 6.0),   // tie on time → keep key 2
      (10L, 200L, 3L, 7.0))
      .toDF("k", "rt", "rk", "rv")
    val out = AsOfJoin(left, right, "uid", "k", "t", "rt", "rk", Seq("rk", "rv"))
      .orderBy("event_id").collect()
    assert(out(0).getAs[Long]("rk") == 2L)   // t=100: tie → max key
    assert(out(1).getAs[Long]("rk") == 3L)   // t=205: latest is 200
    assert(out(2).isNullAt(out(2).fieldIndex("rk")))  // t=50: nothing yet
    assert(out(3).isNullAt(out(3).fieldIndex("rk")))  // unknown key
  }

  // --------------------------------------------------------- multimodal

  test("multimodal pipeline: deterministic decode, embed, frame sample") {
    import spark.implicits._
    val docs = Seq((1L, "payload one"), (2L, "payload two")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMediaTable(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")

    def snap() = Multimodal.decodeImages(media, "payload", Multimodal.FakeCodec).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("decoded_width"),
        r.getAs[Int]("decoded_height"), r.getAs[Double]("mean_luma"))).sortBy(_._1)
    val dec = snap()
    assert(dec.length == 2)
    assert(snap().sameElements(dec), "deterministic")

    val emb = Multimodal.embedMedia(media, "payload", dim = 16, Multimodal.FakeCodec)
    val v = emb.select($"media_embedding").collect()(0).getSeq[Float](0)
    assert(v.length == 16)

    val frames = Multimodal.sampleFrames(media, "payload", "media_id", n = 3)
    assert(frames.count() == 6)
    assert(frames.select("frame_payload").collect()
      .map(_.getAs[Array[Byte]](0).length).forall(_ == 16)) // md5 digests
  }

  test("multimodal: REAL image decode/resize/embed over the JDK codec") {
    import spark.implicits._
    // a 40×20 PNG: left half black, right half white → mean luma ≈ 0.5
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq((1L, png(40, 20)), (2L, png(64, 32))).toDF("media_id", "payload")

    // decode: true dimensions + true luminance (ImageIoCodec is default)
    val dec = Multimodal.decodeImages(media, "payload")
      .orderBy($"media_id").collect()
    assert(dec(0).getAs[Int]("decoded_width") == 40 &&
      dec(0).getAs[Int]("decoded_height") == 20)
    assert(dec(1).getAs[Int]("decoded_width") == 64)
    assert(math.abs(dec(0).getAs[Double]("mean_luma") - 0.5) < 0.02)

    // resize: output payload is a real PNG at the target size
    val rs = Multimodal.resizeImages(media, "payload", 16, 16)
      .orderBy($"media_id").collect()
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rs(0).getAs[Array[Byte]]("resized_payload")))
    assert(back.getWidth == 16 && back.getHeight == 16)

    // embed: 16-dim (4×4 grid) intensity vector — left cells dark, right light
    val emb = Multimodal.embedMedia(media, "payload", dim = 16)
      .orderBy($"media_id").collect()(0).getSeq[Float](
        media.schema.length) // appended column
    assert(emb.length == 16)
    for (r <- 0 until 4) {
      assert(emb(r * 4) < 0.25f, s"left cell row $r should be dark")
      assert(emb(r * 4 + 3) > 0.75f, s"right cell row $r should be light")
    }

    // a still image yields its one frame; undecodable bytes (true video
    // containers: no JDK codec) are rejected, not guessed
    val still = Multimodal.sampleFrames(media, "payload", "media_id", n = 2,
      Multimodal.ImageIoCodec).collect()
    assert(still.length == 2, "one frame per still image")
    val junk = Seq((9L, Array.fill[Byte](64)(7))).toDF("media_id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.sampleFrames(junk, "payload", "media_id", n = 2,
        Multimodal.ImageIoCodec).collect()
    }
    assert(e.getCause.getMessage.contains("frame sampling"))
  }

  test("multimodal: REAL animated-GIF frame sampling (JDK codec)") {
    import spark.implicits._
    // 6 solid full-frame frames; sampling 3 → frames 0, 2, 4
    val colors = Seq(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF, 0x000000, 0x00FFFF)
    def gif(cs: Seq[Int], w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      cs.foreach { c =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, c)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); ios.close()
      bos.toByteArray
    }
    val media = Seq((1L, gif(colors, 8, 8))).toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(media, "payload", "media_id", n = 3,
      Multimodal.ImageIoCodec).orderBy("frame_idx").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    val expected = Seq(colors(0), colors(2), colors(4))
    frames.zip(expected).foreach { case (r, want) =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame_payload")))
      assert(img.getWidth == 8 && img.getHeight == 8)
      val got = img.getRGB(4, 4) & 0xFFFFFF
      def ch(v: Int, s: Int) = (v >> s) & 0xFF
      Seq(16, 8, 0).foreach(s =>
        assert(math.abs(ch(got, s) - ch(want, s)) <= 8,
          s"frame color $got vs $want at shift $s"))
    }
    // n >= frame count returns every frame once
    val all = Multimodal.sampleFrames(media, "payload", "media_id", n = 99,
      Multimodal.ImageIoCodec).collect()
    assert(all.length == 6)
  }

  test("hash split: deterministic, exhaustive, close to requested fractions") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = spark.range(0, 10000).toDF("id")
    val a = Sampling.assignSplits(df, "id", "s1", Seq("train" -> 0.8, "test" -> 0.2))
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000, "every row lands in exactly one split")
    assert(math.abs(counts("train") - 8000) < 300, s"train ≈ 80%, got ${counts("train")}")
    // identical assignment on re-run (pure function of key + salt)
    val b = Sampling.assignSplits(df, "id", "s1", Seq("train" -> 0.8, "test" -> 0.2))
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // a different salt reshuffles membership
    val c = Sampling.assignSplits(df, "id", "s2", Seq("train" -> 0.8, "test" -> 0.2))
    assert(a.except(c).count() > 0)
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      Sampling.assignSplits(df, "id", "s1", Seq("train" -> 0.5))
    }
  }

  test("stratified sample: per-stratum rates, default rate, deterministic") {
    import spark.implicits._
    val df = spark.range(0, 9000).toDF("id")
      .withColumn("grp",
        when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b").otherwise("c"))
    val s1 = Sampling.stratifiedSample(df, "grp", "id", "s1",
      Seq("a" -> 0.5, "b" -> 0.1))
    val counts = s1.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("a") - 1500) < 150, s"a ≈ 50% of 3000, got ${counts.get("a")}")
    assert(math.abs(counts("b") - 300) < 120, s"b ≈ 10% of 3000, got ${counts.get("b")}")
    assert(!counts.contains("c"), "defaultRate 0 drops unlisted strata")
    // defaultRate keeps unlisted strata at their own rate
    val s2 = Sampling.stratifiedSample(df, "grp", "id", "s1",
      Seq("a" -> 0.5), defaultRate = 1.0)
    val c2 = s2.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c2("b") == 3000 && c2("c") == 3000, "defaultRate 1.0 keeps everything unlisted")
    // pure function of (key, salt): identical on re-run
    val s1b = Sampling.stratifiedSample(df, "grp", "id", "s1",
      Seq("a" -> 0.5, "b" -> 0.1))
    assert(s1.except(s1b).count() == 0 && s1b.except(s1).count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSample(df, "grp", "id", "s1", Seq("a" -> 1.5))
    }
  }

  test("temperature sampling: smallest group keeps all, larger downsample by sqrt") {
    import spark.implicits._
    val df = (0 until 4000).map(i => (i.toLong, if (i < 3200) "big" else "small"))
      .toDF("id", "g")
    val out = Sampling.temperatureSample(df, "g", "id", "t1", alpha = 0.5)
    val counts = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("small") == 800, "smallest group keeps 100%")
    // big keeps ~sqrt(800/3200) = 50% of 3200
    assert(math.abs(counts("big") - 1600) < 160, s"big ≈ 1600, got ${counts("big")}")
    // pure function of (key, salt): identical on re-run
    val out2 = Sampling.temperatureSample(df, "g", "id", "t1", alpha = 0.5)
    assert(out.except(out2).count() == 0 && out2.except(out).count() == 0)
    // alpha = 1 keeps the natural mixture
    assert(Sampling.temperatureSample(df, "g", "id", "t1", alpha = 1.0).count() == 4000)
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(df, "g", "id", "t1", alpha = 0.0)
    }
  }

  test("unigram LM quality: rare tokens score higher, tokenless docs score 0") {
    import spark.implicits._
    val df = Seq((1L, "common common common common"), (2L, "common rare"), (3L, ""))
      .toDF("doc_id", "text")
    // corpus counts: common = 5, rare = 1, total = 6
    val out = TextOps.lmQualityScore(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 4 && out(1).getLong(1) == 2 && out(2).getLong(1) == 0)
    val s1 = out(0).getDouble(2)
    val s2 = out(1).getDouble(2)
    assert(math.abs(s1 - 0.1823) < 1e-9, s"-ln(5/6) rounds to 0.1823, got $s1")
    assert(math.abs(s2 - 0.987) < 1e-9, s"-(ln(5/6)+ln(1/6))/2 rounds to 0.987, got $s2")
    assert(s2 > s1, "the doc containing the rare token is more surprising")
    assert(out(2).getDouble(2) == 0.0)
  }

  test("token packing: sequences cross doc boundaries; shards pack independently") {
    import spark.implicits._
    import graft.operators.Sampling
    // docs of 3, 4, 2 tokens; seqLen 4 → seqs [1,2,3,4] [5,6,7,8] [9]
    val df = Seq(
      (1L, Seq(1L, 2L, 3L)), (2L, Seq(4L, 5L, 6L, 7L)), (3L, Seq(8L, 9L)))
      .toDF("doc_id", "ids")
    val out = Sampling.packTokenIds(df, "ids", "doc_id", seqLen = 4)
      .orderBy("seq_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_.getSeq[Long](2)).toSeq ==
      Seq(Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L), Seq(9L)))
    assert(out.map(_.getLong(1)).toSeq == Seq(4L, 4L, 1L))
    // sharded: each shard packs from position 0 with its own seq ids
    val sharded = Seq(
      ("a", 1L, Seq(1L, 2L, 3L)), ("a", 2L, Seq(4L, 5L)),
      ("b", 1L, Seq(6L, 7L, 8L, 9L, 10L)))
      .toDF("shard", "doc_id", "ids")
    val so = Sampling.packTokenIds(sharded, "ids", "doc_id", seqLen = 4,
      shardCol = Some("shard")).orderBy("shard", "seq_id").collect()
    assert(so.map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](3))).toSeq ==
      Seq(("a", 0L, Seq(1L, 2L, 3L, 4L)), ("a", 1L, Seq(5L)),
        ("b", 0L, Seq(6L, 7L, 8L, 9L)), ("b", 1L, Seq(10L))))
    // EOS separators: each doc gains its boundary token before packing
    val eos = Sampling.packTokenIds(df, "ids", "doc_id", seqLen = 4,
      eosId = Some(99L)).orderBy("seq_id").collect()
    // streams: 1 2 3 99 | 4 5 6 7 | 99 8 9 99
    assert(eos.map(_.getSeq[Long](2)).toSeq ==
      Seq(Seq(1L, 2L, 3L, 99L), Seq(4L, 5L, 6L, 7L), Seq(99L, 8L, 9L, 99L)))
  }

  test("token packing: segment ids are per-sequence document ordinals (r14)") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = Seq(
      (1L, Seq(1L, 2L, 3L)), (2L, Seq(4L, 5L)), (3L, Seq(6L, 7L, 8L, 9L)))
      .toDF("doc_id", "ids")
    // stream: 1 2 3 | 4 5 | 6 7 8 9 with seqLen 4 →
    // seq0 ids [1,2,3,4] segs [1,1,1,2]; seq1 [5,6,7,8] segs [1,2,2,2];
    // seq2 [9] segs [1] — segment numbering restarts per sequence
    val out = Sampling.packTokenIds(df, "ids", "doc_id", seqLen = 4,
      withSegments = true).orderBy("seq_id").collect()
    assert(out.map(_.getSeq[Long](2)).toSeq ==
      Seq(Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L), Seq(9L)))
    assert(out.map(_.getSeq[Int](3)).toSeq ==
      Seq(Seq(1, 1, 1, 2), Seq(1, 2, 2, 2), Seq(1)))
    // an EOS separator belongs to its document's segment
    val eos = Sampling.packTokenIds(df, "ids", "doc_id", seqLen = 4,
      eosId = Some(99L), withSegments = true).orderBy("seq_id").collect()
    // streams: 1 2 3 99 | 4 5 99 6 | 7 8 9 99
    assert(eos.map(_.getSeq[Int](3)).toSeq ==
      Seq(Seq(1, 1, 1, 1), Seq(1, 1, 1, 2), Seq(1, 1, 1, 1)))
    // without the flag the schema is unchanged (no segment column)
    val plain = Sampling.packTokenIds(df, "ids", "doc_id", seqLen = 4)
    assert(!plain.columns.contains("segment_ids"))
  }

  test("product quantization: codes bounded, ADC scan broadcasts queries") {
    import graft.operators.PqIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mdl = PqIndex.trainReplayable(emb, "vec_id", "embedding",
      m = 4, k = 4, iters = 2, sampleSize = 100)
    assert(mdl.m == 4 && mdl.k == 4 && mdl.subDim == 16)
    // every code in [0, k); m codes per row
    val codes = PqIndex.encode(emb, "embedding", mdl)
      .select(org.apache.spark.sql.functions.col("__pq")).collect()
      .map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 4)))
    val top = PqIndex.adcTopK(emb, emb.filter("vec_id < 3"),
      "vec_id", "embedding", mdl, topK = 3)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"queries must broadcast:\n$plan")
    val rows = top.collect() // (query_id, neighbor_id, d, rk)
    // 3 queries × 3 ranks, self excluded, distances ascend per query
    assert(rows.length == 9)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ds = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(ds.sameElements(ds.sorted))
    }
  }

  test("stupid-backoff bigram perplexity: hand-computed fixture") {
    import spark.implicits._
    import graft.operators.NgramLm
    // corpus: one doc "a b a b c". c1: a=2 b=2 c=1, N=5;
    // c2: "a b"=2, "b a"=1, "b c"=1.
    // scores: start a → 2/5; b|a → 2/2; a|b → 1/2; b|a → 1; c|b → 1/2
    // avg log10 = (log .4 + 0 + log .5 + 0 + log .5)/5 = −0.2
    // ppl = 10^0.2 = 1.5849
    val df = Seq((1L, "a b a b c"), (2L, "")).toDF("doc_id", "text")
    val out = NgramLm.perplexity(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 5 && math.abs(out(0).getDouble(2) - 1.5849) < 1e-9,
      s"expected ppl 1.5849, got ${out(0).getDouble(2)}")
    assert(out(1).getLong(1) == 0 && out(1).getDouble(2) == 0.0)
    // an unseen-context doc backs off with the α penalty: "c a" has no
    // bigram → S(a|c) = 0.4·(2/5); S(c) = 1/5
    val out2 = NgramLm.perplexity(Seq((9L, "c a")).toDF("doc_id", "text"),
      "text", "doc_id", train = Some(df)).collect()
    val expected = math.pow(10,
      -(math.log10(1.0 / 5) + math.log10(0.4 * 2.0 / 5)) / 2)
    assert(math.abs(out2(0).getDouble(2) -
      math.rint(expected * 10000) / 10000) < 1e-9)
    // min_count pruning drops singleton grams from the model
    val pruned = NgramLm.perplexity(df, "text", "doc_id", minCount = 2)
      .orderBy("doc_id").collect()
    // c pruned from c1, "b c"/"b a" pruned from c2: c|b backs off to
    // the +1 floor 0.4·1/4 (N is the PRUNED mass 2+2)
    assert(pruned(0).getDouble(2) > out(0).getDouble(2),
      "pruning the tail must make the doc more surprising")
  }

  test("trigram stupid backoff: two-level chain, α charged per backed-off level") {
    import spark.implicits._
    import graft.operators.NgramLm
    // train "x y z x y w": c1 x2 y2 z1 w1 N=6; c2 "x y"2 "y z"1 "z x"1
    // "x y w"? no — pairs: (x y)(y z)(z x)(x y)(y w) → "x y"2 "y z"1
    // "z x"1 "y w"1; c3: "x y z"1 "y z x"1 "z x y"1 "x y w"1
    val train = Seq((1L, "x y z x y w")).toDF("doc_id", "text")
    // score "w y z": pos1 S(w)=1/6; pos2 S(y|w): "w y" unseen →
    // α·c1(y)/N = .4·2/6; pos3 S(z|w y): "w y z" unseen → α·S(z|y) =
    // α·(c2("y z")/c1(y)) = .4·(1/2) = .2
    val doc = Seq((9L, "w y z")).toDF("doc_id", "text")
    val out3 = NgramLm.perplexity(doc, "text", "doc_id",
      train = Some(train), order = 3).collect()(0).getDouble(2)
    val exp3 = math.pow(10, -(math.log10(1.0 / 6) +
      math.log10(0.4 * 2.0 / 6) + math.log10(0.2)) / 3)
    assert(math.abs(out3 - math.rint(exp3 * 10000) / 10000) < 1e-9,
      s"expected $exp3, got $out3")
    // the bigram model scores pos3 by the UNPENALIZED seen bigram
    // "y z" → .5, so order=2 rates the doc less surprising
    val out2 = NgramLm.perplexity(doc, "text", "doc_id",
      train = Some(train), order = 2).collect()(0).getDouble(2)
    val exp2 = math.pow(10, -(math.log10(1.0 / 6) +
      math.log10(0.4 * 2.0 / 6) + math.log10(0.5)) / 3)
    assert(math.abs(out2 - math.rint(exp2 * 10000) / 10000) < 1e-9)
    assert(out2 < out3)
    // a seen trigram scores by the full c3/c2 ratio: "x y z" →
    // (2/6)·(c2("x y")/c1(x)=2/2)·(c3("x y z")/c2("x y")=1/2)
    val seen = NgramLm.perplexity(Seq((8L, "x y z")).toDF("doc_id", "text"),
      "text", "doc_id", train = Some(train), order = 3).collect()(0).getDouble(2)
    val expSeen = math.pow(10,
      -(math.log10(2.0 / 6) + math.log10(1.0) + math.log10(0.5)) / 3)
    assert(math.abs(seen - math.rint(expSeen * 10000) / 10000) < 1e-9)
  }

  test("perplexity filter keeps the fluent band; DSL stage wires through") {
    import spark.implicits._
    import graft.operators.NgramLm
    val df = Seq((1L, "the cat sat", "a"), (2L, "the cat sat", "a"),
      (3L, "zx qv wk", "b"), (4L, "the cat sat", "a")).toDF("doc_id", "text", "src")
    val scored = NgramLm.perplexity(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the repeated sentence is fluent (low ppl); the junk doc is not
    assert(scored(3L) > scored(1L))
    val kept = NgramLm.perplexityFilter(df, "text", "doc_id",
      maxPpl = scored(1L) + 0.001).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 4L))
    // through the curation DSL
    val piped = graft.dsl.CuratePipeline.compile(df,
      s"""{"stages": [{"op": "perplexity_filter", "max_ppl": ${scored(1L) + 0.001}}]}""")
    assert(piped.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 4L))
  }

  /** the window formulation pplBuckets' rank replaced: (doc_id, bucket)
    * from its (doc_id, lang, ppl) output, by percent_rank (exact) or by
    * the sample's order statistics at ⌈qi·n/buckets⌉ (sampled) */
  private def refPplBuckets(p: DataFrame, buckets: Int, exact: Boolean,
      ratePerM: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("ppl"), col("doc_id"))
    val withBucket =
      if (exact) p.withColumn("bucket",
        least(floor(percent_rank().over(w) * buckets), lit(buckets - 1)).cast("long"))
      else {
        val thr = p.filter(Sampling.hashBucket(col("doc_id"), salt, 1000000) < ratePerM)
          .select(col("lang"), col("ppl"), col("doc_id"), row_number().over(w).as("rn"),
            count(lit(1)).over(Window.partitionBy(col("lang"))).as("n"))
          .select(col("*"), explode(array((1 until buckets).map(lit(_)): _*)).as("qi"))
          .filter(col("rn") === greatest(lit(1L), ceil(col("qi") * col("n") / lit(buckets))))
          .groupBy(col("lang"))
          .agg(sort_array(collect_list(struct(col("qi"), col("ppl").as("t_ppl"),
            col("doc_id").as("t_doc")))).as("__thrs"))
        p.join(broadcast(thr), Seq("lang"), "left")
          .withColumn("bucket", coalesce(size(filter(col("__thrs"), t =>
            col("ppl") > t("t_ppl") ||
              (col("ppl") === t("t_ppl") && col("doc_id") > t("t_doc")))), lit(0))
            .cast("long"))
      }
    withBucket.select(col("doc_id"), col("bucket"))
  }

  /** the logical Window nodes of `df`'s optimized plan */
  private def windowsOf(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }

  test("ppl bands: both paths equal the window formulation; no window in the plan") {
    import spark.implicits._
    import graft.operators.NgramLm
    val docs = (for {
      (lang, off) <- Seq(("en", 0L), ("fr", 100L))
      i <- 1 to 6
    } yield (off + i, ("the cat sat on the mat " * i) + ("zx qv " * (7 - i)),
      lang)).toDF("doc_id", "text", "lang")
    // ratePerM = 1M keeps every row, so the sampled thresholds are the
    // exact order statistics — with n % 3 == 0 per language, the
    // lexicographic (ppl, doc_id) comparison reproduces percent_rank
    // terciles row for row
    def grab(df: DataFrame) =
      df.select("doc_id", "bucket", "band").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val sk = grab(NgramLm.pplBuckets(docs, "text", "doc_id", "lang",
      ratePerM = 1000000))
    val ex = grab(NgramLm.pplBuckets(docs, "text", "doc_id", "lang",
      exact = true))
    assert(sk == ex)
    assert(sk.map(_._3) == Set("head", "middle", "tail"))
    // equal ppl under distinct ids (repeated texts), a NULL language,
    // a one-row language, and languages of 11 and 7 rows (n not
    // divisible by the bucket count)
    val texts = Seq("the cat sat", "a dog ran far", "zx qv wk", "the cat sat on the mat",
      "qq", "the the the")
    val mixed = ((0 until 11).map(i => (i.toLong, texts(i % 4), "en")) ++
      (0 until 7).map(i => (100L + i, texts(2 + i % 4), "fr")) ++
      Seq((200L, "one lonely doc", "de")) ++
      (0 until 5).map(i => (300L + i, texts(i % 3), null: String))).toDF("doc_id", "text", "lang")
    // AQE folds tiny range partitions into one; this session keeps five,
    // so the scan's runs cross partition boundaries
    val wide = spark.newSession()
    wide.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    wide.conf.set("spark.sql.shuffle.partitions", "5")
    for (session <- Seq(spark, wide); parts <- Seq(1, 3, 7);
         (exact, rate, buckets) <- Seq((true, 250000, 3), (false, 600000, 3),
           (false, 1000000, 4))) {
      val df = session.createDataFrame(mixed.collectAsList(), mixed.schema).repartition(parts)
      val tag = s"parts=$parts exact=$exact rate=$rate buckets=$buckets " +
        s"wide=${session eq wide}"
      val got = NgramLm.pplBuckets(df, "text", "doc_id", "lang", buckets = buckets,
        exact = exact, ratePerM = rate)
      assert(windowsOf(got).isEmpty, s"a Window in pplBuckets ($tag)")
      assertSameRows(got.select("doc_id", "bucket"),
        refPplBuckets(got.select("doc_id", "lang", "ppl"), buckets, exact, rate,
          "ppl-band-v1"), s"pplBuckets $tag")
      if (exact) assert(got.filter(col("lang") === "de").head().getLong(4) == 0L)
    }
  }

  test("sketches: quantileEstimate and groupedQuantiles equal the window formulation") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    import graft.operators.Sketches
    // the window formulation both replaced: type-1 picks at ⌈q·n⌉ per group
    def ref(sample: DataFrame, g: Seq[String], qs: Seq[Double]): DataFrame =
      sample.select(col("*"),
          row_number().over(Window.partitionBy(g.map(col): _*).orderBy("v")).as("rn"),
          count(lit(1)).over(Window.partitionBy(g.map(col): _*)).as("n"))
        .select(col("*"), explode(array(qs.map(lit(_)): _*)).as("q"))
        .filter(col("rn") === greatest(lit(1L), ceil(col("q") * col("n"))))
        .select(g.map(col) ++ Seq(col("q"), col("v").as("est")): _*)
    // duplicate values, NULL values, one-row groups, a NULL group key
    val rows = (0 until 90).map { i =>
      (i.toLong, if (i % 17 == 0) None else Some((i % 9).toDouble),
        if (i % 10 == 0) null else s"g${i % 4}", i % 2)
    } ++ Seq((1000L, Some(5.0), "solo", 0), (1001L, None, "solo-null", 1))
    val base = rows.toDF("id", "v", "g", "h")
    val qs = Seq(0.1, 0.25, 0.5, 0.9, 1.0)
    val wide = spark.newSession()
    wide.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    wide.conf.set("spark.sql.shuffle.partitions", "5")
    for (session <- Seq(spark, wide); parts <- Seq(1, 3, 7); rate <- Seq(1000000, 400000)) {
      val df = session.createDataFrame(base.collectAsList(), base.schema).repartition(parts)
      val tag = s"parts=$parts rate=$rate wide=${session eq wide}"
      val sk = Sketches.quantileSample(df, "id", "v", ratePerM = rate)
      val est = Sketches.quantileEstimate(sk, qs)
      assert(windowsOf(est).isEmpty, s"a Window in quantileEstimate ($tag)")
      assertSameRows(est, ref(sk.sample, Nil, qs), s"quantileEstimate $tag")
      for (g <- Seq(Seq("g"), Seq("g", "h"))) {
        val got = Sketches.groupedQuantiles(df, g, "id", "v", qs, ratePerM = rate)
        assert(windowsOf(got).isEmpty, s"a Window in groupedQuantiles ($tag)")
        val sample = df.filter(Sampling.hashBucket(col("id"), "qsk-v1", 1000000) < rate)
          .select(g.map(col) :+ col("v").cast("double").as("v"): _*)
        assertSameRows(got, ref(sample, g, qs), s"groupedQuantiles $g $tag")
      }
    }
    // an empty sample estimates nothing
    val none = Sketches.quantileSample(base.filter(col("id") < 0), "id", "v")
    assert(Sketches.quantileEstimate(none, qs).count() == 0)
    assert(Sketches.groupedQuantiles(base.filter(col("id") < 0), Seq("g"), "id", "v", qs)
      .count() == 0)
  }

  test("vocab: chars in Spark's UTF-8 order, pieces that are chars or repeats dropped") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // U+FF21 and U+1F600: Java's UTF-16 order puts the emoji first,
    // UTF-8 (code point) order puts it last
    val corpus = Seq("ba \uFF21c \uD83D\uDE00a", "cab \uFF21").toDF("text")
    assert("\uD83D\uDE00" < "\uFF21")
    // the window formulation the vocab replaced: distinct chars ranked
    // by Spark's string order
    def refChars(lower: Boolean): Seq[(Long, String, String)] =
      corpus.select(explode(graft.functions.TextExprs.distinct_chars(col("text"), lower))
          .as("symbol")).distinct()
        .select((row_number().over(Window.orderBy(col("symbol"))) - 1).cast("long"),
          col("symbol"))
        .collect().map(r => (r.getLong(0), r.getString(1), "char")).toSeq.sortBy(_._1)
    def rows(df: DataFrame) = df.orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    for (lower <- Seq(true, false)) {
      val chars = refChars(lower)
      val c = chars.size.toLong
      val merges = Seq("a" -> "b", "c" -> "ab")
      assert(rows(Bpe.vocab(corpus, "text", merges, lower)) ==
        chars ++ Seq((c, "ab", "merge"), (c + 1, "cab", "merge")), s"bpe lower=$lower")
      val pieces = Seq("ab", "a", "ab", "\uD83D\uDE00x", "b", "\uD83D\uDE00")
      assert(rows(Wordpiece.vocab(corpus, "text", pieces, lower)) ==
        chars ++ Seq((c, "ab", "piece"), (c + 1, "\uD83D\uDE00x", "piece")),
        s"wordpiece lower=$lower")
      assert(Bpe.vocabIds(corpus, "text", merges, lower) ==
        rows(Bpe.vocab(corpus, "text", merges, lower)).map(e => e._2 -> e._1).toMap)
      assert(Wordpiece.vocabIds(corpus, "text", pieces, lower) ==
        rows(Wordpiece.vocab(corpus, "text", pieces, lower)).map(e => e._2 -> e._1).toMap)
    }
    val ids = Bpe.vocabIds(corpus, "text", Nil, lower = false)
    assert(ids("\uFF21") < ids("\uD83D\uDE00"))
  }

  test("DSIR weights: target-like docs score positive, background negative") {
    import spark.implicits._
    import graft.operators.NgramLm
    // target domain: cooking; background dominated by junk, so the
    // raw LM spreads its mass away from cooking tokens
    val docs = Seq(
      (1L, "stir the sauce then stir the pot", "en"),
      (2L, "stir the sauce slowly", "en"),
      (3L, "qq ww ee rr tt yy", "xx"),
      (5L, "zz xx cc vv bb nn", "xx"),
      (6L, "aa ss dd ff gg hh", "xx"),
      (7L, "uu ii oo pp jj kk", "xx"),
      (4L, "stir the sauce", "xx")).toDF("doc_id", "text", "lang")
    val w = NgramLm.dsirWeights(docs, "text", "doc_id",
      target = docs.filter($"lang" === "en"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 4 speaks the target's language: more probable under the
    // target LM than under the junk-diluted background
    assert(w(4L) > 0, s"target-like doc must weigh positive, got ${w(4L)}")
    assert(w(3L) < 0, s"background junk must weigh negative, got ${w(3L)}")
    assert(w(3L) < w(4L))
    // through the curation DSL: keep only target-like docs
    val piped = graft.dsl.CuratePipeline.compile(docs,
      """{"stages": [{"op": "dsir_filter", "target_where": "lang = 'en'",
          "min_weight": 0.0}]}""")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(piped.contains(4L) && !piped.contains(3L))
  }

  test("lm quality: vocab join consumes the (doc_id, tok, tf) pre-aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val df = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val plan = TextOps.lmQualityScore(df, "text", "doc_id")
      .queryExecution.optimizedPlan
    val tokJoins = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "tok")) => j
    }
    assert(tokJoins.nonEmpty, "expected the tok-keyed vocab join in the plan")
    // the join's probe side must be the (doc_id, tok) aggregate — NOT
    // the raw exploded token stream (the pre-r9 shape, which shipped
    // one join row per token OCCURRENCE and skewed on stop words)
    assert(tokJoins.exists(_.left.collectFirst {
      case a: Aggregate
        if a.groupingExpressions.flatMap(_.references.map(_.name))
          .toSet == Set("doc_id", "tok") => a
    }.nonEmpty), "join input must be the tf pre-aggregate")
  }

  test("bm25: only matching docs rank, multi-term doc first, scores descend") {
    import spark.implicits._
    val df = Seq(
      (1L, "apple banana banana"),
      (2L, "banana banana banana"),
      (3L, "apple cherry"),
      (4L, "durian durian")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(df, "text", "doc_id", Seq("apple", "banana"), k = 3)
      .collect()
    assert(out.length == 3, "doc without query terms never appears")
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    val byRank = out.sortBy(_.getLong(1))
    val scores = byRank.map(_.getDouble(2))
    assert(scores.sameElements(scores.sorted.reverse), "rank order = score order")
    assert(byRank.head.getLong(0) == 1L, "the doc holding BOTH terms ranks first")
  }

  test("pii profile: counts and ordered redaction") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith@corp.example.org now"),
      (2L, "host 192.168.0.1 and 10.0.0.255 up"),
      (3L, "call +1 555-0147 re 172.16.3.9 or a@b.io"),
      (4L, "clean text, no identifiers at all")
    ).toDF("doc_id", "text")
    val out = TextOps.piiProfile(df, "text", "doc_id").orderBy("doc_id").collect()
    assert(out(0).getInt(1) == 1 && out(0).getInt(2) == 0 && out(0).getInt(3) == 0)
    assert(out(0).getString(4) == "mail <EMAIL> now")
    assert(out(1).getInt(2) == 2)
    assert(out(1).getString(4) == "host <IP> and <IP> up")
    assert(out(2).getInt(1) == 1 && out(2).getInt(2) == 1 && out(2).getInt(3) == 1)
    assert(out(2).getString(4) == "call <PHONE> re <IP> or <EMAIL>")
    assert(out(3).getInt(1) == 0 && out(3).getInt(2) == 0 && out(3).getInt(3) == 0)
    assert(out(3).getString(4) == "clean text, no identifiers at all")
  }

  test("paragraph dedup: first occurrence survives, docs reassemble in order") {
    import spark.implicits._
    val df = Seq(
      (1L, "unique one\n\nshared boiler\n\nunique two"),
      (2L, "shared boiler\n\nonly mine"),
      (3L, "shared boiler"),
      (4L, "only mine\n\nfresh tail")).toDF("doc_id", "text")
    val out = TextOps.dedupParagraphs(df, "text", "doc_id").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // doc 1 owns the first occurrence of every one of its paragraphs
    assert(out(0) == ((1L, "unique one\n\nshared boiler\n\nunique two", 3L, 0L)))
    // doc 2 loses the boiler (doc 1, pos 1 beat it) but keeps "only mine"
    assert(out(1) == ((2L, "only mine", 1L, 1L)))
    // doc 3 loses everything → empty text, all paragraphs dropped
    assert(out(2) == ((3L, "", 0L, 1L)))
    // doc 4 loses "only mine" to doc 2 (doc 2, pos 1 < doc 4, pos 0)
    assert(out(3) == ((4L, "fresh tail", 1L, 1L)))
  }

  test("per-group cap: at most n survive, deterministic membership") {
    import spark.implicits._
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("grp", concat(lit("d"), col("id") % 7))
    val capped = Sampling.capPerGroup(df, "grp", "id", "cap-s", 50)
    val counts = capped.groupBy("grp").count().collect().map(_.getLong(1))
    assert(counts.length == 7 && counts.forall(_ == 50L))
    // groups under the cap pass through whole
    val small = Sampling.capPerGroup(df, "grp", "id", "cap-s", 1000)
    assert(small.count() == 3000)
    // survivors are a pure function of (key, salt)
    val again = Sampling.capPerGroup(df, "grp", "id", "cap-s", 50)
    assert(capped.except(again).count() == 0 && again.except(capped).count() == 0)
  }

  test("mixture materialization: epoch counts hit floor/frac split, weight 0 drops") {
    import spark.implicits._
    val df = spark.range(0, 3000).toDF("id")
      .withColumn("src", when(col("id") < 1000, "a")
        .when(col("id") < 2000, "b").otherwise("c"))
    val out = Sampling.materializeMixture(df, "src", "id", "mix-s",
      Seq("a" -> 2.5, "b" -> 0.0), defaultWeight = 1.0)
    val counts = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("b"), "weight 0 drops the group")
    assert(counts("c") == 1000, "default weight 1 keeps one copy")
    assert(math.abs(counts("a") - 2500) < 200, s"a ≈ 2500 copies, got ${counts("a")}")
    // every row appears with contiguous epochs 0..copies-1
    val epochs = out.filter($"src" === "a").groupBy("id")
      .agg(count(lit(1)).as("n"), max($"epoch").as("mx"), min($"epoch").as("mn"))
    assert(epochs.filter($"mn" =!= 0 || $"mx" =!= $"n" - 1).count() == 0)
    // copies per row is 2 or 3 for weight 2.5
    assert(epochs.filter($"n" < 2 || $"n" > 3).count() == 0)
  }

  test("text normalize: NFC composes, whitespace collapses, controls strip") {
    import spark.implicits._
    val df = Seq(
      (1L, "  cafe" + "\u0301" + "   \t du jour\r\n"), // decomposed e + acute
      (2L, "A" + "\u030A" + "\u0007" + "ring"),          // decomposed A + ring, BEL
      (3L, "already clean")).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextOps.normalizeText($"text").as("n"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out(0) == "caf" + "\u00E9" + " du jour", s"got ${out(0)}")
    assert(out(0).length == 12, "precomposed: one char for the accent")
    assert(out(1) == "\u00C5" + "ring", s"got ${out(1)}")
    assert(out(2) == "already clean")
  }

  test("bpe trainer: learns argmax merges with deterministic tiebreak") {
    import spark.implicits._
    // distinct words: low×3 lower×2 newest×4 widest×1 (Sennrich's corpus)
    val df = Seq(
      "low low low newest newest",
      "lower lower newest newest widest").toDF("text")
    val merges = Bpe.trainMerges(df, "text", nMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 0: w-e appears in lower(2) + newest(4) = 6, the max
    assert(merges(0) == ((0, "w", "e", 6L)), s"got ${merges(0)}")
    // round 1: l-o (5) ties s-t (5); lexicographic tiebreak → l-o
    assert(merges(1) == ((1, "l", "o", 5L)), s"got ${merges(1)}")
    assert(merges(2) == ((2, "s", "t", 5L)), s"got ${merges(2)}")
    // minCount stops a dry corpus early
    val few = Bpe.trainMerges(Seq("a b").toDF("text"), "text",
      nMerges = 5, minCount = 2L)
    assert(few.count() == 0, "single-occurrence pairs must not merge")
  }

  test("trainer word-length gate: a base64 blob raises loudly; ceiling is tunable (r15)") {
    import spark.implicits._
    // an unbroken 156-char base64-alphabet token (letters only, so the
    // GPT-2 pre-split can't break it on digit runs either) — the
    // pathological crawl artifact that would otherwise be a skewed
    // trainer straggler
    val blob = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz" * 3
    assert(blob.length > Bpe.MaxWordLen)
    val df = Seq("regular words here", blob).toDF("text")
    val eBpe = intercept[Exception] {
      Bpe.trainMerges(df, "text", nMerges = 1)
    }
    assert(eBpe.getMessage.contains("maxWordLen"), eBpe.getMessage)
    assert(eBpe.getMessage.contains("bpe trainer"), eBpe.getMessage)
    val eUg = intercept[Exception] {
      Unigram.train(df, "text", vocabSize = 30)
    }
    assert(eUg.getMessage.contains("unigram trainer"), eUg.getMessage)
    // byte path (r16): the ceiling is 256 MAPPED BYTES — the 156-byte
    // blob passes (ordinary long token), a 312-byte one still raises
    val okBb = ByteBpe.trainMerges(df, "text", nMerges = 1)
    assert(okBb.count() == 1, "156 mapped bytes sits under the byte ceiling")
    val eBb = intercept[Exception] {
      ByteBpe.trainMerges(Seq(blob * 2).toDF("text"), "text", nMerges = 1)
    }
    assert(eBb.getMessage.contains("byte-bpe trainer"), eBb.getMessage)
    // and a normal CJK sentence fragment (~26 chars ≈ 78 mapped bytes,
    // which the old 64-byte default hard-failed) trains fine
    val cjk = Seq("一丁丂七丄丅丆万" * 3 + "丈三",
      "一丁 一丁").toDF("text")
    assert(ByteBpe.trainMerges(cjk, "text", nMerges = 1).count() == 1)
    // wordpiece rides Bpe.wordTable → same gate
    val eWp = intercept[Exception] {
      Wordpiece.trainPieces(df, "text", nMerges = 1)
    }
    assert(eWp.getMessage.contains("maxWordLen"), eWp.getMessage)
    // a deliberately widened ceiling admits the blob
    val wide = Bpe.wordTable(df, "text", maxWordLen = 256)
    assert(wide.count() == 4, "widened ceiling must admit the blob")
    // and the default ceiling leaves clean corpora untouched
    val clean = Bpe.trainMerges(
      Seq("low low low newest newest").toDF("text"), "text", nMerges = 1)
    assert(clean.count() == 1)
  }

  test("bpe trainer batching: identical merges to batch=1, fewer rounds") {
    import spark.implicits._
    val df = Seq(
      "low low low newest newest",
      "lower lower newest newest widest").toDF("text")
    def table(m: org.apache.spark.sql.DataFrame) =
      m.orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val (m1, r1) = Bpe.trainMergesCounted(df, "text", nMerges = 8, batch = 1)
    val (m4, r4) = Bpe.trainMergesCounted(df, "text", nMerges = 8, batch = 4)
    assert(table(m4) == table(m1),
      "batched training must replay the sequential merges exactly")
    assert(r1 == 8, "batch=1 is one round per merge")
    assert(r4 < r1, s"batching must cut rounds, got $r4 vs $r1")
    // a corpus engineered so the barrier must fire: after merging the
    // argmax (a,b), the pair (x, ab) — created by that merge — outranks
    // the disjoint runner-up (c,d), so (c,d) may NOT ride in the batch
    val tricky = Seq(
      Seq.fill(100)("xab").mkString(" "),
      Seq.fill(99)("cd").mkString(" ")).toDF("text")
    val (mt1, _) = Bpe.trainMergesCounted(tricky, "text", nMerges = 3, batch = 1)
    val (mt4, _) = Bpe.trainMergesCounted(tricky, "text", nMerges = 3, batch = 4)
    assert(table(mt4) == table(mt1),
      "barrier keeps batched training exact when merge products rerank")
    assert(table(mt1).map(t => (t._2, t._3)) ==
      Seq(("a", "b"), ("x", "ab"), ("c", "d")),
      "sequential ground truth: the merge product overtakes (c,d)")
  }

  test("bpe encode: merge chain, word boundaries, symbol counts") {
    import spark.implicits._
    val merges = Seq("t" -> "h", "th" -> "e")
    val df = Seq((1L, "the cat"), (2L, "thy theme"), (3L, "")).toDF("doc_id", "text")
    val out = Bpe.encode(df, "text", "doc_id", merges).orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    // "the" fuses fully; "cat" stays chars; '|' keeps words apart
    assert(out(0) == (("the | c a t", 4L)), s"got ${out(0)}")
    // "thy" takes only the t-h merge; "theme" fuses "the" then e m e
    assert(out(1) == (("th y | the m e", 5L)), s"got ${out(1)}")
    assert(out(2) == (("", 0L)))
    // trained merges round-trip into the encoder
    val trained = Bpe.trainMerges(
      Seq("low low low newest newest", "lower lower newest newest widest").toDF("text"),
      "text", nMerges = 2).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Bpe.encode(Seq((1L, "lowest")).toDF("doc_id", "text"),
      "text", "doc_id", trained).collect()(0).getString(1)
    // merges (w,e) then (l,o): "lowest" → l o we s t → lo we s t
    assert(enc == "lo we s t", s"got $enc")
  }

  test("deterministic shuffle and sequence packing") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = spark.range(0, 500).toDF("id")
    val e1 = Sampling.deterministicShuffle(df, "id", epoch = 1).collect().map(_.getLong(0))
    val e1b = Sampling.deterministicShuffle(df, "id", epoch = 1).collect().map(_.getLong(0))
    val e2 = Sampling.deterministicShuffle(df, "id", epoch = 2).collect().map(_.getLong(0))
    assert(e1.sameElements(e1b), "same epoch → identical order")
    assert(!e1.sameElements(e2), "different epoch → different order")
    assert(e1.sorted.sameElements(0L until 500L), "a permutation, nothing lost")

    // packing: budget 10, docs of 4 tokens each → 3 docs per batch
    // (batch 0 holds exclusive-cumsum 0,4,8 — the straddler at 8 stays)
    val docs = spark.range(0, 9).toDF("id").withColumn("toks", lit(4L))
    val packed = graft.operators.Sampling.packSequences(docs, "toks", "id", budget = 10)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("batch_id")).toMap
    assert(packed == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 3L))

    // sharded packing: each shard packs independently in parallel
    val sharded = docs.withColumn("shard", col("id") % 3)
    val p2 = graft.operators.Sampling.packSequences(
      sharded, "toks", "id", budget = 8, shardCol = Some("shard"))
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("id")) ->
        r.getAs[Long]("batch_id")).toMap
    // 3 docs per shard, 4 tokens each, budget 8 → exclusive cumsums
    // 0,4,8 → batches 0,0,1 within every shard
    (0L until 3L).foreach { sh =>
      val ids = (0L until 9L).filter(_ % 3 == sh).sorted
      assert(p2((sh, ids(0))) == 0L && p2((sh, ids(1))) == 0L && p2((sh, ids(2))) == 1L)
    }
  }

  test("connected components: chains merge, separate clusters stay apart") {
    import spark.implicits._
    import graft.operators.Dedup
    // chain 1-2-3-4 plus isolated pair 8-9 plus a cycle 5-6-7-5
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L),
      (5L, 6L), (6L, 7L), (7L, 5L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 8L))
    // deterministic on repeat
    assert(Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
  }

  // ---- the DataFrame label propagation connected components replaced,
  // kept as the reference: a checkpointed join + aggregate per round, a
  // pointer jump from round 2, convergence judged on propagation alone
  private def refConnectedComponents(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val edges = Materialize.checkpoint(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    var labels = Materialize.checkpoint(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster_id")))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < 50) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("nid")).agg(min("cluster_id").as("nmin"))
      val l1 = Materialize.checkpoint(
        labels.join(neighborMin, labels("id") === neighborMin("nid"), "left")
          .select(labels("id"),
            least(labels("cluster_id"),
              coalesce(col("nmin"), labels("cluster_id"))).as("cluster_id"),
            (coalesce(col("nmin"), labels("cluster_id")) < labels("cluster_id"))
              .as("__chg")))
      changed = l1.filter(col("__chg")).count()
      if (changed == 0 || i == 0) labels = l1.drop("__chg")
      else {
        val ptr = l1.select(col("id").as("__pid"), col("cluster_id").as("__pc"))
        labels = Materialize.checkpoint(
          l1.join(ptr, l1("cluster_id") === col("__pid"), "left")
            .select(l1("id"),
              least(l1("cluster_id"),
                coalesce(col("__pc"), l1("cluster_id"))).as("cluster_id")))
      }
      i += 1
    }
    assert(changed == 0)
    labels
  }

  test("connected components: equal to the DataFrame propagation on seeded graphs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(20261019L)
    def chain(ids: Seq[Long]) = ids.zip(ids.tail)
    def cycle(ids: Seq[Long]) = chain(ids :+ ids.head)
    def star(c: Long, leaves: Seq[Long]) = leaves.map(c -> _)
    def clique(ids: Seq[Long]) = ids.combinations(2).map(p => p(0) -> p(1)).toSeq
    // a 70-node chain whose minimum sits at one end, one on shuffled ids,
    // stars, cliques and cycles on random ids, a lone self-pair and a
    // self-pair on an id with another edge
    val graphs = Seq(chain((1L to 70L).reverse), chain(rnd.shuffle((100L until 170L).toList)),
      star(200L, 201L to 220L), star(299L, Seq(230L, 231L, 232L)),
      clique(rnd.shuffle((300L until 306L).toList)), clique(Seq(310L, 311L)),
      cycle(rnd.shuffle((400L until 407L).toList)), cycle(Seq(420L, 410L, 430L)),
      Seq(4L -> 4L), Seq(500L -> 501L, 501L -> 501L)).flatten
    // duplicate and reversed pairs
    val longPairs: Seq[(java.lang.Long, java.lang.Long)] =
      (graphs ++ rnd.shuffle(graphs).take(20) ++ rnd.shuffle(graphs).take(20).map(_.swap))
        .map { case (a, b) => (Long.box(a), Long.box(b)) }
    // a NULL on either side: its partner 600 is a singleton, 601 is not
    val withNulls = longPairs ++ Seq[(java.lang.Long, java.lang.Long)](
      (600L, null), (null, 601L), (601L, 602L), (null, null))
    // string ids; U+FFFD sorts below U+1F600 in UTF-8 bytes (Spark's
    // order) but above it in UTF-16 (String.compareTo)
    def str(v: java.lang.Long): String =
      if (v == null) null
      else if (v >= 400L && v < 410L) (if (v % 2 == 0) "\uD83D\uDE00" else "\uFFFD") + v
      else f"n$v%04d"
    val strPairs = withNulls.map { case (a, b) => (str(a), str(b)) }
    val wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "5")
    val longSchema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val strSchema = StructType(Seq(StructField("a", StringType), StructField("b", StringType)))
    val inputs = Seq(
      ("long not null", StructType(longSchema.map(_.copy(nullable = false))),
        longPairs.map { case (a, b) => Row(a, b) }),
      ("long", longSchema, withNulls.map { case (a, b) => Row(a, b) }),
      ("string", strSchema, strPairs.map { case (a, b) => Row(a, b) }))
    for (session <- Seq(spark, wide); (kind, schema, rows) <- inputs) {
      val df = session.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      val want = refConnectedComponents(df, "a", "b")
      for (parts <- Seq(1, 3, 7)) {
        val got = Dedup.connectedComponents(df.repartition(parts), "a", "b")
        val tag = s"$kind parts=$parts shuffle=${session.conf.get("spark.sql.shuffle.partitions")}"
        assert(got.schema == want.schema, tag)
        assertSameRows(got, want, tag)
      }
      if (kind == "string") {
        val labels = want.collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(labels("\uD83D\uDE00400") == "\uFFFD401" && labels(null) == null)
      }
    }
  }

  test("connected components: one job per round on a 64-node chain") {
    import spark.implicits._
    val pairs = (1L until 64L).map(i => (i + 1, i)).toDF("a", "b")
    val (cc, jobs) = Jobs.of(spark)(Dedup.connectedComponents(pairs, "a", "b"))
    assert(jobs.size >= 1 && jobs.size <= 10, s"${jobs.size} jobs for a 64-node chain")
    assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 64L).map(_ -> 1L).toMap)
  }

  test("connected components: a released round logs no unpersist WARN; only the last round stays cached") {
    import spark.implicits._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cc-unpersist", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("cannot be recomputed after unpersisting"))
          warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      val pairs = (1L until 64L).map(i => (i + 1, i)).toDF("a", "b")
      val (cc, ran) = Jobs.of(spark)(Dedup.connectedComponents(pairs, "a", "b"))
      val jobs = ran.map(_.label)
      assert(jobs.count(_.startsWith("cc: round")) >= 3, jobs.mkString(", "))
      val held = sc.getPersistentRDDs.keySet -- before
      assert(held.size <= 1, s"persistent RDDs left by the rounds: $held")
      assert(cc.count() == 64L)
      assert(warned.isEmpty, warned.toArray.mkString("\n"))
    } finally {
      root.removeAppender("cc-unpersist")
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("z-order: bit interleave pins and spatial locality of the layout") {
    import spark.implicits._
    import graft.operators.ZOrder
    // interleave pins on tiny quantized values: x even bits, y odd
    val pins = spark.range(1).select(
      ZOrder.zkey2(lit(1L), lit(0L)).as("a"),
      ZOrder.zkey2(lit(0L), lit(1L)).as("b"),
      ZOrder.zkey2(lit(3L), lit(3L)).as("c"),
      ZOrder.zkey2(lit(65535L), lit(65535L)).as("d")).collect()(0)
    assert(pins.getLong(0) == 1L && pins.getLong(1) == 2L && pins.getLong(2) == 15L)
    assert(pins.getLong(3) == 0xFFFFFFFFL)
    // 3-D stride layout: dim i owns bits i, i+3, …
    val p3 = spark.range(1).select(
      ZOrder.zkeyN(Seq(lit(1L), lit(1L), lit(1L))).as("a"),
      ZOrder.zkeyN(Seq(lit(2L), lit(0L), lit(0L))).as("b")).collect()(0)
    assert(p3.getLong(0) == 7L) // 0b111
    assert(p3.getLong(1) == 8L) // bit 1 of dim 0 → position 3

    // locality: a 64×64 grid z-ordered into 16 range partitions → each
    // partition covers a compact box, and a corner box query intersects
    // only a few partitions (the reference's Morton-sort claim)
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).cast("double").as("x"),
      (col("id") / 64).cast("double").as("y"))
    val z = ZOrder.zorderBy(grid, Seq("x", "y"), 16,
      bounds = Map("x" -> (0.0, 64.0), "y" -> (0.0, 64.0)))
    val boxes = z.withColumn("p", org.apache.spark.sql.functions.spark_partition_id())
      .groupBy("p").agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(boxes.length == 16)
    // query box [0,16)² — on a row-major sort every partition would
    // intersect; on the z-order layout only a corner few do
    val hits = boxes.count { case (x0, x1, y0, y1) =>
      x0 < 16 && x1 >= 0 && y0 < 16 && y1 >= 0 }
    assert(hits <= 6, s"corner box should hit few z-order partitions, hit $hits")
    // every row survives the rewrite
    assert(z.count() == 4096)
  }

  test("z-order layout + file statistics reproduce the reference's pruning claim") {
    import spark.implicits._
    import graft.operators.ZOrder
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder")
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).cast("double").as("x"),
      (col("id") / 64).cast("double").as("y"),
      col("id").as("payload"))
    val bounds = Map("x" -> (0.0, 64.0), "y" -> (0.0, 64.0))
    ZOrder.zorderBy(grid, Seq("x", "y"), 16, bounds)
      .write.parquet(s"$dir/sorted")
    grid.repartition(16).write.parquet(s"$dir/random")
    def prunedCount(sub: String): Int = {
      val files = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
      val stats = graft.stats.FileStats.collect(spark, "parquet", files)
      graft.stats.FileStats.write(stats, s"$dir/$sub-stats")
      val conds = Seq(
        graft.stats.FileStats.Cond("x", "lt", Some(16.0), None),
        graft.stats.FileStats.Cond("y", "lt", Some(16.0), None))
      graft.stats.FileStats.pruneFiles(spark, s"$dir/$sub-stats", files, conds).size
    }
    val sortedOpens = prunedCount("sorted")
    val randomOpens = prunedCount("random")
    // the reference's Morton-sort benchmark claim, reproduced with our
    // own statistics machinery: the box query opens a fraction of the
    // z-ordered files but (nearly) all of the randomly-laid-out ones
    assert(sortedOpens <= 6, s"z-ordered layout should open few files, opened $sortedOpens")
    assert(randomOpens >= 14, s"random layout should open nearly all, opened $randomOpens")
  }

  test("file-stats pruning is distributed: only dropped names reach the driver") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-prune-dist")
    // 40 single-row-group files, file i holds ids [100i, 100i+100) and a
    // label deterministically derived from the range
    val files = (0 until 40).map { i =>
      val p = s"$dir/part-$i.parquet"
      spark.range(i * 100L, i * 100L + 100)
        .select(col("id"), concat(lit("k"), format_string("%03d", (col("id") / 100).cast("int"))).as("label"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
      new java.io.File(s"$dir/f$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    val stats = graft.stats.FileStats.collect(spark, "parquet", files)
    graft.stats.FileStats.write(stats, s"$dir/stats")
    val conds = Seq(
      graft.stats.FileStats.Cond("id", "lt", Some(500.0), None),   // keeps files 0..4
      graft.stats.FileStats.Cond("label", "lte", None, Some("k003"))) // keeps 0..3
    // +1 file unknown to the registry — pruning is never lossy
    val unknown = files :+ s"$dir/not-analyzed.parquet"
    val kept = graft.stats.FileStats.pruneFiles(spark, s"$dir/stats", unknown, conds)
    assert(kept.toSet == (files.take(4).toSet + s"$dir/not-analyzed.parquet"),
      s"expected files 0..3 + unknown, got ${kept.size}")
    // the driver-side transfer is the DROPPED NAMES ONLY: one column,
    // one row per dropped file — not the registry's files×columns rows
    val verdict = graft.stats.FileStats.droppedFiles(spark, s"$dir/stats", unknown, conds)
    assert(verdict.schema.fields.map(_.name).toSeq == Seq("nfile"))
    assert(verdict.count() == 36)
  }

  test("multimodal: REAL WAV audio decode (JDK codec)") {
    import spark.implicits._
    // 16-bit mono 8 kHz sine, amplitude 0.5, 2000 frames = 250 ms;
    // RMS of a sine of amplitude a is a/sqrt(2) ≈ 0.35355
    def wav(frames: Int, rate: Float, amp: Double): Array[Byte] = {
      val pcm = new Array[Byte](frames * 2)
      val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until frames)
        bb.putShort((amp * 32767 * math.sin(2 * math.Pi * 440 * i / rate)).toShort)
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        rate, 16, 1, 2, rate, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq((1L, wav(2000, 8000f, 0.5))).toDF("media_id", "payload")
    val r = Multimodal.decodeAudio(media, "payload").collect()(0)
    assert(r.getAs[Double]("sample_rate") == 8000.0)
    assert(r.getAs[Int]("channels") == 1)
    assert(r.getAs[Long]("duration_ms") == 250L)
    assert(math.abs(r.getAs[Double]("rms") - 0.5 / math.sqrt(2)) < 0.005)
    // non-audio bytes are rejected, not guessed
    val junk = Seq((2L, Array.fill[Byte](64)(3))).toDF("media_id", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudio(junk, "payload").collect()
    }
    assert(e.getCause.getMessage.contains("audio"))

    // REAL filter-bank embedding: the 440 Hz tone dominates its bin
    val emb = Multimodal.embedAudioMedia(media, "payload", dim = 24)
      .collect()(0).getSeq[Float](2)
    assert(emb.length == 24)
    val rate = 8000.0; val fLo = 100.0; val fHi = math.min(8000.0, rate / 2 * 0.9)
    val freqs = Array.tabulate(24)(i => fLo * math.pow(fHi / fLo, i / 23.0))
    val nearest = freqs.indices.minBy(i => math.abs(freqs(i) - 440.0))
    assert(emb.indexOf(emb.max) == nearest,
      s"440 Hz energy should land in bin $nearest (${freqs(nearest)} Hz)")
    val sortedAmps = emb.sorted
    assert(emb.max > 5 * sortedAmps(emb.length / 2),
      "tone bin must dominate the median bin")
  }

  test("multimodal: REAL WAV audio near-dup sketch (adjacent-bin Goertzel dHash)") {
    import spark.implicits._
    // two-tone mixes so the spectrum has structure across bins
    def wav(rate: Float, amp: Double, f1: Double, f2: Double): Array[Byte] = {
      val frames = 4000
      val pcm = new Array[Byte](frames * 2)
      val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (i <- 0 until frames)
        bb.putShort((amp * 16000 * (math.sin(2 * math.Pi * f1 * i / rate) +
          0.6 * math.sin(2 * math.Pi * f2 * i / rate))).toShort)
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        rate, 16, 1, 2, rate, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val codec = Multimodal.ImageIoCodec
    val original = codec.audioHash(wav(8000f, 0.9, 440, 1200))
    val quieter  = codec.audioHash(wav(8000f, 0.45, 440, 1200)) // volume change
    val otherMix = codec.audioHash(wav(8000f, 0.9, 700, 2500))  // different tones
    assert(dist(original, quieter) <= 8,
      s"a volume-scaled copy must flip few bits (${dist(original, quieter)})")
    assert(dist(original, otherMix) >= 12,
      s"a different tone mix must flip many bits (${dist(original, otherMix)})")
    // end-to-end through the hash pass + banded candidate machinery:
    // copy pair surfaces, the different mix doesn't
    val media = Seq(
      (1L, wav(8000f, 0.9, 440, 1200)),
      (2L, wav(8000f, 0.45, 440, 1200)),
      (3L, wav(8000f, 0.9, 700, 2500))).toDF("media_id", "payload")
    val hashes = Multimodal.audioHashes(media, "payload", codec)
      .select(col("media_id"), col("audio_hash"))
    val pairs = Dedup.hashCandidates(hashes, "media_id", "audio_hash",
        maxDist = 8)
      .select("a_media_id", "b_media_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"copy pair must surface: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"the different mix must not pair: $pairs")
  }

  test("document chunking: sliding window, overlap, short and empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens, 3 chunks @ size4/ov2
      (2L, "one two three"),                          // shorter than a chunk
      (3L, ""),                                       // empty → its one empty chunk
      (4L, (1 to 6).map(i => s"w$i").mkString(" "))   // n−ov exactly 2 strides
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps
      .chunkDocuments(docs, "text", "doc_id", chunkTokens = 4, overlapTokens = 2)
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // doc 1: ceil((10-2)/2)=4 chunks, stride 2, each shares 2 tokens
    assert(out.filter(_._1 == 1L).map(x => (x._2, x._3, x._4)).toSeq == Seq(
      (0, "t1 t2 t3 t4", 4), (1, "t3 t4 t5 t6", 4),
      (2, "t5 t6 t7 t8", 4), (3, "t7 t8 t9 t10", 4)))
    // doc 2: one partial chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "one two three", 3)))
    // doc 3: empty text still yields its one (empty) chunk
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0, "", 0)))
    // doc 4: 6 tokens → ceil(4/2)=2 chunks; the last is full
    assert(out.filter(_._1 == 4L).map(x => (x._2, x._3)).toSeq == Seq(
      (0, "w1 w2 w3 w4"), (1, "w3 w4 w5 w6")))
    // every token of doc 1 appears in at least one chunk
    val covered = out.filter(_._1 == 1L).flatMap(_._3.split(" ")).toSet
    assert((1 to 10).forall(i => covered.contains(s"t$i")))
  }

  test("contaminationSpans: diagonal islands find the longest verbatim quote") {
    import spark.implicits._
    val df = Seq(
      (97L, "alpha beta gamma delta epsilon zeta eta theta"), // benchmark
      (1L, "xx yy alpha beta gamma delta epsilon qq rr"), // 5-token quote
      (2L, "alpha beta gamma zz delta epsilon zeta ww"),  // two 1-shingle hits
      (3L, "nothing shared here at all")).toDF("doc_id", "text")
    val isB = col("doc_id") === 97
    val strict = Dedup.contaminationSpans(df, "text", "doc_id", isB, minRun = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 quotes 5 tokens = a run of 3 consecutive 3-shingles
    assert(strict.toSeq == Seq((1L, 97L, 3L, 5L)))
    val loose = Dedup.contaminationSpans(df, "text", "doc_id", isB, minRun = 1)
      .orderBy("train_id").collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // doc 2's two isolated shared shingles never fuse (broken diagonal)
    assert(loose.toSeq == Seq((1L, 3L, 5L), (2L, 1L, 3L)))
  }

  test("c4Clean: line rules and the 5-sentence document gate") {
    import spark.implicits._
    val goodLine = "This line is a perfectly fine sentence."
    val doc1 = Seq(
      goodLine,
      "no terminal punctuation here",       // dropped: no [.!?"]
      "Too short.",                         // dropped: < 3 words
      "Please enable JavaScript to view.",  // dropped: javascript
      "Lorem Ipsum dolor sit amet.",        // dropped: lorem ipsum
      "if (x) { return y; }.",              // dropped: '{'
      "Quoted lines can end like this\"").mkString("\n")
    val doc2 = (1 to 6).map(i => s"Sentence number $i is here.").mkString("\n")
    val df = Seq((1L, doc1), (2L, doc2), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.c4Clean(df, "text", "doc_id").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out(0)._2 == goodLine + "\n" + "Quoted lines can end like this\"")
    assert((out(0)._3, out(0)._4) == ((2L, 5L)))
    assert(!out(0)._5, "2 kept sentences < 5 → doc fails")
    assert(out(1) == ((2L, doc2, 6L, 0L, true)), "6 clean sentences pass")
    assert(out(2) == ((3L, "", 0L, 1L, false)), "empty doc: 1 line, 0 kept")
  }

  test("gopherRules: each rule trips on its own pathology") {
    import spark.implicits._
    val good = ("the quick brown fox jumps over the lazy dog and then " * 5).trim
    val df = Seq(
      (1L, good),                                    // passes all
      (2L, "the of too few words here"),             // rule_words (6 < 20)
      (3L, ("the of " + "## ## ## ## " * 10).trim),  // symbol ratio > 0.1
      (4L, (1 to 25).map(i => s"- bullet $i the of").mkString("\n")), // bullets
      (5L, ("aa " * 30 + "the of").trim)             // mean len < 3
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(df, "text", "doc_id", minWords = 20)
      .orderBy("doc_id").collect()
    def row(i: Int) = out(i)
    assert(row(0).getBoolean(row(0).fieldIndex("pass")), "good doc passes")
    assert(!row(1).getBoolean(row(1).fieldIndex("rule_words")))
    assert(!row(2).getBoolean(row(2).fieldIndex("rule_symbols")))
    assert(!row(3).getBoolean(row(3).fieldIndex("rule_bullets")),
      "25/25 bullet lines > 90%")
    assert(!row(4).getBoolean(row(4).fieldIndex("rule_mean_len")))
    // every failing doc fails overall
    (1 to 4).foreach(i => assert(!row(i).getBoolean(row(i).fieldIndex("pass"))))
  }

  test("bpe vocab: chars take lexicographic ids, merges take C+rank") {
    import spark.implicits._
    val df = Seq("cab cab bad").toDF("text")
    val v = Bpe.vocab(df, "text", Seq("a" -> "b", "c" -> "ab"))
      .orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // distinct chars {a,b,c,d} sorted; then merges ab, cab
    assert(v.toSeq == Seq(
      (0L, "a", "char"), (1L, "b", "char"), (2L, "c", "char"), (3L, "d", "char"),
      (4L, "ab", "merge"), (5L, "cab", "merge")))
  }

  test("bpe encodeIds: symbol stream maps to vocab ids; unknown chars → -1") {
    import spark.implicits._
    val merges = Seq("t" -> "h", "th" -> "e")
    val corpus = Seq((1L, "the cat")).toDF("doc_id", "text")
    val vocabIds = Bpe.vocab(corpus, "text", merges).collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    // chars a,c,e,h,t → 0..4; merges th=5, the=6
    assert(vocabIds == Map("a" -> 0L, "c" -> 1L, "e" -> 2L, "h" -> 3L,
      "t" -> 4L, "th" -> 5L, "the" -> 6L))
    val out = Bpe.encodeIds(corpus, "text", "doc_id", merges, vocabIds).collect()(0)
    // "the | c a t" → [the, c, a, t] → [6, 1, 0, 4]
    assert(out.getSeq[Long](1) == Seq(6L, 1L, 0L, 4L))
    assert(out.getLong(2) == 4L)
    val unk = Bpe.encodeIds(Seq((9L, "zz")).toDF("doc_id", "text"),
      "text", "doc_id", merges, vocabIds).collect()(0)
    assert(unk.getSeq[Long](1) == Seq(-1L, -1L), "unseen chars take UNK")
  }

  test("semDedup: within-cell lower-id wins; cross-cell twins both survive") {
    import spark.implicits._
    // two well-separated cells on the axes; explicit model (no training)
    val m = IvfIndex.Model(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),    // cell 0, keeper
      (2L, Array(1.0f, 0.01f)),   // cell 0, cos≈1 vs 1 → dropped
      (3L, Array(0.9f, 0.3f)),    // cell 0, cos .948 vs 1 → kept at τ=.99
      (4L, Array(0.0f, 1.0f)),    // cell 1, keeper
      (5L, Array(0.01f, 1.0f)),   // cell 1, cos≈1 vs 4 → dropped
      (6L, Array(0.7f, 0.72f))    // cell 1; near-parallel to 3 but OTHER cell → kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding", m, tau = 0.99)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 0, true), (2L, 0, false), (3L, 0, true),
      (4L, 1, true), (5L, 1, false), (6L, 1, true)))
    // drop-if-similar-to-ANY-lower-id (non-iterative): 2 drops even
    // though its nearest lower id (1) is itself a keeper; a row similar
    // only to a DROPPED lower id still drops — pin that contract
    val chain = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.045f)),
      (3L, Array(0.996f, 0.09f))).toDF("vec_id", "embedding")
    val chainOut = Similarity.semDedup(chain, "vec_id", "embedding",
        m, tau = 0.998).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    // cos(1,2)≈0.999 ≥ τ → 2 drops; cos(1,3)≈0.9959 < τ but
    // cos(2,3)≈0.999 ≥ τ → 3 drops because of the dropped 2
    assert(chainOut.toSeq == Seq((1L, true), (2L, false), (3L, false)))
  }

  test("image dHash: small edits flip few bits, distinct images many; banded pairs find the near-dup (r10)") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    // horizontal gradient, a lightly-edited copy, and its mirror image
    val base = png((x, _) => gray(x * 4))
    val edited = png((x, y) =>
      if (x < 4 && y < 4) gray(255) else gray(x * 4)) // tiny corner blotch
    val mirrored = png((x, _) => gray((63 - x) * 4))
    val h = Multimodal.ImageIoCodec.imageHash _
    val dist = (a: Long, b: Long) => java.lang.Long.bitCount(a ^ b)
    assert(dist(h(base), h(edited)) <= 8,
      s"a small edit must flip few bits, got ${dist(h(base), h(edited))}")
    assert(dist(h(base), h(mirrored)) >= 20,
      s"a mirrored gradient must be far, got ${dist(h(base), h(mirrored))}")
    // re-encoding through the codec's own resize is hash-stable-ish
    val reencoded = Multimodal.ImageIoCodec.resize(base, 48, 48)
    assert(dist(h(base), h(reencoded)) <= 8,
      "resize + re-encode must stay within the near-dup band")
    // end-to-end: imageHashes + banded candidates find base≈edited,
    // and exclude the mirror
    val media = Seq((1L, base), (2L, edited), (3L, mirrored))
      .toDF("media_id", "payload")
    val hashes = Multimodal.imageHashes(media, "payload")
      .select(col("media_id"), col("image_hash"))
    val pairs = Dedup.hashCandidates(hashes, "media_id", "image_hash",
        maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "the near-dup pair must surface")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      "the mirror is not a near-dup")
  }

  test("tokenBudgetSample: budget boundary, determinism, shard-local budgets (r10)") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, 10L, if (i <= 10) "a" else "b"))
      .toDF("doc_id", "n_tokens", "shard")
    // global: exactly budget/10 docs keep (every doc is 10 tokens)
    val kept = Sampling.tokenBudgetSample(docs, "n_tokens", "doc_id", "s1", 70L)
      .filter(col("keep")).count()
    assert(kept == 7L, s"7 × 10 tokens fill the 70 budget, got $kept")
    // deterministic: the same salt keeps the same ids across runs and
    // partitionings
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      Sampling.tokenBudgetSample(df, "n_tokens", "doc_id", "s1", 70L)
        .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(docs) == ids(docs.repartition(7)))
    // a different salt picks a different (equally sized) subset
    val other = Sampling.tokenBudgetSample(docs, "n_tokens", "doc_id", "s2", 70L)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(other.size == 7 && other != ids(docs))
    // shard-local: each shard fills its OWN budget
    val sharded = Sampling.tokenBudgetSample(docs, "n_tokens", "doc_id", "s1",
        30L, shardCol = Some("shard"))
      .filter(col("keep")).groupBy("shard").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sharded == Map("a" -> 3L, "b" -> 3L),
      s"each shard fills its own 30-token budget: $sharded")
    // overshoot contract: an oversized doc straddling the boundary
    // still keeps (exclusive prefix sum decides)
    val fat = Seq((1L, 60L), (2L, 60L)).toDF("doc_id", "n_tokens")
    val fatKeep = Sampling.tokenBudgetSample(fat, "n_tokens", "doc_id", "s1", 70L)
      .filter(col("keep")).count()
    assert(fatKeep == 2L, "the second doc's exclusive prefix (60) < 70 → keeps")
  }

  test("naive bayes classifier: hand-computed posteriors, OOV ignore, prior fallback (r10)") {
    import spark.implicits._
    // training: two classes with disjoint-ish vocab
    // class a: tokens {cat:3, fish:1}, 2 docs; class b: {dog:3, bone:1}, 2 docs
    val labeled = Seq(
      ("cat cat fish", "a"), ("cat", "a"),
      ("dog dog bone", "b"), ("dog", "b")).toDF("text", "label")
    // V = 4 (cat, fish, dog, bone); ctok_a = 4, ctok_b = 4; priors ln(1/2)
    val docs = Seq(
      (1L, "cat fish"),        // a: ln.5+ln(4/8)+ln(2/8); b: ln.5+2·ln(1/8) → a
      (2L, "dog dog"),          // b by a mile
      (3L, "cat zebra dog dog"),// zebra is OOV → ignored; dogs outvote cat → b
      (4L, "zebra quagga"),     // all OOV → prior fallback (tie → label 'a')
      (5L, "")                  // empty → same fallback
    ).toDF("doc_id", "text")
    val out = NbClassifier.classify(labeled, "text", "label", docs, "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(x => (x._1, x._2)).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "a"), (5L, "a")))
    // doc 1 hand-check: prior ln(.5) + ln((3+1)/(4+4)) + ln((1+1)/(4+4))
    val expected1 = math.log(0.5) + math.log(4.0 / 8) + math.log(2.0 / 8)
    assert(math.abs(out(0)._3 - expected1) < 1e-3, s"got ${out(0)._3}")
    // OOV tokens don't count toward n_tokens
    assert(out(2)._4 == 3L, "zebra is out-of-vocabulary")
    // fallback docs report the prior as the score, zero scored tokens
    assert(out(3)._4 == 0L && out(4)._4 == 0L)
    assert(math.abs(out(3)._3 - math.log(0.5)) < 1e-3)
    // minCount prunes rare (token, class) counts out of the model AND
    // the vocabulary: fish/bone disappear at minCount=2, so doc 1
    // scores on 'cat' alone
    val pruned = NbClassifier.classify(labeled, "text", "label", docs, "doc_id",
      minCount = 2L).orderBy("doc_id").collect()
    assert(pruned(0).getString(1) == "a" && pruned(0).getLong(3) == 1L)
  }

  test("NbClassifier: classify issues at most 2 jobs before the scoring plan (r11)") {
    import spark.implicits._
    val labeled = Seq((1L, "a b a", "x"), (2L, "b c", "y"), (3L, "a c a", "x"))
      .toDF("doc_id", "text", "label")
    val docs = labeled.select($"doc_id", $"text")
    val sc = spark.sparkContext
    sc.setJobGroup("nb-diet", "nb action diet probe")
    try {
      val preds = NbClassifier.classify(labeled, "text", "label", docs, "doc_id")
      // the status store fills from the async listener bus — settle
      var tries = 0
      def jobs() = sc.statusTracker.getJobIdsForGroup("nb-diet").length
      while (jobs() < 1 && tries < 50) { Thread.sleep(100); tries += 1 }
      Thread.sleep(300)
      val n = jobs()
      assert(n >= 1 && n <= 2,
        s"classify() must cost only the model checkpoint (≤2 jobs), ran $n")
      // and the plan still answers correctly (vocab size / nDocs now
      // ride as broadcast one-row frames, not driver constants)
      val out = preds.orderBy("doc_id").collect()
      assert(out.map(_.getString(1)).toSeq == Seq("x", "y", "x"))
    } finally sc.clearJobGroup()
  }

  test("curate repetition_filter: repetitive and unassessable docs drop, varied stay") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "spam spam spam spam spam spam spam spam spam spam"),
      (3L, "   ")).toDF("doc_id", "text")
    val kept = graft.dsl.CuratePipeline.compile(docs,
        """{"stages": [{"op": "repetition_filter", "max_dup_gram_frac": 0.5,
            "min_distinct_ratio": 0.5}]}""")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 fails both caps (1 distinct token, all grams dup); 3 has no
    // shingles so the gate can't assess it → dropped by contract
    assert(kept == Set(1L))
  }

  test("curate token_budget: stage keep set equals the operator's keep set") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "e f g h"), (3L, "i j k l"),
      (4L, "m n o p")).toDF("doc_id", "text")
    val staged = graft.dsl.CuratePipeline.compile(docs,
        """{"stages": [{"op": "token_budget", "salt": "s1", "budget": 8}]}""")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val counts = docs.select(col("doc_id"),
      size(graft.functions.TextExprs.tokens(col("text"), lower = true))
        .cast("long").as("n"))
    val direct = Sampling.tokenBudgetSample(counts, "n", "doc_id", "s1", 8L)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(staged == direct && staged.size == 2,
      s"budget 8 over 4-token docs keeps exactly 2 (got $staged vs $direct)")
    // row shape preserved: original columns, no helper columns
    assert(graft.dsl.CuratePipeline.compile(docs,
      """{"stages": [{"op": "token_budget", "salt": "s1", "budget": 8}]}""")
      .columns.toSeq == Seq("doc_id", "text"))
  }

  test("curate hash_neardup: near pair keeps min id, far hash untouched") {
    import spark.implicits._
    val rows = Seq((10L, 0x0123456789abcdefL), (11L, 0x0123456789abcdeeL),
      (12L, 0x7edcba9876543210L)).toDF("media_id", "image_hash")
    val kept = graft.dsl.CuratePipeline.compile(rows,
        """{"stages": [{"op": "hash_neardup", "hash_col": "image_hash",
            "max_dist": 3}]}""",
        textCol = "image_hash", idCol = "media_id")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L))
  }

  test("curate semdedup: duplicate embedding drops the higher id") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.001f, 0.0f))).toDF("vec_id", "embedding")
    val kept = graft.dsl.CuratePipeline.compile(rows,
        """{"stages": [{"op": "semdedup", "vec_col": "embedding", "k": 2,
            "iters": 3, "tau": 0.9, "round_cos": 6}]}""",
        textCol = "embedding", idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"3 sits at cos≈1 to 1 in the same cell: $kept")
  }

  // ---- the window formulation the Sampling prefix sums replaced,
  // kept as the reference: one window per shard, or one
  // unpartitioned window, over the rows before each row in order
  private def refWindow(shardCol: Option[String], order: Seq[Column]) = {
    import org.apache.spark.sql.expressions.Window
    shardCol match {
      case Some(sc) => Window.partitionBy(col(sc)).orderBy(order: _*)
      case None => Window.orderBy(order: _*)
    }
  }

  private def refPackSequences(df: DataFrame, tokenCol: String,
      orderCol: String, budget: Long, shardCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = refWindow(shardCol, Seq(col(orderCol)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("batch_id",
      floor((sum(col(tokenCol)).over(w) - col(tokenCol)) / lit(budget)).cast("long"))
  }

  private def refTokenBudget(df: DataFrame, tokenCol: String, keyCol: String,
      salt: String, budget: Long, shardCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Sampling.hashBucket(col(keyCol), salt, buckets = 1 << 30)
    val w = refWindow(shardCol, Seq(h, col(keyCol)))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("keep",
      coalesce(sum(col(tokenCol).cast("long")).over(w), lit(0L)) < budget)
  }

  private def refPackTokenIds(df: DataFrame, idsCol: String, orderCol: String,
      seqLen: Int, shardCol: Option[String], eosId: Option[Long],
      withSegments: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = refWindow(shardCol, Seq(col(orderCol)))
    val w = base.rowsBetween(Window.unboundedPreceding, -1)
    val nonNull = df.withColumn(idsCol,
      coalesce(col(idsCol), array().cast(df.schema(idsCol).dataType)))
    val src = eosId.fold(nonNull)(e => nonNull.withColumn(idsCol,
      concat(col(idsCol), array(lit(e).cast("long")))))
    val shardKeep = shardCol.map(col).toSeq
    val packed = src
      .withColumn("__off",
        coalesce(sum(size(col(idsCol)).cast("long")).over(w), lit(0L)))
      .withColumn("__doc", row_number().over(base).cast("long"))
      .select(shardKeep ++ Seq(col("__off"), col("__doc"),
        posexplode(col(idsCol)).as(Seq("__i", "__id"))): _*)
      .selectExpr(shardCol.toSeq ++ Seq(
        s"CAST((__off + __i) div $seqLen AS BIGINT) AS seq_id",
        s"CAST((__off + __i) % $seqLen AS INT) AS __slot", "__doc", "__id"): _*)
      .withColumn("__seg", dense_rank().over(Window
        .partitionBy(shardKeep :+ col("seq_id"): _*).orderBy(col("__doc"))))
      .groupBy(shardKeep :+ col("seq_id"): _*)
      .agg(count(lit(1)).as("n_tokens"), array_sort(collect_list(
        struct(col("__slot"), col("__id"), col("__seg")))).as("__structs"))
      .withColumn("input_ids", transform(col("__structs"), s => s.getField("__id")))
      .withColumn("segment_ids", transform(col("__structs"), s => s.getField("__seg")))
      .drop("__structs")
    if (withSegments) packed else packed.drop("segment_ids")
  }

  /** same columns, same rows (as a multiset) */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, what)
    val g = got.collect().map(_.toString).sorted.toSeq
    val w = want.collect().map(_.toString).sorted.toSeq
    assert(g == w, s"$what:\n  got=${g.take(5)}\n  want=${w.take(5)}")
  }

  test("prefix scan: the 200-row frame packs and budgets unsharded") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, 5L, Seq(1L, 2L), s"s${i % 4}"))
      .toDF("id", "n", "ids", "shard")
    // unsharded and sharded alike: no row cap
    for (shard <- Seq(Option.empty[String], Some("shard"))) {
      assertSameRows(Sampling.tokenBudgetSample(df, "n", "id", "v1", 100L, shard),
        refTokenBudget(df, "n", "id", "v1", 100L, shard), s"budget $shard")
      assertSameRows(Sampling.packTokenIds(df, "ids", "id", 4, shard),
        refPackTokenIds(df, "ids", "id", 4, shard, None, false), s"packTokenIds $shard")
      assertSameRows(Sampling.packSequences(df, "n", "id", 50L, shard),
        refPackSequences(df, "n", "id", 50L, shard), s"packSequences $shard")
    }
    // 100 tokens at 5 per row: the exclusive sum stays under for 20 rows
    assert(Sampling.tokenBudgetSample(df, "n", "id", "v1", 100L)
      .filter(col("keep")).count() == 20)
  }

  test("prefix scan: packing and token budgets equal the window formulation") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(20261019L)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("shard", StringType), StructField("n", LongType),
      StructField("ids", ArrayType(LongType))))
    // unique doc ids in shuffled ingest order; NULL shards, NULL token
    // counts, NULL and empty id arrays
    val rows = rnd.shuffle((0 until 60).toList).map { i =>
      Row(i.toLong, if (i % 7 == 0) null else s"s${i % 3}",
        if (i % 11 == 0) null else java.lang.Long.valueOf(rnd.nextInt(30).toLong),
        if (i % 13 == 0) null
        else Seq.fill(if (i % 5 == 0) 0 else 1 + rnd.nextInt(9))(rnd.nextInt(100).toLong))
    }
    // AQE folds these tiny range partitions into one; this session keeps
    // five, so offsets cross partition boundaries
    val wide = spark.newSession()
    wide.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    wide.conf.set("spark.sql.shuffle.partitions", "5")
    val cases =
      (for (s <- Seq(spark, wide); parts <- Seq(1, 3, 7)) yield (s, rows, parts)) ++
      Seq((wide, Seq.empty[Row], 1), (wide, rows.take(1), 1))
    for ((session, data, parts) <- cases; shard <- Seq(Option.empty[String], Some("shard"))) {
      val df = session.createDataFrame(java.util.Arrays.asList(data: _*), schema)
        .repartition(parts)
      val tag = s"rows=${data.size} parts=$parts shard=$shard wide=${session eq wide}"
      assertSameRows(Sampling.packSequences(df, "n", "doc_id", 40L, shard),
        refPackSequences(df, "n", "doc_id", 40L, shard), s"packSequences $tag")
      assertSameRows(Sampling.tokenBudgetSample(df, "n", "doc_id", "scan-v1", 200L, shard),
        refTokenBudget(df, "n", "doc_id", "scan-v1", 200L, shard), s"budget $tag")
      for ((eos, segs) <- Seq((Option.empty[Long], false), (Some(-1L), true)))
        assertSameRows(Sampling.packTokenIds(df, "ids", "doc_id", 7, shard, eos, segs),
          refPackTokenIds(df, "ids", "doc_id", 7, shard, eos, segs),
          s"packTokenIds eos=$eos segments=$segs $tag")
    }
    // tied order keys: only the order-free invariants hold
    val tied = wide.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .withColumn("doc_id", col("doc_id") % 4).repartition(3)
    val total = rows.map(r => Option(r.getSeq[Long](3)).map(_.size).getOrElse(0)).sum
    val packed = Sampling.packTokenIds(tied, "ids", "doc_id", 7).collect()
    assert(packed.map(_.getAs[Long]("n_tokens")).sum == total)
    assert(packed.length == (total + 6) / 7)
    assert(Sampling.packSequences(tied, "n", "doc_id", 40L).count() == rows.size)
    assert(Sampling.tokenBudgetSample(tied, "n", "doc_id", "scan-v1", 200L).count() == rows.size)
  }

  test("embed_text: unit-norm, word-order invariant, salt/dim sensitive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def embed(texts: Seq[String], salt: String, dim: Int): Seq[Seq[Float]] =
      texts.toDF("t")
        .select(graft.functions.TextExprs.embed_text(col("t"), salt, dim))
        .collect().toSeq
        .map(_.getAs[scala.collection.Seq[Float]](0).toSeq)
    val Seq(a, b, c, empty) = embed(Seq(
      "the quick brown fox", "fox brown QUICK the", "a wholly different doc", ""),
      "s1", 16)
    assert(a.size == 16)
    assert(math.abs(a.map(x => x.toDouble * x).sum - 1.0) < 1e-6, "unit L2 norm")
    assert(a == b, "bag-of-words: order and case must not matter")
    assert(a != c, "different text, different vector")
    assert(empty.forall(_ == 0.0f), "empty text embeds to the zero vector")
    val Seq(a2) = embed(Seq("the quick brown fox"), "s2", 16)
    assert(a != a2, "salt changes the projection")
    assert(embed(Seq("the quick brown fox"), "s1", 32).head.size == 32)
  }

  test("curate embed_text: appends the vector column semdedup consumes") {
    import spark.implicits._
    // duplicate carries the HIGHER id: k-means' replayable init needs
    // the first k lead vectors distinct
    val rows = Seq((1L, "alpha beta gamma"),
      (2L, "unrelated totally other words here"),
      (3L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = graft.dsl.CuratePipeline.compile(rows,
      """{"stages": [{"op": "embed_text", "salt": "v1", "dim": 8},
          {"op": "semdedup", "vec_col": "embedding", "k": 2, "iters": 2,
           "tau": 0.99, "round_cos": 6}]}""")
    assert(out.columns.contains("embedding"))
    // identical text → identical vectors → cos 1 ≥ tau → higher id drops
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("curate report: row k equals compile over the first k stages (sf0.01)") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val sf01 = sf.replace("sf0.001", "sf0.01")
    def stagesOf(spec: String) = (JsonMethods.parse(spec) \ "stages").children
    def check(seed: org.apache.spark.sql.DataFrame, spec: String,
        idCol: String = "doc_id"): Unit = {
      val rows = graft.dsl.CuratePipeline.report(seed, spec, idCol = idCol)
        .orderBy("stage").collect()
      assert(rows.map(_.getInt(0)).toSeq == (0 to stagesOf(spec).length))
      rows.foreach { r =>
        val k = r.getInt(0)
        val prefix = JsonMethods.compact(JsonMethods.render(
          JObject("stages" -> JArray(stagesOf(spec).take(k)))))
        assert(r.getLong(2) ==
          graft.dsl.CuratePipeline.compile(seed, prefix, idCol = idCol).count(),
          s"stage $k (${r.getString(1)}) of $spec")
      }
    }
    val docs = Tables.load(spark, sf01, "documents")
    // the q_curate_report chain
    check(docs.select("doc_id", "source", "text"),
      """{"stages": [
        {"op": "c4_clean", "require_pass": false},
        {"op": "normalize"},
        {"op": "pii_redact"},
        {"op": "dedup_exact"},
        {"op": "cap_per_group", "group": "source", "salt": "cap-v1", "cap": 7}
      ]}""")
    check(graft.queries.QueriesData.fineWebSeed(spark, sf01),
      graft.queries.QueriesData.fineWebSpec)
    // the q_curate_pipeline_v2 chain over seeded boilerplate paragraphs:
    // dedup_paragraphs joins its rebuild back, mixture replicates rows
    check(docs.select(col("doc_id"), col("lang"), col("source"), concat(col("text"),
        lit("\n\nAll rights reserved."), when(col("doc_id") % 6 === 0,
          lit("\n\nCookie policy: this site uses cookies.")).otherwise(lit("")))
        .as("text")),
      """{"stages": [
        {"op": "dedup_paragraphs"},
        {"op": "lm_quality_filter", "max_score": 3.404},
        {"op": "stratified_sample", "strata": "lang", "salt": "strat-v2",
         "rates": {"en": 0.7, "zh": 0.9}, "default_rate": 0.4},
        {"op": "mixture", "group": "source", "salt": "mix-v2",
         "weights": {"src0": 2.5, "src1": 0.5}, "default_weight": 1.0}
      ]}""")
    // the q_curate_cluster_balance and q_curate_ppl_band specs: models
    // trained on the stage input, then semi-joined back
    check(Tables.load(spark, sf01, "embeddings"),
      """{"stages": [
        {"op": "cluster_balance", "vec_col": "embedding",
         "k": 4, "iters": 5, "salt": "cbs-v1", "cap": 30}]}""", idCol = "vec_id")
    check(docs, """{"stages": [{"op": "ppl_band", "keep": ["head"]}]}""")
    // the q_curate_quantile spec: its threshold ranks a sample of the
    // stage input on the prefix scan
    check(docs, """{"stages": [
        {"op": "quantile_filter", "column": "n_chars", "q": 0.25, "keep": "above"},
        {"op": "dedup_exact"}]}""")
    // temperature_sample: a per-group count joined back to its input
    check(docs, """{"stages": [
        {"op": "normalize"},
        {"op": "temperature_sample", "group": "lang", "salt": "t-v1", "alpha": 0.5},
        {"op": "dedup_exact"}]}""")
    // a middle stage drops every row; a window stage and join-back
    // stages then run over the empty corpus
    check(docs, """{"stages": [
        {"op": "normalize"},
        {"op": "gopher_filter", "min_words": 1000000, "max_words": 2000000},
        {"op": "dedup_exact"},
        {"op": "dedup_paragraphs"},
        {"op": "repetition_filter", "max_dup_gram_frac": 0.5}]}""")
    // the fineweb spec with every checkpoint reliable. The context's
    // checkpoint dir is JVM-global and a reliable session's dir must
    // match it: the context's own dir is reused when one is set, and a
    // dir set here is unset again afterwards for the tests that point
    // reliable mode at a dir of their own
    val ckDir = spark.sparkContext.getCheckpointDir
    val rel = spark.newSession()
    rel.conf.set("spark.graft.checkpoint.mode", "reliable")
    rel.conf.set("spark.graft.checkpoint.dir",
      ckDir.map(d => new org.apache.hadoop.fs.Path(d).getParent.toString).getOrElse(
        java.nio.file.Files.createTempDirectory("graft-report-ck").toString))
    try check(graft.queries.QueriesData.fineWebSeed(rel, sf01),
      graft.queries.QueriesData.fineWebSpec)
    finally if (ckDir.isEmpty) spark.sparkContext.setCheckpointDir(null)
  }

  test("curate report: runs compile's plan once, at most compile's jobs + 2 (sf0.01)") {
    val seed = graft.queries.QueriesData.fineWebSeed(spark, sf.replace("sf0.001", "sf0.01"))
    val spec = graft.queries.QueriesData.fineWebSpec
    val compiled = Jobs.of(spark)(graft.dsl.CuratePipeline.compile(seed, spec)
      .write.format("noop").mode("overwrite").save())._2.size
    val reported = Jobs.of(spark)(
      graft.dsl.CuratePipeline.report(seed, spec).collect())._2.size
    assert(compiled > 0)
    assert(reported <= compiled + 2,
      s"report ran $reported jobs; compile and one action over it ran $compiled")
  }

  test("curate: a stage's input checkpoint runs under its label before compile returns") {
    import spark.implicits._
    def checkLabel(label: String)(compile: => DataFrame): DataFrame = {
      val ((out, returned), jobs) = Jobs.of(spark) {
        val out = compile
        (out, System.currentTimeMillis())
      }
      val runs = jobs.filter(_.label == label)
      assert(runs.nonEmpty, s"no job ran as '$label'")
      runs.foreach { j =>
        assert(j.complete && j.start <= returned && j.end <= returned,
          s"job ${j.id} as '$label' ran [${j.start}, ${j.end}]; compile returned at $returned")
      }
      out
    }
    // an in-memory, exchange-free input: only a job of the boundary's
    // own can materialize it under the label
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "spam spam spam spam spam spam spam spam")).toDF("doc_id", "text")
    val out = checkLabel("curate: repetition_filter input checkpoint")(
      graft.dsl.CuratePipeline.compile(docs,
        """{"stages": [{"op": "repetition_filter", "max_dup_gram_frac": 0.5,
            "min_distinct_ratio": 0.5}]}"""))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    // pack's prefix scan samples its range bounds and then shuffles:
    // its input, the tokenize encode, is checkpointed so it runs once
    checkLabel("curate: pack input checkpoint")(
      graft.dsl.CuratePipeline.compile(graft.queries.QueriesData.fineWebSeed(spark, sf),
        graft.queries.QueriesData.fineWebSpec))
  }

  // ------------------------------------------------------------- urls

  private def norm1(u: String): String = {
    import spark.implicits._
    Seq(u).toDF("u")
      .select(graft.operators.TextOps.urlNormalize(col("u"))).head().getString(0)
  }

  test("url_normalize: rules the gate seeds don't isolate (r12)") {
    // empty query after tracker strip drops the '?', bare '/' stays
    // when a query survives, '?' with nothing after it drops
    assert(norm1("https://A.com/x?utm_source=1") == "https://a.com/x")
    assert(norm1("https://a.com/?q=1") == "https://a.com/?q=1")
    assert(norm1("https://a.com/x?") == "https://a.com/x")
    // default port strips only under its own scheme
    assert(norm1("http://a.com:443/x") == "http://a.com:443/x")
    assert(norm1("https://a.com:80/x") == "https://a.com:80/x")
    // tracker params drop wherever they sit; survivors keep order
    assert(norm1("http://a.com/x?b=2&utm_x=0&a=1") == "http://a.com/x?b=2&a=1")
    // path case is significant, host case is not
    assert(norm1("HTTP://A.com/Path") == "http://a.com/Path")
    // a valueless tracker and a prefix-named non-tracker
    assert(norm1("http://a.com/x?gclid&gclid2=keep") == "http://a.com/x?gclid2=keep")
    // userinfo drops — user@host must not bypass host-keyed logic
    assert(norm1("http://x@ads.example.com/click") == "http://ads.example.com/click")
    assert(norm1("https://u:p@A.com:443/x") == "https://a.com/x")
    // RFC 3986 dot segments collapse; clean paths keep exact bytes
    assert(norm1("http://h.example/a/../p/1") == "http://h.example/p/1")
    assert(norm1("http://h.example/a/b/../c/./d/../../e") == "http://h.example/a/e")
    assert(norm1("http://h.example/..") == "http://h.example")   // → '/' → drops
    assert(norm1("http://h.example/../x") == "http://h.example/x")
    assert(norm1("http://h.example/a/b/..") == "http://h.example/a/")
    assert(norm1("http://h.example/a/.") == "http://h.example/a/")
    assert(norm1("http://h.example/a.b/c..d/.e") == "http://h.example/a.b/c..d/.e")
    assert(norm1("http://h.example/.../..../x") == "http://h.example/.../..../x")
    // urlPass fails CLOSED on residual dot segments (the >8-level
    // adversarial alias normalization can't collapse) — query-side
    // "/.." is data and passes
    def pass1(u: String): Boolean = {
      import spark.implicits._
      Seq(u).toDF("u")
        .select(graft.operators.TextOps.urlPass(col("u"))).head().getBoolean(0)
    }
    assert(!pass1("http://h.example" + "/s" * 9 + "/.." * 9 + "/private"))
    assert(!pass1("http://h.example/a//../b")) // the //.. RFC corner: drop
    assert(!pass1("http://h.example/x/."))
    assert(pass1("http://h.example/p?back=/../x"))
    assert(pass1(norm1("http://h.example/a/../p/1"))) // normalized → clean
    // the SQL registration answers the same bytes for the new rules
    assert(spark.sql(
      "SELECT url_normalize('http://u@H.example/a/b/../c/./d/../../e?utm_a=1')")
      .head().getString(0) == "http://h.example/a/e")
    assert(spark.sql("SELECT url_host('http://x@ads.example.com:8080/click')")
      .head().getString(0) == "ads.example.com")
    // null in → null out
    import spark.implicits._
    assert(Seq[Option[String]](None).toDF("u")
      .select(graft.operators.TextOps.urlNormalize(col("u"))).head().isNullAt(0))
    // the SQL registrations resolve and agree with the Column API
    assert(spark.sql(
      "SELECT url_normalize('HTTP://A.com:80/x?utm_a=1'), " +
        "url_host('https://B.org:8443/p'), url_scheme('FTP://c.io/d')")
      .head() == org.apache.spark.sql.Row("http://a.com/x", "b.org", "ftp"))
  }

  test("sketches: cms never underestimates and is exact sans collisions; partial sketches merge (r12)") {
    import spark.implicits._
    import graft.operators.Sketches
    val keys = (0 until 1000).map(i => i % 37).toDF("key")
    val sk = Sketches.countMin(keys, "key", width = 512, depth = 4)
    val est = Sketches.cmsEstimate(sk, keys.distinct(), "key").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val truth = (0 until 1000).groupBy(_ % 37).view.mapValues(_.size.toLong)
    truth.foreach { case (k, n) => assert(est(k) >= n, s"cms underestimated $k") }
    // 37 keys in 512×4 cells: overwhelmingly collision-free → exact
    assert(truth.count { case (k, n) => est(k) == n } >= 30)
    // a probe never inserted estimates only collision mass (usually 0)
    val missing = Sketches.cmsEstimate(sk, Seq(999999).toDF("key"), "key")
      .head().getLong(1)
    assert(missing <= truth.values.max)
    // cms counter merge: half + half == whole
    val c1 = Sketches.countMin(keys.filter(col("key") < 20), "key",
      width = 512, depth = 4)
    val c2 = Sketches.countMin(keys.filter(col("key") >= 20), "key",
      width = 512, depth = 4)
    val cm = c1.merge(c2).cells.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cw = sk.cells.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cm == cw, "cms counter merge must equal the whole-data sketch")
    intercept[IllegalArgumentException] {
      c1.merge(Sketches.countMin(keys, "key", width = 256, depth = 4))
    }
    // hll: registers of two halves merged with MAX == whole-data registers
    val all = (0 until 2000).map(i => s"k$i").toDF("key")
    val whole = Sketches.hllRegisters(all, "key").registers.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val h1 = Sketches.hllRegisters(all.filter(length(col("key")) <= 3), "key")
    val h2 = Sketches.hllRegisters(all.filter(length(col("key")) > 3), "key")
    val merged = h1.merge(h2).registers.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged == whole, "register merge must equal the whole-data sketch")
    // ...and the estimate lands near the true cardinality
    val e = Sketches.hllEstimate(Sketches.hllRegisters(all, "key"))
      .head().getDouble(0)
    assert(math.abs(e - 2000) / 2000 < 0.15, s"hll estimate off: $e")
    // null keys are loud, not silently skipped (they would bias)
    val withNull = Seq(Some(1), None).toDF("key")
    val ne = intercept[Exception] {
      Sketches.hllRegisters(withNull, "key").registers.collect()
    }
    assert(ne.getMessage.contains("null key")
      || Option(ne.getCause).exists(_.getMessage.contains("null key")))
  }

  test("sketches: bloom has no false negatives and merges; quantile sample merges and estimates land (r12)") {
    import spark.implicits._
    import graft.operators.Sketches
    val build = (0 until 800).map(i => i * 2).toDF("key")
    val sk = Sketches.bloomBuild(build, "key", m = 16384, k = 3)
    val probes = (0 until 1600).toDF("key")
    val ans = Sketches.bloomMightContain(sk, probes, "key").collect()
      .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    // every inserted key answers true — no false negatives, ever
    (0 until 800).foreach(i => assert(ans(i * 2), s"false negative on ${i * 2}"))
    // the odd keys are mostly rejected (800 keys × 3 rows in 16384 bits
    // → fp ≈ 0.3%); a majority-true answer would mean broken hashing
    val fp = (0 until 800).count(i => ans(i * 2 + 1))
    assert(fp < 40, s"implausible false-positive count: $fp/800")
    // bit-set merge: half + half == whole
    val b1 = Sketches.bloomBuild(build.filter(col("key") < 800), "key",
      m = 16384, k = 3)
    val b2 = Sketches.bloomBuild(build.filter(col("key") >= 800), "key",
      m = 16384, k = 3)
    val mergedBits = b1.merge(b2).bits.collect().map(_.getLong(0)).toSet
    val wholeBits = sk.bits.collect().map(_.getLong(0)).toSet
    assert(mergedBits == wholeBits, "bloom bit merge must equal the whole")
    intercept[IllegalArgumentException] {
      b1.merge(Sketches.bloomBuild(build, "key", m = 8192, k = 3))
    }
    // null keys are loud
    val ne = intercept[Exception] {
      Sketches.bloomBuild(Seq[Option[Int]](Some(1), None).toDF("key"), "key")
        .bits.collect()
    }
    assert(ne.getMessage.contains("null key")
      || Option(ne.getCause).exists(_.getMessage.contains("null key")))

    // quantile sketch: sample-of-union = union-of-samples (pure row
    // function), so merged estimates EQUAL whole-data estimates
    val vals = (0 until 4000).map(i => (i, (i % 1000).toDouble)).toDF("id", "v")
    val qs = Seq(0.1, 0.5, 0.9)
    val whole = Sketches.quantileSample(vals, "id", "v", ratePerM = 300000)
    val q1 = Sketches.quantileSample(vals.filter(col("id") < 2000), "id", "v",
      ratePerM = 300000)
    val q2 = Sketches.quantileSample(vals.filter(col("id") >= 2000), "id", "v",
      ratePerM = 300000)
    val we = Sketches.quantileEstimate(whole, qs).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val me = Sketches.quantileEstimate(q1.merge(q2), qs).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(we == me, "merged quantile sketch must equal the whole-data sketch")
    // ~1200-row sample over uniform [0,1000): estimates land near truth
    qs.foreach { q =>
      assert(math.abs(we(q) - q * 1000) < 60, s"q=$q estimate off: ${we(q)}")
    }
    intercept[IllegalArgumentException] { q1.merge(
      Sketches.quantileSample(vals, "id", "v", ratePerM = 100000)) }
    intercept[IllegalArgumentException] {
      Sketches.quantileEstimate(whole, Seq(1.5))
    }
  }

  test("as-of forward/tolerance and OHLC bars: mirror carry, bounded matches, tie-deterministic bars (r12)") {
    import spark.implicits._
    import graft.operators.{AsOfJoin, TimeSeries}
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val left = Seq((1L, 7L, ts(100)), (2L, 7L, ts(500)), (3L, 7L, ts(5000)))
      .toDF("lid", "k", "t")
    val right = Seq(
      (10L, 7L, ts(100), 1.0),  // coincident with lid 1
      (11L, 7L, ts(100), 2.0),  // same instant — tiebreak decides
      (12L, 7L, ts(600), 3.0))
      .toDF("rid", "k", "rt", "v")
    // forward: lid 1 matches the COINCIDENT rows (≥), least tiebreak
    // (rid 10); lid 2 matches rid 12; lid 3 has nothing ahead
    val fwd = AsOfJoin(left, right, "k", "k", "t", "rt", "rid", Seq("rid", "v"),
        direction = "forward")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(fwd(1L) == Some(10L), s"forward tie must take least tiebreak: $fwd")
    assert(fwd(2L) == Some(12L) && fwd(3L) == None)
    // backward keeps the documented greatest-tiebreak semantics
    val bwd = AsOfJoin(left, right, "k", "k", "t", "rt", "rid", Seq("rid", "v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(bwd(1L) == Some(11L), s"backward tie must take greatest tiebreak: $bwd")
    // tolerance: lid 2's forward match sits 100 s ahead — a 50 s bound
    // nulls it, a 200 s bound keeps it
    val tight = AsOfJoin(left, right, "k", "k", "t", "rt", "rid", Seq("rid"),
        direction = "forward", toleranceUs = Some(50L * 1000000L))
      .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(tight(2L), "50s tolerance must null the 100s-ahead match")
    assert(!tight(1L), "a coincident match always survives tolerance")
    intercept[IllegalArgumentException] {
      AsOfJoin(left, right, "k", "k", "t", "rt", "rid", Nil, direction = "sideways")
    }
    // OHLC: open/close break timestamp ties by id
    val ev = Seq(
      (1L, ts(10), "a", 5.0), (2L, ts(10), "a", 7.0), // tied open
      (3L, ts(90), "a", 1.0), (4L, ts(90), "a", 9.0)) // tied close
      .toDF("event_id", "ts", "g", "value")
    val bar = TimeSeries.ohlcBars(ev, "ts", "event_id", "value",
      groupCols = Seq("g"), barWidth = "1 hour").head()
    assert(bar.getAs[Double]("bar_open") == 5.0)   // id 1 wins the tie
    assert(bar.getAs[Double]("bar_close") == 9.0)  // id 4 wins the tie
    assert(bar.getAs[Double]("bar_high") == 9.0 &&
      bar.getAs[Double]("bar_low") == 1.0 && bar.getAs[Long]("n") == 4)
  }

  test("ewma + funnel report: closed-form smoothing, lag cap honored, conversion rates add up (r12)") {
    import spark.implicits._
    import graft.operators.{Sessions, TimeSeries}
    // constant series smooths to itself; a step series is closed-form:
    // after the step at t3 of 0,0,10: ewma = 10·2^40/(2^40+2^39+2^38)
    val series = Seq(("a", 1L, 0.0), ("a", 2L, 0.0), ("a", 3L, 10.0),
      ("b", 1L, 7.0), ("b", 2L, 7.0))
      .toDF("g", "t", "x")
    val got = TimeSeries.ewmaHalf(series, Seq("g"), "t", "x")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got(("b", 2L)) == 7.0, "constant series must smooth to itself")
    val expected = BigDecimal(10.0 * (1L << 40) /
      ((1L << 40) + (1L << 39) + (1L << 38)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("a", 3L)) == expected, s"step smoothing: ${got(("a", 3L))} != $expected")
    // lag cap: with maxLag=1 only the previous row contributes
    val capped = TimeSeries.ewmaHalf(series, Seq("g"), "t", "x", maxLag = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // t3 sees rows 2..3: (10·2 + 0·1)/3 = 6.666667
    assert(capped(("a", 3L)) == 6.666667, s"lag cap: ${capped(("a", 3L))}")
    intercept[IllegalArgumentException] {
      TimeSeries.ewmaHalf(series, Seq("g"), "t", "x", maxLag = 60)
    }
    // ungrouped form refused OUTRIGHT: it would plan the bounded-lag
    // self-join as a nested loop over the whole series (r12 wrong #1)
    val eg = intercept[IllegalArgumentException] {
      TimeSeries.ewmaHalf(series, Nil, "t", "x")
    }
    assert(eg.getMessage.contains("groupCols"))
    // duplicate orderCol values raise LOUDLY instead of smoothing a
    // tie-order-dependent lag structure (r12 wrong #2)
    val dup = Seq(("a", 1L, 1.0), ("a", 1L, 2.0)).toDF("g", "t", "x")
    val ed = intercept[Exception] {
      TimeSeries.ewmaHalf(dup, Seq("g"), "t", "x").collect()
    }
    assert(ed.getMessage.contains("duplicate"), s"got ${ed.getMessage}")
    // NULL order keys raise too: consecutive nulls sort adjacently but
    // null === null is null, so the === duplicate guard alone would
    // miss them and smooth a tie-order-dependent structure (ADVICE r13)
    val nul = Seq(("a", Option.empty[Long], 1.0), ("a", None, 2.0))
      .toDF("g", "t", "x")
    val en = intercept[Exception] {
      TimeSeries.ewmaHalf(nul, Seq("g"), "t", "x").collect()
    }
    assert(en.getMessage.contains("null"), s"got ${en.getMessage}")
    // |x|·scale past 2^(61−maxLag) raises — the long numerator would
    // otherwise WRAP silently under non-ANSI sum (ADVICE r12)
    val big = Seq(("a", 1L, math.pow(2, 55)), ("a", 2L, 1.0)).toDF("g", "t", "x")
    val eo = intercept[Exception] {
      TimeSeries.ewmaHalf(big, Seq("g"), "t", "x").collect()
    }
    assert(eo.getMessage.contains("overflow"), s"got ${eo.getMessage}")
    // funnel report is the funnel's own tally
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = Seq(
      (1L, ts(0), 1L, "view", 0.0), (2L, ts(10), 1L, "click", 0.0),
      (3L, ts(20), 1L, "purchase", 0.0),
      (4L, ts(0), 2L, "view", 0.0), (5L, ts(10), 2L, "click", 0.0),
      (6L, ts(0), 3L, "view", 0.0),
      (7L, ts(0), 4L, "error", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val rep = Sessions.funnelReport(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), gapMinutes = 10).head()
    assert(rep.getAs[Long]("n_sessions") == 4)
    assert(rep.getAs[Long]("reached_1") == 3 &&
      rep.getAs[Long]("reached_2") == 2 && rep.getAs[Long]("reached_3") == 1)
    assert(rep.getAs[Double]("rate_1") == 0.75 &&
      rep.getAs[Double]("rate_2") == 0.666667 &&
      rep.getAs[Double]("rate_3") == 0.5)
  }

  test("wordpiece: likelihood criterion diverges from raw counts; greedy encode is longest-match, code-point safe (r12)") {
    import spark.implicits._
    import graft.operators.{Bpe, Wordpiece}
    // 'ee' occurs 4× but e is everywhere (ratio 4/(14·14)≈0.02);
    // 'qz' occurs 3× and q/z occur nowhere else (ratio 3/9≈0.33):
    // likelihood picks qz, raw count picks ee
    val corpus = (Seq.fill(4)("eee") ++ Seq.fill(3)("qz") ++ Seq.fill(2)("ee"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val words = Bpe.wordTable(corpus, "text")
    val topByCount = Bpe.pairStats(words)
      .orderBy(col("pair_count").desc, col("l_sym"), col("r_sym"))
      .head()
    assert((topByCount.getString(0), topByCount.getString(1)) == ("e", "e"))
    val wp = Wordpiece.trainPieces(corpus, "text", nMerges = 1).head()
    assert((wp.getString(1), wp.getString(2)) == ("q", "z"),
      s"likelihood criterion must pick the exclusive pair, got $wp")

    // greedy longest-match: 'theater' → the|at|er (3 beats 2 at pos 0);
    // unmatched chars fall back singly
    val vocab = Seq("the", "th", "er", "at", "ing")
    val enc = Wordpiece.encode(Seq((1L, "theater xyz")).toDF("id", "text"),
      "text", "id", vocab).head()
    assert(enc.getString(1) == "the at er | x y z", s"got ${enc.getString(1)}")
    assert(enc.getLong(2) == 6)
    // piece lengths count CODE POINTS: a surrogate-pair piece matches
    // as two symbols, not four UTF-16 units
    val emoji = Wordpiece.encode(Seq((1L, "😀😀a"))
      .toDF("id", "text"), "text", "id", Seq("😀😀")).head()
    assert(enc != null && emoji.getLong(2) == 2, s"got ${emoji.getString(1)}")
    assert(emoji.getString(1) == "😀😀 a")
    // empty text encodes to the empty stream
    val empty = Wordpiece.encode(Seq((1L, "")).toDF("id", "text"),
      "text", "id", vocab).head()
    assert(empty.getString(1) == "" && empty.getLong(2) == 0)
    // minCount stops training before nMerges on a tiny corpus
    val few = Wordpiece.trainPieces(corpus, "text", nMerges = 50,
      minCount = 3L)
    assert(few.count() < 50)
    // vocab id map is collision-free: a piece already in the corpus
    // alphabet (or repeated in the list) is dropped before ids assign,
    // so every symbol has EXACTLY one token_id (ADVICE r12)
    val vr = Wordpiece.vocab(Seq((1L, "the")).toDF("id", "text"), "text",
        pieces = Seq("th", "e", "th", "he"))
      .orderBy("token_id").collect()
    val symbols = vr.map(_.getString(1)).toSeq
    assert(symbols == Seq("e", "h", "t", "th", "he"),
      s"vocab symbols: $symbols")
    assert(vr.map(_.getLong(0)).toSeq == (0L to 4L),
      "piece ids must be dense after the alphabet")
  }

  test("funnel plan: ONE shuffle total, no joins, step count is plan-free (r14)") {
    import spark.implicits._
    import graft.operators.Sessions
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = (0 until 200).map(i =>
      (i.toLong, ts(i), (i % 7).toLong, Seq("view", "click", "buy")(i % 3)))
      .toDF("event_id", "ts", "user_id", "event_type")
    def shuffles(steps: Seq[String]): Int = {
      val plan = Sessions.funnel(ev, "user_id", "ts", "event_type",
        steps, gapMinutes = 10).queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"one-pass funnel must not join:\n$plan")
      "Exchange hashpartitioning".r.findAllIn(plan).length
    }
    // the whole funnel costs one user-key shuffle, for ANY step depth
    val s3 = shuffles(Seq("view", "click", "buy"))
    val s6 = shuffles(Seq("view", "click", "buy", "view", "click", "buy"))
    assert(s3 == s6, s"step count changed the plan: $s3 vs $s6 shuffles")
    assert(s3 <= 2, s"funnel must be one logical shuffle, got $s3 exchanges")
  }

  test("st_make_line: arrival order never leaks into the trajectory; measures chain (r14)") {
    import spark.implicits._
    import graft.functions.GeoExprs
    // rows arrive scrambled; the ord column alone decides the path
    val pts = Seq((1L, 3, 9, 0), (1L, 1, 3, 4), (1L, 2, 6, 0),
      (2L, 2, 8, 6), (2L, 1, 0, 0))
      .toDF("g", "o", "x", "y").repartition(4)
    val out = pts.groupBy($"g")
      .agg(GeoExprs.st_make_line($"o", $"x", $"y").as("wkt"))
      .select($"g", col("wkt"),
        GeoExprs.st_length(col("wkt")).as("len"),
        GeoExprs.st_npoints(col("wkt")).as("np"))
      .orderBy($"g").collect()
    assert(out(0).getAs[String]("wkt") == "LINESTRING (3 4, 6 0, 9 0)")
    assert(out(0).getAs[Double]("len") == 8.0) // 5 + 3
    assert(out(0).getAs[Int]("np") == 3)
    assert(out(1).getAs[String]("wkt") == "LINESTRING (0 0, 8 6)")
    assert(out(1).getAs[Double]("len") == 10.0)
    // a null coordinate raises loudly instead of silently leaving a
    // hole in the trajectory
    val holey = Seq((1L, 1, Some(0), Some(0)), (1L, 2, None, Some(4)))
      .toDF("g", "o", "x", "y")
    val e = intercept[Exception] {
      holey.groupBy($"g")
        .agg(GeoExprs.st_make_line($"o", $"x", $"y").as("wkt")).collect()
    }
    assert(e.getMessage.contains("null x coordinate"), e.getMessage)
  }

  test("unigram: Viterbi argmax with longer-last-piece ties, OOV floor, code points, codegen==interpreted (r14)") {
    import spark.implicits._
    import graft.operators.Unigram
    import graft.functions.TextExprs
    def enc1(text: String, vocab: Seq[(String, Long)], unk: Long): (String, Long) = {
      val r = Unigram.encode(Seq((1L, text)).toDF("id", "text"),
        "text", "id", vocab, unk, lower = false).head()
      (r.getString(1), r.getLong(2))
    }
    // Viterbi beats greedy: greedy longest-match would take "abc"(−9),
    // but a(−1)+bc(−2) = −3 scores higher
    assert(enc1("abc", Seq("abc" -> -9L, "a" -> -1L, "bc" -> -2L), -20L) ==
      ("a bc", 2L))
    // exact tie → the LONGER LAST piece wins (smallest split point)
    assert(enc1("ab", Seq("ab" -> -2L, "a" -> -1L, "b" -> -1L), -20L) ==
      ("ab", 1L))
    // last pieces equal → the second-to-last decides: aa+b ties a+a+b
    assert(enc1("aab", Seq("aa" -> -2L, "a" -> -1L, "b" -> -1L), -20L) ==
      ("aa b", 2L))
    // OOV floor: a single char outside the vocab scores unk, so the
    // pass is total; a cheap-enough unk outbids a real piece
    assert(enc1("xy", Seq("a" -> -1L), -5L) == ("x y", 2L))
    assert(enc1("ab", Seq("ab" -> -11L), -5L) == ("a b", 2L),
      "two unk singles (−10) must beat the −11 piece")
    // piece lengths count CODE POINTS: a surrogate-pair piece is one
    // symbol step of two code points, not four UTF-16 units
    assert(enc1("😀a", Seq("😀a" -> -1L), -20L) == ("😀a", 1L))
    assert(enc1("😀😀", Seq("a" -> -1L), -5L) == ("😀 😀", 2L))
    // word boundaries: words encode independently, joined by " | "
    assert(enc1("ab ab", Seq("ab" -> -1L), -20L) == ("ab | ab", 2L))
    // codegen == interpreted: the df path runs the generated code; the
    // expression's own eval() is the interpreted path
    val vocab = Seq("table" -> -10L, "ta" -> -4L, "ab" -> -2L,
      "le" -> -4L, "t" -> -4L, "a" -> -3L)
    val viaDf = enc1("table stable", vocab, -9L)
    val interpreted = TextExprs.UgEncode(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString("table stable"),
          org.apache.spark.sql.types.StringType),
        vocab, -9L, lower = false)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(interpreted.getUTF8String(0).toString == viaDf._1 &&
      interpreted.getInt(1).toLong == viaDf._2,
      s"interpreted ${interpreted.getUTF8String(0)} != codegen ${viaDf._1}")
    // null text → null result, not a crash
    val nr = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(TextExprs.ug_encode(col("text"), vocab, -9L)).head()
    assert(nr.isNullAt(0))
  }

  test("bpe batching randomized: batch=3 replays batch=1 exactly over 6 random corpora (r14)") {
    import spark.implicits._
    import graft.operators.Bpe
    // the barrier proof ("members after the argmax must strictly
    // outrank every pair sharing a symbol with the batch; product
    // collisions truncate") is the subtlest argument in the trainer —
    // random tie-dense corpora over a 3-letter alphabet probe it far
    // harder than the two fixed pins
    val rnd = new scala.util.Random(20260815L)
    (1 to 6).foreach { trial =>
      val corpus = (0 until 60).map { i =>
        (i.toLong, Seq.fill(2 + rnd.nextInt(5))("abc" (rnd.nextInt(3))).mkString)
      }.toDF("id", "text")
      val (m1, r1) = Bpe.trainMergesCounted(corpus, "text", nMerges = 6,
        batch = 1)
      val (m3, r3) = Bpe.trainMergesCounted(corpus, "text", nMerges = 6,
        batch = 3)
      val s1 = m1.orderBy("rank").collect().map(_.toString).toSeq
      val s3 = m3.orderBy("rank").collect().map(_.toString).toSeq
      assert(s1 == s3, s"trial $trial: batch=3 diverged\n  1: $s1\n  3: $s3")
      assert(r3 <= r1, s"trial $trial: batching must never add rounds")
    }
  }

  test("pack randomized: prefix-sum windows equal concat-and-slice, with eos and shards (r14)") {
    import spark.implicits._
    import graft.operators.Sampling
    val rnd = new scala.util.Random(20260815L)
    (1 to 3).foreach { trial =>
      val docs = (0 until 40).map { i =>
        val ids = Seq.fill(rnd.nextInt(10))(rnd.nextInt(100).toLong)
        (i.toLong, s"s${i % 3}", if (i % 13 == 0) null else ids)
      }
      val df = docs.toDF("doc_id", "shard", "ids")
      val seqLen = 5 + rnd.nextInt(8)
      for (eos <- Seq(Option.empty[Long], Some(-1L));
           shard <- Seq(Option.empty[String], Some("shard"))) {
        val got = Sampling.packTokenIds(df, "ids", "doc_id", seqLen,
            shardCol = shard, eosId = eos)
          .collect().map { r =>
            val key = shard.map(_ => r.getAs[String]("shard")).getOrElse("")
            (key, r.getAs[Long]("seq_id")) ->
              (r.getAs[Long]("n_tokens"), r.getAs[Seq[Long]]("input_ids"))
          }.toMap
        // reference: concat ids (null = empty) + optional eos in
        // doc_id order per shard group, slice every seqLen tokens
        val groups = docs.groupBy(d => shard.map(_ => d._2).getOrElse(""))
        val want = groups.flatMap { case (key, ds) =>
          val stream = ds.sortBy(_._1).flatMap { case (_, _, ids) =>
            (if (ids == null) Seq.empty[Long] else ids) ++ eos.toSeq
          }
          stream.grouped(seqLen).zipWithIndex.map { case (chunk, i) =>
            (key, i.toLong) -> ((chunk.length.toLong, chunk.toSeq))
          }
        }
        assert(got == want,
          s"trial $trial seqLen=$seqLen eos=$eos shard=$shard:\n" +
            s"  got=${got.toSeq.sortBy(_._1).take(3)}\n" +
            s"  want=${want.toSeq.sortBy(_._1).take(3)}")
      }
    }
  }

  test("ewma randomized: windowed self-join equals the direct dyadic formula (r14)") {
    import spark.implicits._
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(20260815L)
    val maxLag = 6
    val scale = 100L
    (1 to 3).foreach { trial =>
      val series = (0 until 4).flatMap { g =>
        // unique order keys per group (duplicates are a loud edge)
        rnd.shuffle((0 until 40).toList).take(25).map { t =>
          (s"g$g", t.toLong, (rnd.nextInt(2000) - 1000) / 10.0)
        }
      }
      val got = TimeSeries.ewmaHalf(series.toDF("g", "t", "x"),
          Seq("g"), "t", "x", maxLag = maxLag, scale = scale)
        .collect().map(r =>
          (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
      // direct formula per row: integer numerator/denominator over the
      // trailing maxLag+1 RANKS in order, exactly as documented
      val want = series.groupBy(_._1).flatMap { case (g, rows) =>
        val ordered = rows.sortBy(_._2)
        ordered.zipWithIndex.map { case ((_, t, _), i) =>
          var num = 0L; var den = 0L
          ((i - maxLag).max(0) to i).foreach { j =>
            val v = math.round(ordered(j)._3 * scale)
            val w = 1L << (maxLag - (i - j))
            num += v * w; den += w
          }
          (g, t) -> BigDecimal(num.toDouble / (den * scale.toDouble))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
      assert(got.keySet == want.keySet)
      got.keys.foreach { k =>
        assert(got(k) == want(k),
          s"trial $trial $k: engine=${got(k)} formula=${want(k)}")
      }
    }
  }

  test("funnel randomized: one-pass walk equals per-session brute force (r14)") {
    import spark.implicits._
    import graft.operators.Sessions
    val rnd = new scala.util.Random(20260815L)
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val types = Seq("a", "b", "c", "x")
    val steps = Seq("a", "b", "c")
    val gapMin = 2
    (1 to 3).foreach { trial =>
      val ev = (0 until 300).map { i =>
        (i.toLong, rnd.nextInt(5).toLong, ts(rnd.nextInt(600).toLong),
          types(rnd.nextInt(types.length)))
      }
      val got = Sessions.funnel(ev.toDF("eid", "u", "t", "ty"),
          "u", "t", "ty", steps, gapMinutes = gapMin)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getAs[Any]("step1_us"), r.getAs[Any]("step2_us"),
            r.getAs[Any]("step3_us"), r.getLong(5))).toMap
      // brute force: re-derive sessions by the gap rule, then for each
      // step scan ALL events for the earliest match strictly after the
      // previous completion (the spec's definition, not the walk)
      val bySession = ev.groupBy(_._2).toSeq.flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e._3.getTime, e._1))
        var seq = 0L
        var prev = Long.MinValue
        val tagged = sorted.map { e =>
          val t = e._3.getTime
          if (prev == Long.MinValue || t - prev > gapMin * 60000L) seq += 1
          prev = t
          (u, seq, e._4, e._3.getTime * 1000L)
        }
        tagged.groupBy(t => (t._1, t._2))
      }.toMap
      val want = bySession.map { case (k, es) =>
        var prevUs = Long.MinValue
        val times = steps.map { st =>
          val cand = es.filter(e => e._3 == st && e._4 > prevUs)
          if (prevUs == Long.MaxValue || cand.isEmpty) {
            prevUs = Long.MaxValue; null
          } else {
            val m = cand.map(_._4).min; prevUs = m
            java.lang.Long.valueOf(m)
          }
        }
        k -> ((times(0), times(1), times(2),
          times.count(_ != null).toLong))
      }
      assert(got.keySet == want.keySet, s"trial $trial session sets differ")
      got.keys.foreach { k =>
        assert(got(k) == want(k), s"trial $trial session $k: " +
          s"walk=${got(k)} brute=${want(k)}")
      }
    }
  }

  test("asof + range join randomized: one-sort/bucketed plans equal brute force (r14)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    // ---- range join: bucketed pre-join == the O(n·m) definition
    (1 to 4).foreach { trial =>
      val pts = (0 until 80).map(i => (i.toLong, rnd.nextInt(100).toLong))
      val ivs = (0 until 25).map { i =>
        val s = rnd.nextInt(100).toLong
        (i.toLong, s, s + rnd.nextInt(20).toLong)
      }
      val width = 1L + rnd.nextInt(15)
      val got = graft.operators.RangeJoin.pointInterval(
          pts.toDF("pid", "p"), "p",
          ivs.toDF("iid", "s", "e"), "s", "e", bucketWidth = width)
        .select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (pid, p) <- pts; (iid, s, e) <- ivs if p >= s && p <= e
      } yield (pid, iid)).toSet
      assert(got == want, s"range trial $trial width=$width: " +
        s"missing=${want -- got} extra=${got -- want}")
    }
    // ---- as-of join: union-and-carry == per-row brute force, both
    // directions, with and without tolerance; unique tiebreak per
    // right row keeps the tie rule single-valued
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    (1 to 4).foreach { trial =>
      val left = (0 until 50).map(i =>
        (i.toLong, rnd.nextInt(4).toLong, ts(rnd.nextInt(50) * 1000L)))
      val right = (0 until 35).map(i =>
        (rnd.nextInt(4).toLong, ts(rnd.nextInt(50) * 1000L), i.toLong,
          rnd.nextInt(1000).toLong))
      val lDf = left.toDF("lid", "k", "t")
      val rDf = right.toDF("k", "t", "rid", "v")
      for (dir <- Seq("backward", "forward");
           tol <- Seq(Option.empty[Long], Some(5L * 1000000L))) {
        val got = graft.operators.AsOfJoin(lDf, rDf, "k", "k", "t", "t",
            rightTiebreak = "rid", rightValueCols = Seq("v"),
            direction = dir, toleranceUs = tol)
          .select("lid", "v").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        val want = left.map { case (lid, k, t) =>
          val cand = right.filter { case (rk, rt, _, _) =>
            rk == k &&
              (if (dir == "backward") rt.getTime <= t.getTime
               else rt.getTime >= t.getTime) &&
              tol.forall(u =>
                math.abs(rt.getTime - t.getTime) * 1000L <= u)
          }
          val pick =
            if (cand.isEmpty) None
            else if (dir == "backward")
              Some(cand.maxBy(c => (c._2.getTime, c._3))._4)
            else Some(cand.minBy(c => (c._2.getTime, c._3))._4)
          lid -> pick
        }.toMap
        assert(got == want, s"asof trial $trial dir=$dir tol=$tol: " +
          s"${(got.toSet -- want.toSet).take(3)} vs ${(want.toSet -- got.toSet).take(3)}")
      }
    }
  }

  test("wordpiece/bpe encode randomized: kernels equal independent references over 120 fixtures (r14)") {
    import spark.implicits._
    import graft.operators.{Bpe, Wordpiece}
    val rnd = new scala.util.Random(20260815L)
    // wordpiece reference: at each position take the LONGEST vocab
    // piece (code points), else one char — stated independently as a
    // string walk
    def refGreedy(word: String, vocab: Set[String]): Seq[String] = {
      val maxLen = (vocab.map(p => p.codePointCount(0, p.length)) + 1).max
      val cps = word.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < cps.length) {
        val take = (math.min(maxLen, cps.length - i) to 1 by -1).find { l =>
          l == 1 || vocab.contains(cps.slice(i, i + l).mkString)
        }.get
        val piece = cps.slice(i, i + take).mkString
        out += (if (take > 1 || vocab.contains(piece) || take == 1) piece else piece)
        i += take
      }
      out.toSeq
    }
    // bpe reference: literal left-to-right non-overlapping replace of
    // "l r" with "lr" per merge, in rank order, over space-joined chars
    def refBpe(word: String, merges: Seq[(String, String)]): String = {
      var s = word.map(_.toString).mkString(" ")
      merges.foreach { case (l, r) => s = s.replace(s"$l $r", l + r) }
      s
    }
    (1 to 120).foreach { trial =>
      val word = Seq.fill(2 + rnd.nextInt(8))("ab" (rnd.nextInt(2))).mkString
      // random multi-char pieces over the same alphabet
      val vocab = (1 to 4).map { _ =>
        Seq.fill(2 + rnd.nextInt(3))("ab" (rnd.nextInt(2))).mkString
      }.distinct
      val wp = Wordpiece.encode(Seq((1L, word)).toDF("id", "text"),
        "text", "id", vocab, lower = false).head().getString(1)
      assert(wp == refGreedy(word, vocab.toSet).mkString(" "),
        s"trial $trial wp: word=$word vocab=$vocab got=$wp")
      // merges derived from random pairs of current-ish symbols
      val merges = (1 to 3).map { _ =>
        ("ab" (rnd.nextInt(2)).toString, "ab" (rnd.nextInt(2)).toString)
      } ++ Seq(("ab", "a"), ("b", "ab")) // second-order products too
      val bpe = Bpe.encode(Seq((1L, word)).toDF("id", "text"),
        "text", "id", merges, lower = false).head().getString(1)
      assert(bpe == refBpe(word, merges),
        s"trial $trial bpe: word=$word merges=$merges got=$bpe")
    }
  }

  test("prefix rerank randomized: two-stage pipeline equals a driver reference over 20 corpora (r14)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    def cosRef(a: Array[Float], b: Array[Float], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    (1 to 20).foreach { trial =>
      val dims = 8 + rnd.nextInt(17)
      val p = 2 + rnd.nextInt(dims - 2)
      val n = 12 + rnd.nextInt(18)
      val k = 1 + rnd.nextInt(4)
      val m = k + rnd.nextInt(6)
      val vecs = (0L until n.toLong).map(i =>
        i -> Array.fill(dims)(rnd.nextFloat() - 0.5f)).toMap
      val df = vecs.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("id", "e")
      val queries = df.filter($"id" < 3)
      val got = Similarity.prefixRerankTopK(df, queries, "id", "e",
          k = k, prefixDims = p, m = m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val want = (0L until 3L).flatMap { q =>
        val cands = vecs.keys.filter(_ != q).toSeq
          .map(c => (c, cosRef(vecs(q), vecs(c), p)))
          .sortBy { case (c, s) => (-s, c) }.take(m).map(_._1)
        cands.map(c => (c, cosRef(vecs(q), vecs(c), dims)))
          .sortBy { case (c, s) => (-s, c) }.take(k).zipWithIndex
          .map { case ((c, s), i) => (q, (i + 1).toLong, c, s) }
      }.sortBy(t => (t._1, t._2))
      assert(got == want, s"trial $trial dims=$dims p=$p n=$n k=$k m=$m")
    }
  }

  test("quantized ANN kernels randomized: pack/hamming/sq8/idot equal references over 200 fixtures (r14)") {
    import spark.implicits._
    import graft.functions.VectorExprs
    val rnd = new scala.util.Random(20260816L)
    def mkVal(): Float = rnd.nextInt(6) match {
      case 0 => 0.0f
      case 1 => -0.0f
      case 2 => (rnd.nextFloat() - 0.5f) * 1e-20f // denormal-ish tiny
      case 3 => (rnd.nextFloat() - 0.5f) * 1e20f
      case _ => rnd.nextFloat() - 0.5f
    }
    val fixtures = (1 to 200).map { id =>
      val dims = 1 + rnd.nextInt(140) // crosses 1- and 2-word boundaries
      (id.toLong, Array.fill(dims)(mkVal()).toSeq, Array.fill(dims)(mkVal()).toSeq)
    }
    // scala references, stated independently of the kernels
    def packRef(v: Seq[Float]): Seq[Long] = {
      val out = new Array[Long]((v.length + 63) / 64)
      v.zipWithIndex.foreach { case (x, i) => if (x > 0) out(i / 64) |= (1L << (i % 64)) }
      out.toSeq
    }
    def hamRef(a: Seq[Float], b: Seq[Float]): Int =
      a.indices.count(i => (a(i) > 0) != (b(i) > 0))
    def sq8Ref(v: Seq[Float]): Seq[Int] = {
      val mx = v.map(x => math.abs(x.toDouble)).foldLeft(0.0)(math.max)
      if (mx == 0.0) Seq.fill(v.length)(0)
      else v.map(x => math.floor(x.toDouble * 127.0 / mx + 0.5).toInt)
    }
    // one job for all trials — the kernels run on the codegen path
    val got = fixtures.toDF("id", "a", "b")
      .select($"id",
        VectorExprs.bit_sign($"a").as("pa"),
        VectorExprs.hamming_dist(
          VectorExprs.bit_sign($"a"), VectorExprs.bit_sign($"b")).as("h"),
        VectorExprs.sq8_encode($"a").as("qa"),
        VectorExprs.vec_idot(
          VectorExprs.sq8_encode($"a"), VectorExprs.sq8_encode($"b")).as("i"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getInt(2), r.getSeq[Int](3), r.getLong(4))).toMap
    fixtures.foreach { case (id, a, b) =>
      val (pa, h, qa, idot) = got(id)
      assert(pa == packRef(a), s"trial $id pack")
      assert(h == hamRef(a, b), s"trial $id hamming")
      assert(qa == sq8Ref(a), s"trial $id sq8")
      val want = sq8Ref(a).zip(sq8Ref(b)).map { case (x, y) => x.toLong * y }.sum
      assert(idot == want, s"trial $id idot")
      // interpreted path spot-check every 20th trial
      if (id % 20 == 0) {
        import org.apache.spark.sql.catalyst.expressions.{Literal => L}
        import org.apache.spark.sql.catalyst.util.ArrayData
        import org.apache.spark.sql.types._
        val lit = L.create(a.toArray, ArrayType(FloatType, containsNull = false))
        assert(VectorExprs.BitSign(lit).eval(null)
          .asInstanceOf[ArrayData].toLongArray.toSeq == packRef(a), s"trial $id interp pack")
        assert(VectorExprs.Sq8Encode(lit).eval(null)
          .asInstanceOf[ArrayData].toIntArray.toSeq == sq8Ref(a), s"trial $id interp sq8")
      }
    }
  }

  test("unigram: Viterbi DP equals brute-force enumeration on randomized vocab/word fixtures (r14)") {
    import spark.implicits._
    import graft.operators.Unigram
    // reference implementation: enumerate EVERY segmentation, pick max
    // total weight, ties → longer last piece, then longer second-to-
    // last, … (the documented DP tie-break, stated independently)
    def brute(word: String, vocab: Map[String, Long], unk: Long): Seq[String] = {
      def segs(pos: Int): Seq[List[String]] =
        if (pos == word.length) Seq(Nil)
        else (1 to (word.length - pos)).flatMap { l =>
          val p = word.substring(pos, pos + l)
          val ok = vocab.contains(p) || l == 1
          if (ok) segs(pos + l).map(p :: _) else Nil
        }
      def score(s: List[String]) =
        s.map(p => vocab.getOrElse(p, unk)).sum
      // rlens compare: reversed length sequence, descending
      def key(s: List[String]) = s.reverse.map(_.length)
      implicit val ord: Ordering[List[String]] = (a, b) => {
        val c = java.lang.Long.compare(score(b), score(a))
        if (c != 0) c
        else Ordering.Implicits.seqOrdering[Seq, Int](Ordering.Int.reverse)
          .compare(key(a), key(b))
      }
      segs(0).toSeq.map(_.toList).sorted.head
    }
    val rnd = new scala.util.Random(20260815L)
    val alphabet = "abc"
    (1 to 60).foreach { trial =>
      val word = Seq.fill(3 + rnd.nextInt(6))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      // random multi-char pieces over the tiny alphabet → dense tie
      // opportunities; weights in a narrow band to force tie-breaks
      val pieces = (1 to 6).map { _ =>
        val len = 2 + rnd.nextInt(3)
        val start = rnd.nextInt(math.max(word.length - len + 1, 1))
        word.substring(start, math.min(start + len, word.length))
      }.filter(_.length >= 2).distinct
        .map(p => p -> -(1L + rnd.nextInt(4)))
      val chars = alphabet.map(c => c.toString -> -(1L + rnd.nextInt(4)))
      val vocab = (pieces ++ chars).toMap.toSeq.sortBy(_._1)
      val unk = -10L
      val got = Unigram.encode(Seq((1L, word)).toDF("id", "text"),
        "text", "id", vocab, unk, lower = false).head().getString(1)
      val want = brute(word, vocab.toMap, unk).mkString(" ")
      assert(got == want,
        s"trial $trial word=$word vocab=$vocab: dp=$got brute=$want")
    }
  }

  test("unigram: trained vocab ships as a pieces_path artifact and round-trips through CURATE (r14)") {
    import spark.implicits._
    import graft.operators.Unigram
    val corpus = (Seq.fill(3)("the") ++ Seq.fill(2)("cat"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val v = Unigram.train(corpus, "text", vocabSize = 8, emRounds = 1)
    val path = java.nio.file.Files.createTempDirectory("graft-ugv")
      .resolve("vocab.tsv").toString
    Unigram.writeVocab(v, path)
    val viaPath = graft.dsl.CuratePipeline.compile(corpus,
      s"""{"stages": [{"op": "tokenize", "algo": "unigram",
           "pieces_path": "$path"}]}""")
      .orderBy("doc_id").collect()
    val inline = v.collect().map(r => s"""["${r.getString(0)}", ${r.getLong(1)}]""")
      .mkString("[", ", ", "]")
    val viaInline = graft.dsl.CuratePipeline.compile(corpus,
      s"""{"stages": [{"op": "tokenize", "algo": "unigram",
           "pieces": $inline}]}""")
      .orderBy("doc_id").collect()
    assert(viaPath.map(_.toString).toSeq == viaInline.map(_.toString).toSeq,
      "artifact and inline vocab must produce identical token ids")
    assert(viaPath.forall(_.getAs[Seq[Long]]("token_ids").nonEmpty))
    // malformed artifact lines raise loudly
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "the notanumber\n")
    val e = intercept[graft.dsl.JsonQuery.DslException] {
      graft.dsl.CuratePipeline.compile(corpus,
        s"""{"stages": [{"op": "tokenize", "algo": "unigram",
             "pieces_path": "$path"}]}""")
    }
    assert(e.getMessage.contains("bad vocab line") &&
      e.getMessage.contains("unigram vocab at"), e.getMessage)
  }

  test("unigram: soft-EM forward-backward expectations — hand-checked posteriors, underflow-safe, deterministic (r14)") {
    import spark.implicits._
    import graft.functions.TextExprs
    import graft.operators.Unigram
    val scale = 1000000000L
    def expect(word: String, vocab: Seq[(String, Long)],
        unk: Long): Map[String, Long] =
      Seq(Tuple1(word)).toDF("w")
        .select(explode(TextExprs.ug_expect(col("w"), vocab, unk, scale))
          .as("pq"))
        .collect().map(r => {
          val s = r.getStruct(0); s.getString(0) -> s.getLong(1)
        }).toMap
    // "ab" with equal-prob {a, b, ab} (p = 1/3 each): two segmentations,
    // P([ab]) ∝ p, P([a,b]) ∝ p² → posteriors 3/4 and 1/4 →
    // E(ab) = 0.75, E(a) = E(b) = 0.25 (Kudo E-step, hand-derived)
    val third = math.round(scale.toDouble * StrictMath.log(1.0 / 3.0))
    val e1 = expect("ab", Seq("a" -> third, "b" -> third, "ab" -> third),
      -100L * scale)
    assert(e1 == Map("ab" -> 750000L, "a" -> 250000L, "b" -> 250000L),
      s"posteriors: $e1")
    // an unk-heavy long word must not underflow: one path, full mass
    val zword = "z" * 40
    val e2 = expect(zword, Seq("a" -> third), -100L * scale)
    assert(e2 == Map("z" -> 40L * 1000000L), s"underflow: $e2")
    // soft-EM trainer converges to the same whole-word vocab as hard
    // on the toy corpus, deterministically
    val corpus = (Seq.fill(3)("the") ++ Seq.fill(2)("cat"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    // minCount=1: soft posteriors SPREAD mass (E(cat) ≈ 1.6 of its 2
    // occurrences — the rest goes to sub-pieces), which is exactly the
    // E-step working; the default threshold would be a corpus-size
    // artifact on 5 words
    val v1 = Unigram.train(corpus, "text", vocabSize = 7, emRounds = 2,
      minCount = 1L, em = "soft").collect()
    val v2 = Unigram.train(corpus, "text", vocabSize = 7, emRounds = 2,
      minCount = 1L, em = "soft").collect()
    assert(v1.map(_.toString).toSeq == v2.map(_.toString).toSeq)
    val pieces = v1.filter(_.getString(3) == "piece").map(_.getString(0)).toSet
    assert(pieces.contains("the") && pieces.contains("cat"),
      s"soft-EM pieces: $pieces")
    assert(v1.forall(_.getLong(1) < 0))
    intercept[IllegalArgumentException] {
      Unigram.train(corpus, "text", vocabSize = 7, em = "viterbi-ish")
    }
  }

  test("unigram: hard-EM trainer — integer counts, alphabet floor, deterministic prune (r14)") {
    import spark.implicits._
    import graft.operators.Unigram
    val corpus = (Seq.fill(3)("the") ++ Seq.fill(2)("cat"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    // seed candidates are cnt-weighted substring occurrences
    val seeds = Unigram.seedCandidates(corpus, "text", maxPieceLen = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seeds("the") == 3 && seeds("cat") == 2 && seeds("t") == 5,
      s"seed counts off: $seeds")
    // one EM round: whole words win their own segmentation, so the
    // pruned vocab keeps the alphabet + the top whole-word pieces
    val v = Unigram.train(corpus, "text", vocabSize = 6, emRounds = 1)
      .collect()
    val byPiece = v.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(byPiece.keySet == Set("a", "c", "e", "h", "t", "the"),
      s"vocab pieces: ${byPiece.keySet}")
    assert(byPiece("the")._2 == 3 && byPiece("the")._3 == "piece")
    assert(byPiece("t")._3 == "char")
    assert(v.forall(_.getLong(1) < 0), "log-prob weights must be negative")
    // deterministic: an identical second run produces identical rows
    val v2 = Unigram.train(corpus, "text", vocabSize = 6, emRounds = 1)
      .collect()
    assert(v.map(_.toString).toSeq == v2.map(_.toString).toSeq)
    // a larger budget keeps both whole words; ids flow end-to-end
    val v8 = Unigram.train(corpus, "text", vocabSize = 8, emRounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(v8.map(_._1).contains("cat"))
    val ids = Unigram.encodeIds(corpus, "text", "id", v8, -100000000000L,
      vocabIds = graft.operators.Wordpiece.vocab(corpus, "text",
        v8.map(_._1).filter(_.length > 1)).collect()
        .map(r => r.getString(1) -> r.getLong(0)).toMap)
      .orderBy("doc_id").collect()
    assert(ids.length == 5 &&
      ids.forall(_.getAs[Seq[Long]]("token_ids").forall(_ >= 0)),
      "every encoded symbol must resolve to a vocab id")
    // CURATE surface: missing pieces raises loudly
    val e = intercept[graft.dsl.JsonQuery.DslException] {
      graft.dsl.CuratePipeline.compile(corpus.withColumn("doc_id", col("id")),
        """{"stages": [{"op": "tokenize", "algo": "unigram"}]}""")
    }
    assert(e.getMessage.contains("pieces"))
    // an astral (surrogate-pair) alphabet char is ONE character for
    // the prune floor — it must survive as kind=char, never prune
    val astral = Seq((1L, "😀x 😀x 😀x")).toDF("id", "text")
    val av = Unigram.train(astral, "text", vocabSize = 2, emRounds = 1)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(av.get("😀").contains("char"), s"astral alphabet: $av")
    assert(av.get("x").contains("char"))
  }

  test("triangles: exact counts on known graphs whatever the direction/multiplicity noise (r12)") {
    import spark.implicits._
    import graft.operators.LinkGraph
    // K4 plus a pendant: per-node triangles 3,3,3,3,0; the edge list
    // arrives directed, duplicated, and with a self-loop
    val edges = (for {
      a <- 0 to 3; b <- 0 to 3 if a != b
    } yield (s"n$a", s"n$b")) ++ Seq(("n3", "n4"), ("n4", "n3"),
      ("n0", "n0"), ("n0", "n1"))
    val got = LinkGraph.triangles(edges.toDF("s", "d"), "s", "d")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    (0 to 2).foreach { i =>
      assert(got(s"n$i") == (3L, 3L, 1.0), s"K4 node n$i: ${got(s"n$i")}")
    }
    assert(got("n3") == (4L, 3L, 0.5)) // K4 member + pendant edge
    assert(got("n4") == (1L, 0L, 0.0)) // the pendant
    // a triangle-free star: all zeros
    val star = (1 to 5).map(i => ("hub", s"leaf$i")).toDF("s", "d")
    val starGot = LinkGraph.triangles(star, "s", "d").collect()
    assert(starGot.forall(_.getLong(2) == 0L), "star has no triangles")
  }

  test("joins: skew salting and bloom prefilter are invisible in the result (r12)") {
    import spark.implicits._
    import graft.operators.Joins
    // one hot key (0) with 500 fact rows, a 50-key tail with 10 each
    val left = ((0 until 500).map(i => (i.toLong, 0L)) ++
      (0 until 500).map(i => (1000L + i, 1L + i % 50)))
      .toDF("lid", "jkey")
    val right = (0L to 50L).map(k => (k, s"dim$k")).toDF("jkey", "payload")
      .select(col("jkey"), col("payload"))
    val plain = left.join(right, Seq("jkey"), "inner")
      .select("jkey", "lid", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    // salted result must equal the plain join, whatever the threshold
    // decides (all-heavy, mixed, none-heavy)
    Seq(1L, 100L, 1000000L).foreach { thr =>
      val got = Joins.skewJoin(left, right.select(col("jkey"),
          col("payload")), "jkey", leftIdCol = "lid",
          salts = 4, heavyThreshold = thr)
        .select("jkey", "lid", "payload").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(got == plain, s"skew join diverged at threshold $thr")
    }
    intercept[IllegalArgumentException] {
      Joins.skewJoin(left, right, "jkey", "lid", salts = 1)
    }
    // a heavy-key row with a NULL id still joins (salt 0), never vanishes
    val nullId = left.select(
      when(col("lid") === 0L, lit(null).cast("long")).otherwise(col("lid")).as("lid"),
      col("jkey"))
    val gotNull = Joins.skewJoin(nullId, right, "jkey", "lid",
      salts = 4, heavyThreshold = 100L).count()
    assert(gotNull == plain.size, "null-id fact row lost in the salted join")
    // bloom semi join: exact semi-join result, and the prefilter
    // actually prunes (selective build side → most probe rows drop
    // before the confirm join)
    val probe = (0 until 2000).map(i => (i.toLong, i % 7)).toDF("k", "tag")
    val build = (0 until 2000 by 100).map(_.toLong).toDF("k")
    val semi = probe.join(build, Seq("k"), "left_semi")
      .collect().map(_.getLong(0)).sorted.toSeq
    val viaBloom = Joins.bloomSemiJoin(probe, build, "k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaBloom == semi, "bloom semi join diverged from the semi join")
    assert(semi.size == 20)
  }

  test("range join: equals the naive theta join (negatives included), plans a hash join, rejects bad intervals (r12)") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // points across negative/positive bucket boundaries; intervals of
    // width 0, exactly one bucket, and spanning several buckets
    val pts = (-25 to 60).map(p => (p.toLong, p.toLong)).toDF("pid", "p")
    val iv = Seq(
      (1L, -13L, -13L), // width 0, negative bucket
      (2L, -7L, 6L),    // straddles the 0 boundary
      (3L, 10L, 39L),   // spans 4+ buckets
      (4L, 55L, 55L))
      .toDF("iid", "s", "e")
    val got = RangeJoin.pointInterval(pts, "p", iv, "s", "e",
        bucketWidth = 10)
      .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      p <- -25 to 60
      (i, s, e) <- Seq((1L, -13L, -13L), (2L, -7L, 6L), (3L, 10L, 39L), (4L, 55L, 55L))
      if p >= s && p <= e
    } yield (p.toLong, i)).toSet
    assert(got == want, s"range join diverged from the theta join")
    // the whole point: the plan is a HASH join on the bucket, not a
    // nested loop / cartesian product
    val plan = RangeJoin.pointInterval(pts, "p", iv, "s", "e", bucketWidth = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must not plan a nested loop:\n$plan")
    // end < start is loud
    val bad = intercept[Exception] {
      RangeJoin.pointInterval(pts, "p",
        Seq((9L, 5L, 1L)).toDF("iid", "s", "e"), "s", "e", 10).collect()
    }
    assert((bad.getMessage + Option(bad.getCause).map(_.getMessage).getOrElse(""))
      .contains("end"), s"unexpected error: ${bad.getMessage}")
    // an interval wider than the bucket cap is loud, not a silent blowup
    val wide = intercept[Exception] {
      RangeJoin.pointInterval(pts, "p",
        Seq((9L, 0L, 100L)).toDF("iid", "s", "e"), "s", "e",
        bucketWidth = 10, maxBucketsPerInterval = 4).collect()
    }
    assert((wide.getMessage + Option(wide.getCause).map(_.getMessage).getOrElse(""))
      .contains("buckets"), s"unexpected error: ${wide.getMessage}")
    intercept[IllegalArgumentException] {
      RangeJoin.pointInterval(pts, "p", iv, "s", "e", bucketWidth = 0)
    }
  }

  test("sessions: gap boundary is inclusive; funnel steps must be ordered and a skip blocks the rest (r12)") {
    import spark.implicits._
    import graft.operators.Sessions
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    val gapUs = 10L * 60L * 1000000L // 10 minutes
    val ev = Seq(
      // user 1: event 2 lands EXACTLY gap after event 1 (same session);
      // event 3 lands gap+1µs after event 2 (new session)
      (1L, ts(0), "view", 1.0),
      (2L, ts(gapUs), "click", 2.0),
      (3L, ts(2 * gapUs + 1), "purchase", 4.0),
      // user 2: purchase BEFORE view in one session — ordered-funnel
      // must not count it
      (4L, ts(0), "purchase", 1.0),
      (5L, ts(1000000), "view", 1.0),
      (6L, ts(2000000), "click", 1.0))
      .toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", when(col("event_id") <= 3, 1L).otherwise(2L))
    val sess = Sessions.gapSessions(ev, "user_id", "ts", gapMinutes = 10,
        valueCol = Some("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(4), r.getDouble(5))).toMap
    assert(sess((1L, 1L)) == (2L, 3.0), s"inclusive boundary broke: $sess")
    assert(sess((1L, 2L)) == (1L, 4.0), s"gap+1µs must break: $sess")
    assert(sess((2L, 1L)) == (3L, 3.0))
    val fun = Sessions.funnel(ev, "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"), gapMinutes = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Long]("steps_completed")).toMap
    // user 1 session 1: view+click (purchase is in session 2) → 2 steps
    assert(fun((1L, 1L)) == 2L, s"funnel: $fun")
    // user 1 session 2: purchase only, but view+click skipped → 0
    assert(fun((1L, 2L)) == 0L, s"skipped steps must block: $fun")
    // user 2: view→click completed; the purchase BEFORE the view
    // doesn't count (ordered semantics)
    assert(fun((2L, 1L)) == 2L, s"out-of-order step counted: $fun")
    intercept[IllegalArgumentException] {
      Sessions.gapSessions(ev, "user_id", "ts", gapMinutes = 0)
    }
    intercept[IllegalArgumentException] {
      Sessions.funnel(ev, "user_id", "ts", "event_type", Nil, 10)
    }
  }

  test("perceptron: separable data converges; empty slice trains zeros; bad arity is loud (r12)") {
    import spark.implicits._
    import graft.operators.Perceptron
    // linearly separable: label = (f1 > f2)
    val rows = (0 until 60).map { i =>
      val a = i % 10; val b = (i * 7) % 10
      (i.toLong, Array(a.toLong, b.toLong), a > b)
    }.toDF("id", "x", "label")
    val w = Perceptron.train(rows, "x", "label", iters = 20, k = 2)
    val scored = Perceptron.score(rows, "x", w)
      .select("label", "pred").collect()
    val acc = scored.count(r => r.getBoolean(0) == r.getBoolean(1)).toDouble / scored.length
    assert(acc > 0.9, s"separable data should converge, got $acc")
    // weights are integers reachable by the update rule (bias + 2 dims)
    val wArr = w.head().getSeq[Long](0)
    assert(wArr.length == 3)
    // empty training slice → zero vector, every score 0, pred false
    val w0 = Perceptron.train(rows.filter(col("id") < 0), "x", "label",
      iters = 3, k = 2)
    assert(w0.head().getSeq[Long](0) == Seq(0L, 0L, 0L))
    val z = Perceptron.score(rows, "x", w0).select("score", "pred").collect()
    assert(z.forall(r => r.getLong(0) == 0L && !r.getBoolean(1)))
    // wrong arity fails the training round loudly
    val e = intercept[Exception] {
      Perceptron.train(rows, "x", "label", iters = 1, k = 5).collect()
    }
    assert(e.getMessage.contains("perceptron")
      || Option(e.getCause).exists(_.getMessage.contains("perceptron")))
    // score with mismatched weights answers null score, not truncation
    val s5 = Perceptron.score(rows,
      "x", spark.range(1).select(array((0 to 5).map(_ => lit(1L)): _*).as("w")))
      .select("score").collect()
    assert(s5.forall(_.isNullAt(0)))
  }

  // ---- the DataFrame rounds the perceptron's treeAggregate replaced,
  // kept as the reference: per round a broadcast cross join of the
  // weights onto the grouped profiles, aggregated to a one-row frame
  // and checkpointed
  private def refPerceptronTrain(df: DataFrame, featuresCol: String,
      labelCol: String, iters: Int, k: Int): Seq[Long] = {
    val y = when(col(labelCol), 1L).otherwise(-1L)
    val x = concat(array(lit(1L)), col(featuresCol).cast("array<long>"))
    val feats = Materialize.checkpoint(df.select(y.as("y"), x.as("x"))
      .groupBy(col("y"), col("x")).agg(count(lit(1)).as("n")))
    var w: DataFrame = spark.range(1)
      .select(array(Seq.fill(k + 1)(lit(0L)): _*).as("w"))
    for (_ <- 1 to iters) {
      val dot = aggregate(zip_with(col("w"), col("x"), _ * _), lit(0L), _ + _)
      val contrib = when(col("y") * dot <= 0, col("y") * col("n")).otherwise(lit(0L))
      w = Materialize.checkpoint(feats.crossJoin(broadcast(w))
        .agg(array((0 to k).map(j =>
          coalesce(first(col("w").getItem(j)) +
            sum(contrib * col("x").getItem(j)), lit(0L))): _*).as("w")))
    }
    w.head().getSeq[Long](0)
  }

  test("perceptron: weights equal the DataFrame rounds (seeded, duplicates, empty, partitionings)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261020L)
    // noisy linear rule over 3 small count features: few distinct
    // profiles, so most rows repeat one
    val base = (0 until 300).map { i =>
      val f = Array.fill(3)(rnd.nextInt(6).toLong)
      (i.toLong, f, 2 * f(0) - f(1) + f(2) - 4 + rnd.nextInt(3) - 1 > 0)
    }
    val rows = (base ++ base.take(40).map { case (i, f, l) => (i + 1000L, f, l) })
      .toDF("id", "x", "label")
    for (iters <- Seq(1, 20); parts <- Seq(1, 3, 7)) {
      val df = rows.repartition(parts)
      val tag = s"iters=$iters parts=$parts"
      assert(Perceptron.train(df, "x", "label", iters, k = 3).head().getSeq[Long](0) ==
        refPerceptronTrain(df, "x", "label", iters, k = 3), tag)
      val empty = df.filter(col("id") < 0)
      assert(Perceptron.train(empty, "x", "label", iters, k = 3).head().getSeq[Long](0) ==
        refPerceptronTrain(empty, "x", "label", iters, k = 3), s"empty $tag")
    }
    // an overflowing update fails the round in both, never wraps
    val huge = Seq((1L, Array(1L << 40, 1L << 40), true), (2L, Array(1L, 1L << 41), false))
      .toDF("id", "x", "label")
    def overflow(train: => Any): Boolean = {
      val e = intercept[Exception](train)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    }
    assert(overflow(refPerceptronTrain(huge, "x", "label", 3, k = 2)))
    assert(overflow(Perceptron.train(huge, "x", "label", 3, k = 2)))
  }

  test("perceptron: training runs one job per round") {
    import spark.implicits._
    val rows = (0 until 60).map(i => (Array((i % 10).toLong, (i * 7 % 10).toLong), i % 10 > i * 7 % 10))
      .toDF("x", "label")
    val (w, ran) = Jobs.of(spark)(Perceptron.train(rows, "x", "label", iters = 20, k = 2).head())
    val jobs = ran.map(_.label)
    assert(w.getSeq[Long](0).length == 3)
    assert(jobs.count(_.startsWith("perceptron: round")) == 20, jobs.mkString(", "))
    assert(jobs.size <= 20 + 4, s"${jobs.size} jobs for 20 rounds: ${jobs.mkString(", ")}")
  }

  test("url_surt: edge shapes the gate seeds don't isolate (r12)") {
    import spark.implicits._
    def surt1(u: String): String = Seq(u).toDF("u")
      .select(graft.operators.TextOps.urlSurt(col("u"))).head().getString(0)
    // single-label host reverses to itself; bare host answers )/
    assert(surt1("http://localhost:8080/x") == "localhost:8080)/x")
    assert(surt1("https://Example.COM") == "com,example)/")
    // exactly one leading www. strips — www2 and interior www keep
    assert(surt1("http://www.www.a.com/p") == "com,a,www)/p")
    assert(surt1("http://www2.a.com/p") == "com,a,www2)/p")
    // IPv4 hosts reverse by octet (documented: labels are labels)
    assert(surt1("http://10.0.0.1/p") == "1,0,0,10)/p")
    // no-path query keeps the tail /-rooted
    assert(surt1("http://a.com?x=1") == "com,a)/?x=1")
    // normalization runs first: trackers drop, default port strips
    assert(surt1("HTTP://WWW.A.com:80/P?utm_s=1&k=2") == "com,a)/P?k=2")
    // SQL registration resolves its nested url_normalize and agrees
    assert(spark.sql("SELECT url_surt('HTTP://WWW.A.com:80/P?utm_s=1&k=2')")
      .head().getString(0) == "com,a)/P?k=2")
  }

  test("url_filter stage: scheme allow-list, subdomain blocks, normalize=false (r12)") {
    import spark.implicits._
    val rows = Seq(
      (1L, "https://ok.example.com/a"),
      (2L, "https://ads.net/x"),            // blocked host, exact
      (3L, "https://sub.ads.net/x"),        // blocked host, subdomain
    (4L, "https://badsads.net/x"),        // NOT blocked: suffix needs the dot
      (5L, "ftp://files.example.com/x"),     // scheme
      (6L, "https://ok.example.com/casino")) // pattern
      .toDF("doc_id", "url")
    val spec = """{"stages": [{"op": "url_filter",
      "block_hosts": ["ads.net"], "block_patterns": ["casino"]}]}"""
    val kept = graft.dsl.CuratePipeline.compile(rows, spec, textCol = "url",
        idCol = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
    // allow_schemes override admits ftp; normalize=false keeps bytes
    val spec2 = """{"stages": [{"op": "url_filter", "normalize": false,
      "allow_schemes": ["ftp"]}]}"""
    val out2 = graft.dsl.CuratePipeline.compile(rows, spec2, textCol = "url",
        idCol = "doc_id").select("doc_id", "url").collect()
    assert(out2.map(_.getLong(0)).toSet == Set(5L))
    assert(out2.head.getString(1) == "ftp://files.example.com/x")
  }

  test("repetitionProfile: kernel == explode/window formulation on adversarial docs (r18)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    // ties on count (pick longer gram), ties on count+length (pick
    // binary-smaller), unicode, empty/whitespace docs, sub-n docs,
    // null text, \x0B (token-split char the GRAM side keeps)
    val docs = Seq(
      (1L, "a b a b a b c"),
      (2L, "x y x y x y x y"),
      (3L, ""),
      (4L, "   \t  "),
      (5L, "one two"),
      (6L, "ü ü ü ß ß ß"),
      (7L, "zq zq zq w w w"),
      (8L, null.asInstanceOf[String]),
      (9L, "aa bb aa bb cc aa bb"),
      (10L, "solo"),
      (11L, "a\u000Bb a\u000Bb c")).toDF("doc_id", "text")
    val fast = TextOps.repetitionProfile(docs, "text", "doc_id")
    // the pre-r18 formulation, verbatim
    val toks = filter(split(trim($"text"), "\\s+"), t => length(t) > 0)
    val grams = graft.functions.TextExprs.word_shingles($"text", 3)
    val scalars = docs.select($"doc_id",
      length(trim($"text")).as("__chars"),
      size(toks).cast(LongType).as("n_tokens"),
      size(array_distinct(toks)).as("__n_distinct_toks"),
      size(grams).as("__n_grams"),
      size(array_distinct(grams)).as("__n_distinct_grams"))
    val gramCounts = docs.select($"doc_id", explode(grams).as("__g"))
      .groupBy($"doc_id", $"__g").agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
      .orderBy($"__c".desc, length($"__g").desc, $"__g".asc)
    val top = gramCounts.withColumn("__rk", row_number().over(w))
      .filter($"__rk" === 1).select($"doc_id", $"__g".as("top_gram"), $"__c")
    def safe(d: org.apache.spark.sql.Column) = when(d =!= 0, d)
    val slow = scalars.join(top, Seq("doc_id"))
      .select($"doc_id", $"n_tokens",
        round($"__n_distinct_toks".cast(DoubleType) / safe($"n_tokens"), 6)
          .as("distinct_token_ratio"),
        round(($"__n_grams" - $"__n_distinct_grams").cast(DoubleType) /
          safe($"__n_grams"), 6).as("dup_gram_frac"),
        $"top_gram",
        round($"__c" * length($"top_gram").cast(DoubleType) /
          safe($"__chars"), 6).as("top_gram_frac"))
    assert(fast.columns.toSeq == slow.columns.toSeq)
    val f = fast.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val sl = slow.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(f == sl)
    assert(f.contains(1L) && !f.contains(8L)) // null text drops, like the old inner join
    // the fast path is shuffle-free: no Exchange in the plan
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("Materialize: reliable mode checkpoints durably, results identical, bad mode loud (r18)") {
    import spark.implicits._
    // the built context deletes reliable files of collected frames, so
    // per-round checkpoints of the iterative operators do not pile up
    assert(spark.sparkContext.getConf
      .getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints", false))
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
    val local = Materialize.checkpoint(df).collect().toSet
    // an isolated session so the mode flip can't leak to other tests
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.checkpoint.mode", "reliable")
    val dir = java.nio.file.Files.createTempDirectory("graft-rel-ck").toString
    s2.conf.set("spark.graft.checkpoint.dir", dir)
    val df2 = s2.createDataFrame(df.collectAsList(), df.schema)
    val reliable = Materialize.checkpoint(df2)
    assert(reliable.collect().toSet == local)
    // the reliable path actually wrote RDD checkpoint data to the dir
    // (note: setCheckpointDir is context-global; dir sticks for the JVM)
    def files(p: java.io.File): Seq[java.io.File] =
      Option(p.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    assert(files(new java.io.File(dir)).nonEmpty,
      s"no checkpoint files under $dir")
    // an iterative operator runs unchanged under the durable mode, and
    // its RDD rounds write checkpoint files of their own
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val pairs2 = s2.createDataFrame(pairs.collectAsList(), pairs.schema)
    val before = files(new java.io.File(dir)).map(_.getPath).toSet
    val ccDf = Dedup.connectedComponents(pairs2, "a", "b")
    val written = files(new java.io.File(dir)).map(_.getPath).toSet -- before
    assert(written.nonEmpty, s"connected components wrote no checkpoint files under $dir")
    val cc = ccDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the RDD form: cut by the forcing action, into the dir when reliable
    val rdd = s2.sparkContext.parallelize(1 to 10, 2)
    assert(Materialize.checkpoint(s2, rdd)(_.count()) == 10L)
    assert(rdd.isCheckpointed && rdd.getCheckpointFile.exists(_.startsWith("file:" + dir)))
    val localRdd = spark.sparkContext.parallelize(1 to 10, 2)
    assert(Materialize.checkpoint(spark, localRdd)(_.sum()) == 55.0)
    assert(localRdd.isCheckpointed && localRdd.getCheckpointFile.isEmpty)
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.checkpoint.mode", "banana")
    val df3 = s3.createDataFrame(df.collectAsList(), df.schema)
    val e = intercept[IllegalArgumentException] { Materialize.checkpoint(df3) }
    assert(e.getMessage.contains("banana"))
    intercept[IllegalArgumentException] {
      Materialize.checkpoint(s3, s3.sparkContext.parallelize(1 to 3))(_.count())
    }
    // reliable with no dir is loud, even though the context above
    // already holds a checkpoint dir: no driver-local fallback
    val s4 = spark.newSession()
    s4.conf.set("spark.graft.checkpoint.mode", "reliable")
    val df4 = s4.createDataFrame(df.collectAsList(), df.schema)
    val e4 = intercept[IllegalArgumentException] { Materialize.checkpoint(df4) }
    assert(e4.getMessage.contains("spark.graft.checkpoint.dir"), e4.getMessage)
  }

  test("Materialize: a reliable dir other than the context's fails loudly, naming both") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    def session(dir: String) = {
      val s = spark.newSession()
      s.conf.set("spark.graft.checkpoint.mode", "reliable")
      s.conf.set("spark.graft.checkpoint.dir", dir)
      s.createDataFrame(df.collectAsList(), df.schema)
    }
    // the context's dir is global to it: reuse the one it has, and
    // unset a dir set here afterwards
    val ckDir = spark.sparkContext.getCheckpointDir
    val first = ckDir.map(d => new org.apache.hadoop.fs.Path(d).getParent.toUri.getPath)
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-ck-first").toString)
    val other = java.nio.file.Files.createTempDirectory("graft-ck-other").toString
    try {
      assert(Materialize.checkpoint(session(first)).count() == 2L)
      val e = intercept[IllegalArgumentException] {
        Materialize.checkpoint(session(other))
      }
      assert(e.getMessage.contains(other) && e.getMessage.contains(first), e.getMessage)
      // nothing was written under the other dir
      assert(Option(new java.io.File(other).listFiles).forall(_.isEmpty))
    } finally if (ckDir.isEmpty) spark.sparkContext.setCheckpointDir(null)
  }

  test("Par.widen leaves a frame with a missing input file unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-widen-missing")
      .resolve("t").toString
    (1 to 40).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(4).write.parquet(dir)
    val df = spark.read.parquet(dir)
    // a small file-backed frame on local[4] widens
    assert(!(Par.widen(df) eq df))
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    assert(part.delete())
    // the deleted file has no knowable size, so no widen is decided
    assert(Par.widen(df) eq df)
  }
}
