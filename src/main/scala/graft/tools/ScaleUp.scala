package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: builds an sf(N×) dataset from an
  * existing sf directory by unioning `factor` RE-KEYED copies of each
  * fact table — the scale-stress harness the r14 verdict asked for
  * ("convert the argued 100 TB posture into a measurement").
  *
  * Re-keying rules (no randomness anywhere — copy i is a pure function
  * of copy 0, so the output is bit-reproducible):
  *  - every synthetic key column offsets by i × (max(key)+1): copy i's
  *    orders reference copy i's customers, parts, suppliers — the join
  *    graph is preserved per copy, cardinality scales linearly;
  *  - dimension tables (nation, region) are NOT scaled — exactly the
  *    100 TB shape: facts grow, dims stay broadcastable;
  *  - document TEXT rotates its alphabet per copy (a Caesar shift of
  *    i): shingles/minhash signatures across copies are disjoint, so
  *    dedup finds each copy's INTERNAL duplicate structure (the same
  *    per-shard dup rate as the source) instead of an artificial
  *    10×-identical-corpus pair blow-up — real 10× data has more dups,
  *    not quadratically more;
  *  - embeddings nudge by i·1e-4 per component: copies stop being
  *    exact duplicates (which would make the IVF/SemDeDup cells
  *    degenerate) while the cluster geometry stays intact.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <factor>")
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = graft.GraftSession.build()
    scale(spark, src, out, factor)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    // copies must stay PAIRWISE text-distinct (the documented
    // disjoint-shingles invariant, conditional as always on the text
    // containing at least one letter) — a bare Caesar shift repeats
    // every 26 copies; composing a CASE FLIP doubles the guaranteed-
    // distinct transforms to 52 (digit-free text included — a digit
    // rotation alone would only separate digit-bearing documents).
    // Beyond 52 we refuse loudly rather than silently inflate
    // cross-copy duplicate pairs.
    require(factor <= 52,
      s"ScaleUp: factor $factor exceeds the 52 pairwise-distinct text " +
        "transforms (26 letter rotations x case flip) - copies would " +
        "repeat and break the disjoint-shingles invariant")
    def tbl(name: String): DataFrame =
      graft.Tables.load(spark, src, name)
    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    val cust = tbl("customer"); val ord = tbl("orders")
    val li = tbl("lineitem"); val part = tbl("part"); val supp = tbl("supplier")
    val ev = tbl("events"); val docs = tbl("documents"); val emb = tbl("embeddings")
    val sC = strideOf(cust, "c_custkey"); val sO = strideOf(ord, "o_orderkey")
    val sP = strideOf(part, "p_partkey"); val sS = strideOf(supp, "s_suppkey")
    val sE = strideOf(ev, "event_id")
    val sU = strideOf(ev, "user_id")
    val sD = strideOf(docs, "doc_id"); val sV = strideOf(emb, "vec_id")

    def copies(df: DataFrame)(rekey: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => rekey(df, i)).reduce(_ unionAll _)

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    def rot(s: String, k: Int): String = {
      val j = k % s.length
      s.substring(j) + s.substring(0, j)
    }
    def rotAll(i: Int): (String, String) = {
      val k = i % 26
      val flip = (i / 26) % 2 == 1
      val letters =
        if (flip) rot(upper, k) + rot(lower, k)
        else rot(lower, k) + rot(upper, k)
      // digits rotate on their own cycle as extra decorrelation only —
      // they are NOT counted toward the distinctness guarantee (factor
      // caps at 52, so keying on i % 10 actually varies per copy;
      // i / 52 was always 0 — ADVICE r16)
      (lower + upper + digits, letters + rot(digits, i % 10))
    }

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    write(copies(cust) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + i * sC) }, "customer", 4)
    write(copies(ord) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + i * sO)
        .withColumn("o_custkey", col("o_custkey") + i * sC) }, "orders", 8)
    write(copies(li) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * sO)
        .withColumn("l_partkey", col("l_partkey") + i * sP)
        .withColumn("l_suppkey", col("l_suppkey") + i * sS) }, "lineitem", 16)
    write(copies(part) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + i * sP) }, "part", 4)
    write(copies(supp) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + i * sS) }, "supplier", 2)
    write(copies(ev) { (d, i) =>
      d.withColumn("event_id", col("event_id") + i * sE)
        .withColumn("user_id", col("user_id") + i * sU) }, "events", 8)
    write(copies(docs) { (d, i) =>
      val (from, to) = rotAll(i)
      d.withColumn("doc_id", col("doc_id") + i * sD)
        .withColumn("text", translate(col("text"), from, to))
    }, "documents", 8)
    write(copies(emb) { (d, i) =>
      d.withColumn("vec_id", col("vec_id") + i * sV)
        .withColumn("embedding",
          expr(s"transform(embedding, x -> cast(x + $i * 1.0e-4 as float))"))
    }, "embeddings", 8)
    // dims: verbatim single copy
    write(tbl("nation"), "nation", 1)
    write(tbl("region"), "region", 1)
    println(s"[scaleup] wrote ${factor}x of $src to $out")
  }
}
