package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches over the engine's md5 hash family
  * ([[Sampling.hash48]]) — count-min for frequency estimates /
  * heavy-key detection (find the skewed join key BEFORE shuffling
  * 100 TB on it) and HyperLogLog for distinct counts. Both are built
  * from deterministic integer/string column ops only (md5 buckets,
  * `bin()` leading-zero ranks, dyadic `pow(2,-r)` sums), so a sketch
  * computed here is BIT-IDENTICAL to one computed by the SQL oracle —
  * unlike `approx_count_distinct`, whose HLL++ internals no other
  * engine replays. Counters merge with SUM and registers with MAX, so
  * per-partition (or per-day) sketches combine associatively — the
  * property that makes them work at any scale.
  *
  * A sketch rides as a typed handle carrying its own shape
  * ([[CmsSketch]] / [[HllSketch]]): build and probe sides CANNOT
  * disagree on width/depth/p, a mismatch that would silently zero
  * every estimate. Null keys raise a named error — a silently
  * skipped null would bias the estimate with no sign anything is
  * wrong (the same loudness stance as [[Perceptron]]).
  */
object Sketches {

  /** a count-min sketch: `cells` is (i, bucket, cnt), broadcastable */
  final case class CmsSketch(cells: DataFrame, width: Int, depth: Int) {
    /** counters merge with SUM — per-partition sketches combine */
    def merge(other: CmsSketch): CmsSketch = {
      require(other.width == width && other.depth == depth,
        s"cms merge: shape mismatch (${width}x$depth vs ${other.width}x${other.depth})")
      CmsSketch(cells.unionByName(other.cells)
        .groupBy("i", "bucket").agg(sum("cnt").as("cnt")), width, depth)
    }
  }

  /** an HLL sketch: `registers` is (idx, r), at most 2^p rows */
  final case class HllSketch(registers: DataFrame, p: Int) {
    /** registers merge with MAX — per-partition sketches combine */
    def merge(other: HllSketch): HllSketch = {
      require(other.p == p, s"hll merge: p mismatch ($p vs ${other.p})")
      HllSketch(registers.unionByName(other.registers)
        .groupBy("idx").agg(max(col("r")).as("r")), p)
    }
  }

  /** a Bloom filter: `bits` is the distinct set-bit positions (≤ m
    * rows), broadcastable; m bits, k hash rows */
  final case class BloomSketch(bits: DataFrame, m: Int, k: Int) {
    /** bit sets merge with OR (distinct union) — per-partition filters combine */
    def merge(other: BloomSketch): BloomSketch = {
      require(other.m == m && other.k == k,
        s"bloom merge: shape mismatch (${m}/$k vs ${other.m}/${other.k})")
      BloomSketch(bits.unionByName(other.bits).distinct(), m, k)
    }
  }

  /** a quantile sketch: `sample` is the md5-kept value rows, `ratePerM`
    * the keep rate out of 1,000,000 */
  final case class QuantileSketch(sample: DataFrame, ratePerM: Int) {
    /** the sample of a union IS the union of the samples (the keep
      * decision is a pure row function) — merge is a plain union */
    def merge(other: QuantileSketch): QuantileSketch = {
      require(other.ratePerM == ratePerM,
        s"quantile merge: rate mismatch ($ratePerM vs ${other.ratePerM})")
      QuantileSketch(sample.unionByName(other.sample), ratePerM)
    }
  }

  /** the key column, null-rejected loudly */
  private def checkedKey(keyCol: String, what: String): Column =
    when(col(keyCol).isNull, raise_error(lit(
      s"$what: null key in '$keyCol' — filter or impute nulls first")))
      .otherwise(col(keyCol))

  /** Row i's bucket under the (h1, h2) double-hash family (Kirsch &
    * Mitzenmacher 2006): pos_i = (h1 + i·h2) mod buckets from ONE md5
    * per key — preserves the sketch guarantees at 1/k the hash cost
    * (per-row md5 was the bench bottleneck of the k-salt scheme). h2
    * is forced odd so row walks cover the full residue ring of a
    * power-of-two bucket count. */
  /** the bloom family's md5 salt — callers deriving positions from a
    * materialized hash column must use the same one */
  private[operators] val bloomSalt = "bloom-v2"

  /** pos_i from a PRECOMPUTED 48-bit hash column — for callers that
    * materialize the md5 once per row and derive all k positions
    * arithmetically (the per-row filter path of
    * [[Joins.bloomSemiJoin]]) */
  private[operators] def doubleHashFrom(h: Column, buckets: Int,
      i: Int): Column = {
    val h1 = pmod(h, lit(buckets.toLong))
    val h2 = pmod(shiftright(h, 13), lit(buckets.toLong)) * 2 + 1
    pmod(h1 + lit(i.toLong) * h2, lit(buckets.toLong))
  }

  /** one (i, bucket) struct per hash row FROM a materialized hash
    * column — THE shared derivation both the build and probe sides
    * must use for estimates to mean anything. Callers project the md5
    * once (`__h`) and build rows off the column: inlining the digest
    * into each row's expression re-evaluates it per row per use (no
    * subexpression elimination outside ProjectExec). */
  private def cmsRows(h: Column, width: Int, depth: Int): Column =
    array((0 until depth).map(i => struct(lit(i).as("i"),
      doubleHashFrom(h, width, i).as("bucket"))): _*)

  // ------------------------------------------------------- count-min

  /** Count-min sketch of `keyCol` frequencies: `depth` hash rows of
    * `width` counters; cell (i, b) counts rows whose i-th hash lands
    * in bucket b. One map-only explode (×depth) + ONE (i, bucket)
    * count shuffle; the result is depth×width rows, broadcastable. */
  def countMin(df: DataFrame, keyCol: String, width: Int = 1024,
      depth: Int = 4): CmsSketch = {
    require(width > 0 && depth > 0, s"cms: bad shape ($width × $depth)")
    CmsSketch(
      df.select(Sampling.hash48(checkedKey(keyCol, "cms"), "cms-v2").as("__h"))
        .select(explode(cmsRows(col("__h"), width, depth)).as("rb"))
        .groupBy(col("rb.i").as("i"), col("rb.bucket").as("bucket"))
        .agg(count(lit(1)).as("cnt")),
      width, depth)
  }

  /** Point estimates for `probes`' keys: est(k) = min over hash rows
    * of the landed counters (absent cells are 0) — an overestimate by
    * construction, exact for keys that collide with nothing. The
    * sketch broadcasts; probes stay distributed. */
  def cmsEstimate(sketch: CmsSketch, probes: DataFrame,
      keyCol: String): DataFrame = {
    val s = sketch.cells.select(col("i").as("__si"),
      col("bucket").as("__sb"), col("cnt").as("__cnt"))
    probes.select(col(keyCol),
        Sampling.hash48(checkedKey(keyCol, "cms probe"), "cms-v2").as("__h"))
      .select(col(keyCol),
        explode(cmsRows(col("__h"), sketch.width, sketch.depth)).as("rb"))
      .join(broadcast(s),
        col("rb.i") === col("__si") && col("rb.bucket") === col("__sb"),
        "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("__cnt"), lit(0L))).as("est"))
  }

  // ----------------------------------------------------- hyperloglog

  /** HyperLogLog registers (2^p of them): the 48-bit hash splits into
    * a register index (low p bits) and a (48−p)-bit window w; the
    * register keeps max(rank) where rank = leading zeros of w in the
    * window + 1, computed as `49 − p − length(bin(w))` (`bin` drops
    * leading zeros in Spark AND DuckDB — exact cross-engine). One
    * groupBy(idx) max shuffle. */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int = 9): HllSketch = {
    require(p >= 4 && p <= 16, s"hll: p must be in [4,16], got $p")
    val m = 1 << p
    val h = Sampling.hash48(checkedKey(keyCol, "hll"), "hll-v1")
    val idx = h.bitwiseAND(lit((m - 1).toLong))
    val w = shiftright(h, p)
    val rank = when(w === 0, lit(48 - p + 1))
      .otherwise(lit(48 - p + 1) - length(bin(w)))
    HllSketch(
      df.select(idx.as("idx"), rank.cast("int").as("rank"))
        .groupBy("idx").agg(max(col("rank")).as("r")),
      p)
  }

  // ---------------------------------------------------- bloom filter

  /** the k bit positions FROM a materialized hash column — shared by
    * build and probe (same hash-once stance as [[cmsRows]]) */
  private def bloomPositions(h: Column, m: Int, k: Int): Column =
    array((0 until k).map(i => doubleHashFrom(h, m, i)): _*)

  /** Bloom filter of `keyCol` membership: k md5 hash rows over m bits,
    * materialized as the DISTINCT set-bit positions (≤ m rows, usually
    * far fewer — broadcastable). One map-only explode (×k) + one
    * distinct shuffle. No false negatives by construction; the false-
    * positive rate is the usual (1−e^(−kn/m))^k — size m ≥ ~3× the
    * expected distinct count per hash row. */
  def bloomBuild(df: DataFrame, keyCol: String, m: Int = 65536,
      k: Int = 3): BloomSketch = {
    require(m > 0 && k > 0, s"bloom: bad shape (m=$m, k=$k)")
    BloomSketch(
      df.select(Sampling.hash48(checkedKey(keyCol, "bloom"), bloomSalt)
          .as("__h"))
        .select(explode(bloomPositions(col("__h"), m, k)).as("pos"))
        .distinct(),
      m, k)
  }

  /** Membership probe: maybe(key) ⇔ all k positions are set. The bit
    * set broadcasts; probes stay distributed — the shape that lets a
    * 100 TB scan pre-filter a join against a small build side without
    * shuffling the scan. */
  def bloomMightContain(sketch: BloomSketch, probes: DataFrame,
      keyCol: String): DataFrame = {
    val bits = sketch.bits.select(col("pos").as("__pos"))
    probes
      .select(col(keyCol),
        Sampling.hash48(checkedKey(keyCol, "bloom probe"), bloomSalt)
          .as("__h"))
      .select(col(keyCol),
        explode(bloomPositions(col("__h"), sketch.m, sketch.k)).as("pos"))
      .join(broadcast(bits), col("pos") === col("__pos"), "left")
      .groupBy(keyCol)
      .agg((count(col("__pos")) === sketch.k).as("maybe"))
  }

  // ------------------------------------------------ sampled quantiles

  /** Quantile sketch by md5 row sampling: keep the rows whose key
    * hashes under `ratePerM`/1M, carry only the value column. The keep
    * decision is a pure (key, salt) function, so per-partition sketches
    * merge by plain union (sample-of-union = union-of-samples) and the
    * sketch replays bit-identically in SQL — unlike `approx_percentile`
    * (GK internals) or reservoir sampling (arrival-order dependent).
    * Estimate error is the binomial sampling error ~1/√(q·n·rate). */
  def quantileSample(df: DataFrame, keyCol: String, valueCol: String,
      ratePerM: Int = 10000): QuantileSketch = {
    require(ratePerM > 0 && ratePerM <= 1000000,
      s"quantile: ratePerM must be in (0, 1000000], got $ratePerM")
    QuantileSketch(
      df.filter(Sampling.hashBucket(checkedKey(keyCol, "quantile sample"),
          "qsk-v1", 1000000) < ratePerM)
        .select(col(valueCol).cast("double").as("v")),
      ratePerM)
  }

  /** Type-1 (lower) quantile estimates over the sample: the value at
    * sorted rank ⌈q·n⌉ for each requested q — picked values, never
    * interpolated, so the estimate is a real data value and replays
    * exactly. The sample ranks on the prefix scan
    * ([[Sampling.orderStatistics]]), so a sample of any size ranks in
    * parallel. An empty sample gives no rows. */
  def quantileEstimate(sketch: QuantileSketch, qs: Seq[Double]): DataFrame =
    quantiles(sketch.sample, Nil, qs)

  /** Per-group quantiles in ONE pass over a grouped sample: the same
    * md5 keep decision and the same type-1 rule as [[quantileEstimate]],
    * with the rank restarting per group — every group ranks on the
    * same prefix scan, so there is no single-partition stage at any
    * group count or group size (per-language length percentiles over
    * 100 TB: one sample filter + one scan). */
  def groupedQuantiles(df: DataFrame, groupCols: Seq[String],
      keyCol: String, valueCol: String, qs: Seq[Double],
      ratePerM: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "grouped quantiles: groupCols is empty")
    require(ratePerM > 0 && ratePerM <= 1000000,
      s"quantile: ratePerM must be in (0, 1000000], got $ratePerM")
    val g = groupCols.map(col)
    quantiles(df.filter(Sampling.hashBucket(checkedKey(keyCol, "quantile sample"),
        "qsk-v1", 1000000) < ratePerM)
      .select(g :+ col(valueCol).cast("double").as("v"): _*), g, qs)
  }

  /** (group…, q, est): the value at rank max(1, ⌈q·n⌉) of each group of
    * `sample`'s `v` column */
  private def quantiles(sample: DataFrame, g: Seq[Column],
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantile: qs must be in (0, 1], got $qs")
    Sampling.orderStatistics(sample, g, Seq(col("v")), qs.map(lit(_)))(
        (q, n) => ceil(q * n))
      .select(g ++ Seq(col("__pick").as("q"), col("v").as("est")): _*)
  }

  /** The HLL raw estimate: α·m²/Σ2^(−M_j), registers absent from the
    * frame counting as 0 (one full 2^0 term each). Every term is a
    * dyadic rational ≥ 2^(p−48), so the sum is EXACT in a double and
    * order-independent — the estimate replays bit-identically in SQL.
    * Result rounds to 4 decimals; one row `{distinct_est}`.
    * Small-range bias correction is intentionally omitted (it needs
    * ln(), which differs across libms) — callers counting < 2.5·m
    * distincts should lower p instead. */
  def hllEstimate(sketch: HllSketch): DataFrame = {
    val m = (1 << sketch.p).toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    sketch.registers
      .agg(sum(pow(lit(2.0), -col("r"))).as("__s"),
        count(lit(1)).cast("double").as("__nz"))
      .select(round(lit(alpha * m * m) /
        (col("__s") + (lit(m) - col("__nz"))), 4).as("distinct_est"))
  }
}
