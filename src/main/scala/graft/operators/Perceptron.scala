package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch perceptron — a GRADIENT-trained linear classifier that is
  * still exactly replayable in oracle SQL, complementing the
  * counts-based [[NbClassifier]]: every quantity is a 64-bit integer
  * (features are counts, labels are ±1, updates are sums of
  * label-signed feature vectors), so there is no float to drift
  * between engines and the unrolled training rounds replay bit-exactly
  * as CTEs.
  *
  * Training (fixed `iters` full-batch rounds, the distributed form of
  * Rosenblatt's rule):
  *  - margin(d)  = y_d · (w_t · x_d)        with x_d = [1, features...]
  *  - w_{t+1}    = w_t + Σ_{margin ≤ 0} y_d · x_d
  * The slice pre-aggregates to distinct (label, features) profiles
  * with multiplicities before round 1 (one shuffle, exact — a round's
  * update is a pure function of the profile) and is checkpointed once,
  * so callers need not cache the feature frame for the rounds' sake.
  * The k+1 weights live on the driver: each round is ONE
  * `treeAggregate` over the profiles with the weights in the closure
  * (MLlib's gradient-descent shape), one job under the label
  * `perceptron: round i`. Only the k+1 sums come back, never a
  * profile, so the training data can be any size. The arithmetic is
  * exact (`Math.multiplyExact`/`addExact`): an overflow fails the
  * round, as the ANSI plan it replaces did; it never wraps.
  *
  * Integer overflow bound (caller's contract, checked loudly at score
  * time): |w_j| grows at most `iters · Σ_d |x_dj|`, and scores by
  * `max_j |w_j| · Σ_j x_dj`; with count features (≤ ~10^4) and labeled
  * slices (≤ ~10^7 rows — labeled data is small by construction) both
  * sit far inside Long range.
  */
object Perceptron {

  /** the engine's x_d: bias 1 prepended to the raw count features */
  private def withBias(features: Column): Column =
    concat(array(lit(1L)), features)

  /** Train on `df`'s `featuresCol` (array<long> of exactly `k` count
    * features, WITHOUT bias — it is prepended here) against `labelCol`
    * (boolean: true → +1, false → −1). Returns a ONE-ROW frame
    * `{w: array<long>}` of k+1 weights (bias first); an empty training
    * slice trains the zero vector (every score 0, every pred false) —
    * deterministic, never an empty frame that would vanish joins. */
  def train(df: DataFrame, featuresCol: String, labelCol: String,
      iters: Int, k: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    // a null label would otherwise silently train as -1
    val y = when(col(labelCol).isNull, raise_error(lit(
        "perceptron: null label — filter unlabeled rows before train")))
      .when(col(labelCol), 1L).otherwise(-1L)
    // a row with the wrong arity OR a null feature fails the round
    // loudly — silently skipping it (null margin → "correct") would
    // train a different model
    val xb = withBias(col(featuresCol).cast("array<long>"))
    val checked = when(xb.isNull || exists(xb, v => v.isNull), raise_error(
        lit(s"perceptron: null feature value (k = $k)")))
      .when(size(xb) === k + 1, xb)
      .otherwise(raise_error(
        concat(lit(s"perceptron: features arity "), (size(xb) - 1).cast("string"),
          lit(s" != $k"))))
    // a round's update Σ_{margin≤0} y·x is identical over the DISTINCT
    // (y, x) profiles weighted by their multiplicity — margin is a pure
    // function of (y, x, w) — so the training slice pre-aggregates ONCE
    // to (y, x, n) and every round scans that checkpoint instead of the
    // full slice (count features repeat heavily)
    val feats = Par.withJobDescription(spark.sparkContext, "perceptron: profiles")(
      Materialize.checkpoint(df.select(y.as("y"), checked.as("x"))
        .groupBy(col("y"), col("x")).agg(count(lit(1)).as("n"))))
    val profiles = feats.queryExecution.toRdd
      .map(r => (r.getLong(0), r.getArray(1).toLongArray(), r.getLong(2)))
    // an empty training slice aggregates nothing and keeps 0⃗
    val w = (1 to iters).foldLeft(new Array[Long](k + 1)) { (cur, i) =>
      val update = Par.withJobDescription(spark.sparkContext, s"perceptron: round $i")(
        profiles.treeAggregate(new Array[Long](k + 1))({ case (acc, (yd, x, n)) =>
          val dot = (0 to k).foldLeft(0L)((s, j) => Math.addExact(s, Math.multiplyExact(cur(j), x(j))))
          if (Math.multiplyExact(yd, dot) <= 0)
            for (j <- 0 to k) acc(j) = Math.addExact(acc(j), Math.multiplyExact(yd * n, x(j)))
          acc
        }, { (a, b) => for (j <- 0 to k) a(j) = Math.addExact(a(j), b(j)); a }))
      cur.zip(update).map { case (a, b) => Math.addExact(a, b) }
    }
    spark.range(1).select(array(w.toSeq.map(v => lit(v)): _*).as("w"))
  }

  /** Score every row of `df`: adds `score` (w · [1, features]) and
    * `pred` (score > 0). `w` is [[train]]'s one-row frame, broadcast.
    * An arity mismatch between the weights and a row's features fails
    * loudly (null score) rather than silently truncating. */
  def score(df: DataFrame, featuresCol: String, w: DataFrame): DataFrame = {
    val x = withBias(col(featuresCol).cast("array<long>"))
    val dot = aggregate(zip_with(col("w"), x, _ * _), lit(0L), _ + _)
    df.crossJoin(broadcast(w))
      .withColumn("score", when(size(col("w")) === size(x), dot))
      .drop("w")
      .withColumn("pred", col("score") > 0)
  }
}
