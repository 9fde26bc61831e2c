package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RelationBridge
import org.apache.spark.sql.types.LongType

/** Deterministic dataset splitting for training pipelines: the split a
  * row lands in is a pure function of (key, salt) — stable across runs,
  * executor counts and data layout, unlike `randomSplit`, so train/val/
  * test membership never drifts between pipeline runs and a row can be
  * re-derived to its split at any time.
  *
  * Bit contract (the engine's md5 family): bucket = the LOW 48 BITS of
  * `md5_number_lower(key || salt)` (little-endian u64 over digest bytes
  * 8..15) modulo `buckets` — replayed verbatim by the DuckDB oracle, and
  * computed here with built-in codegen'd functions only (md5 + string
  * slicing + conv), no UDF.
  */
object Sampling {

  /** the raw LOW 48 BITS of md5_number_lower(key || salt) — the
    * engine-wide hash contract every bucket/split/sketch derives from */
  def hash48(key: Column, salt: String): Column =
    // r17: one codegen kernel straight off the digest bytes — value
    // bit-identical to the original built-in chain (md5 → hex string →
    // six substrings → conv(16,10) → cast), which paid a 32-char hex
    // allocation plus a base-16 string parse per row on the engine's
    // hottest hash path (pinned equal in SamplingSpec)
    graft.functions.TextExprs.md5_low48(concat(key.cast("string"), lit(salt)))

  /** hash bucket in [0, buckets): low 48 bits of md5_number_lower */
  def hashBucket(key: Column, salt: String, buckets: Int = 10000): Column = {
    require(buckets > 0, "buckets must be positive")
    hash48(key, salt) % buckets
  }

  /** Epoch-deterministic global shuffle: rows sort by the hash of
    * (key, epoch), so every run of the same epoch yields the identical
    * order — reproducible training-data order, re-derivable per row —
    * while different epochs decorrelate. One range-partitioned sort,
    * the plan any distributed shuffle needs. */
  def deterministicShuffle(df: DataFrame, keyCol: String, epoch: Int): DataFrame =
    df.orderBy(hashBucket(col(keyCol), s"epoch-$epoch", 1 << 30), col(keyCol))

  /** `df` plus a long column `out`: the exact EXCLUSIVE prefix sum of
    * `value` (NULL counts as 0) in `order`, restarting per `shard` value
    * (NULL is a shard; no shard = one scan over all rows); with `total`,
    * also a long column of that name holding the row's whole shard sum.
    * The one scan behind [[packSequences]], [[packTokenIds]],
    * [[tokenBudgetSample]] and, with value 1, every rank over rows
    * ([[withRank]], [[orderStatistics]]). Two passes over one range
    * partitioning, no single-task step over the rows at any scale and
    * no row cap:
    *  1. rows range-partition on `shard ++ order` and sort within each
    *     partition, fixed once behind a checkpoint (every plan over a
    *     bare `repartitionByRange` samples its own bounds, so two reads
    *     of it could disagree);
    *  2. each run of one shard within a partition sums to one row;
    *     those ≤ partitions + shards sums go to the driver, become
    *     exclusive offsets and shard totals, and broadcast back, and
    *     one map-side pass adds each row's running sum within its run
    *     to the run's offset.
    * Both passes read Catalyst rows (`queryExecution.toRdd`) and pass 2
    * hands them back through [[RelationBridge.ofInternalRows]], so no
    * row converts to an external `Row`. The result does not depend on
    * the input's partitioning. `order` must be total within a shard:
    * tied rows take an arbitrary order among themselves, as in any
    * scan. */
  private[operators] def withExclusivePrefixSum(df: DataFrame, value: Column,
      order: Seq[Column], shard: Seq[Column], out: String,
      total: Option[String] = None): DataFrame = {
    val keys = shard ++ order
    val ranged = Materialize.checkpoint(df.repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__v", coalesce(value.cast("long"), lit(0L))))
      .withColumn("__s", struct(shard: _*))
    // a run: consecutive rows of one shard in a partition. A shard is
    // the `__s` struct, an UnsafeRow that equals another by its bytes
    // (NULL fields included); it points into its row, so a kept one is
    // copied
    val nShard = shard.size
    // pass 1: (partition, shard, sum) of every run, in partition order —
    // that is, in (shard, order) order
    val runs = ranged.select(col("__s"), col("__v")).queryExecution.toRdd
      .mapPartitionsWithIndex { (p, rows) =>
        val sums = ArrayBuffer.empty[(Int, InternalRow, Long)]
        rows.foreach { r =>
          val s = r.getStruct(0, nShard)
          if (sums.isEmpty || sums.last._2 != s) sums += ((p, s.copy(), 0L))
          sums(sums.length - 1) = sums.last.copy(_3 = sums.last._3 + r.getLong(1))
        }
        sums.iterator
      }.collect()
    val offsets = new Array[Long](runs.length)
    for (i <- 1 until runs.length) if (runs(i - 1)._2 == runs(i)._2)
      offsets(i) = offsets(i - 1) + runs(i - 1)._3
    // a shard's total: its last run's offset plus that run's sum
    val totals = new Array[Long](runs.length)
    for (i <- runs.indices.reverse) totals(i) =
      if (i + 1 < runs.length && runs(i + 1)._2 == runs(i)._2) totals(i + 1)
      else offsets(i) + runs(i)._3
    val byPart = df.sparkSession.sparkContext.broadcast(
      runs.indices.groupMap(runs(_)._1)(i => (offsets(i), totals(i))))
    // pass 2: a row's sum is its run's offset plus the run's rows before it
    val (sIdx, vIdx) = (ranged.schema.fieldIndex("__s"), ranged.schema.fieldIndex("__v"))
    // (out, total) rides next to each row, which the frame's scan copies
    val scanned = ranged.queryExecution.toRdd.mapPartitionsWithIndex[InternalRow] {
      (p, rows) =>
        var (run, shardKey, acc) = (-1, null: InternalRow, 0L)
        val sums = new GenericInternalRow(2)
        val joined = new JoinedRow
        rows.map { r =>
          val s = r.getStruct(sIdx, nShard)
          if (run < 0 || shardKey != s) {
            run += 1; shardKey = s.copy(); acc = byPart.value(p)(run)._1
            sums.setLong(1, byPart.value(p)(run)._2)
          }
          sums.setLong(0, acc)
          acc += r.getLong(vIdx)
          joined(r, sums)
        }
    }
    val schema = ranged.schema.add(out, LongType).add(total.getOrElse("__t"), LongType)
    RelationBridge.ofInternalRows(df.sparkSession, scanned, schema).drop("__v", "__s", "__t")
  }

  /** `df` plus `__rank`, the 1-based rank of each row in `order` within
    * its `group`, and `__n`, the group's row count: the prefix scan
    * with value 1, whose exclusive count is the row number − 1.
    * `order` must be total within a group. */
  private[operators] def withRank(df: DataFrame, group: Seq[Column],
      order: Seq[Column]): DataFrame =
    withExclusivePrefixSum(df, lit(1L), order, group, "__rank", Some("__n"))
      .withColumn("__rank", col("__rank") + 1)

  /** Order statistics of every `group`: for each pick p, the row at
    * rank max(1, `rankAt(p, n)`) in `order`, n being the group's row
    * count; the pick rides along as `__pick`. One [[withRank]] scan,
    * so a group of any size ranks in parallel. */
  private[operators] def orderStatistics(df: DataFrame, group: Seq[Column],
      order: Seq[Column], picks: Seq[Column])(
      rankAt: (Column, Column) => Column): DataFrame =
    withRank(df, group, order)
      .withColumn("__pick", explode(array(picks: _*)))
      .filter(col("__rank") === greatest(lit(1L), rankAt(col("__pick"), col("__n"))))
      .drop("__rank", "__n")

  /** Sequence packing: assign rows to token-budgeted batches by a scan
    * over a deterministic order — batch_id = floor(exclusive running
    * token sum / budget), the standard parallel packing approximation
    * (a row straddling a boundary belongs to the batch where it
    * starts, so batches can overshoot by at most one row's tokens; the
    * exact bin-packing variant is inherently sequential). A row with a
    * NULL token count gets a NULL batch_id.
    *
    * `shardCol` restarts the scan per shard, so batch_id is
    * shard-local; sharded or not, the scan runs in parallel
    * ([[withExclusivePrefixSum]]). */
  def packSequences(df: DataFrame, tokenCol: String, orderCol: String,
      budget: Long, shardCol: Option[String] = None): DataFrame = {
    require(budget > 0, "token budget must be positive")
    // `div` = exact integer division on the exact long sums
    withExclusivePrefixSum(df, col(tokenCol), Seq(col(orderCol)), shardCol.map(col).toSeq,
        "batch_id")
      .withColumn("batch_id",
        when(col(tokenCol).isNotNull, expr(s"batch_id div $budget")))
  }

  /** Pack per-document token-id ARRAYS into fixed-length training
    * sequences — the trainer-feed layout: documents concatenate in
    * `orderCol` order and the stream cuts every `seqLen` tokens, so a
    * sequence may span document boundaries exactly like GPT-style
    * pretraining packing (the final sequence runs short; the trainer's
    * collator pads). Returns (seq_id, n_tokens, input_ids).
    *
    * Scale: document offsets are one exclusive prefix sum of the array
    * sizes ([[withExclusivePrefixSum]] — `shardCol` restarts it per
    * shard, for shard-local seq ids), then the exploded id stream
    * shuffles once on seq_id and each sequence reassembles via
    * array_sort over (slot, id) structs — no collect_list ordering
    * assumption. */
  def packTokenIds(df: DataFrame, idsCol: String, orderCol: String,
      seqLen: Int, shardCol: Option[String] = None,
      eosId: Option[Long] = None,
      withSegments: Boolean = false): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    import org.apache.spark.sql.expressions.Window
    // a NULL id array must behave as empty: legacy sizeOfNull makes
    // size(null) = -1 (which would silently shift every later sequence
    // boundary) and concat(null, eos) stays null (dropping the
    // separator) — coalesce first so neither can happen
    val elemType = df.schema(idsCol).dataType
    val nonNull = df.withColumn(idsCol,
      coalesce(col(idsCol), array().cast(elemType)))
    // eosId appends the document separator BEFORE packing (standard
    // pretraining practice: the model learns boundaries from the EOS);
    // empty documents still contribute their separator
    val src = eosId match {
      case Some(e) => nonNull.withColumn(idsCol,
        concat(col(idsCol), array(lit(e).cast("long"))))
      case None => nonNull
    }
    val withOff = withExclusivePrefixSum(src, size(col(idsCol)),
      Seq(col(orderCol)), shardCol.map(col).toSeq, "__off")
    val shardKeep = shardCol.map(col).toSeq
    // the document offset rides through the explode ONLY when segment
    // ids were asked for: 8 unused bytes per token through the pack
    // shuffle is real money at corpus scale
    val exploded = withOff
      .select(shardKeep ++ Seq(col("__off"),
        posexplode(col(idsCol)).as(Seq("__i", "__id"))): _*)
      // `div` = exact integer division (floor(a/b) on doubles would
      // drift past 2^53 global tokens — a real number at corpus scale)
      .selectExpr(shardCol.toSeq ++ Seq(
        s"CAST((__off + __i) div $seqLen AS BIGINT) AS seq_id",
        s"CAST((__off + __i) % $seqLen AS INT) AS __slot") ++
        (if (withSegments) Seq("__off") else Seq.empty) ++ Seq("__id"): _*)
    // SEGMENT IDS for block-diagonal attention masking: each token's
    // source-document ordinal WITHIN its sequence (1, 1, …, 2, 2, …) —
    // the standard companion array when packed sequences must not
    // attend across document boundaries. Within a shard, documents
    // that contribute a token have strictly increasing offsets (empty
    // ones explode to no rows), so dense_rank over the offset is the
    // document ordinal; partitioned by the SAME key the pack groupBy
    // shuffles on, the window rides that exchange (one extra sort, no
    // extra shuffle) and each token's id is O(1) — a per-sequence fold
    // that re-concatenates the accumulator would be O(seqLen²).
    val withSeg =
      if (!withSegments) exploded
      else exploded.withColumn("__seg",
        dense_rank().over(Window
          .partitionBy(shardKeep :+ col("seq_id"): _*)
          .orderBy(col("__off"))))
    val tokenStruct =
      if (withSegments) struct(col("__slot"), col("__id"), col("__seg"))
      else struct(col("__slot"), col("__id"))
    val packed = withSeg.groupBy(shardKeep :+ col("seq_id"): _*)
      .agg(count(lit(1)).as("n_tokens"),
        array_sort(collect_list(tokenStruct)).as("__structs"))
      .withColumn("input_ids",
        transform(col("__structs"), s => s.getField("__id")))
    if (!withSegments) packed.drop("__structs")
    else packed
      .withColumn("segment_ids",
        transform(col("__structs"), s => s.getField("__seg")))
      .drop("__structs")
  }

  /** Deterministic TOKEN-BUDGET subset — "give me ~N tokens of this
    * corpus, reproducibly": rows order by the (key, salt) md5 bit
    * contract (cluster-size-stable, re-derivable — the same order
    * every run, decorrelated from ingest order), and a row is kept
    * while the EXCLUSIVE prefix sum of `tokenCol` stays under
    * `budget`, so the subset overshoots by at most one document. The
    * hash ties on the raw key so the order is total. One exclusive
    * prefix sum ([[withExclusivePrefixSum]] — `shardCol` makes it
    * shard-local, with a per-shard budget); emits (input row, keep) so
    * callers can filter or audit. */
  def tokenBudgetSample(df: DataFrame, tokenCol: String, keyCol: String,
      salt: String, budget: Long, shardCol: Option[String] = None): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val h = hashBucket(col(keyCol), salt, buckets = 1 << 30)
    withExclusivePrefixSum(df, col(tokenCol), Seq(h, col(keyCol)), shardCol.map(col).toSeq,
      "keep")
      .withColumn("keep", col("keep") < budget)
  }

  /** Adds a `split` column assigning each row to one named fraction
    * (cumulative bucket ranges over 10000 buckets). Fractions must sum
    * to 1 (±1e-9); every row lands in exactly one split. */
  def assignSplits(df: DataFrame, keyCol: String, salt: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val b = hashBucket(col(keyCol), salt)
    val bounds = splits.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * 10000)
    }.tail
    // last bound snaps to 10000 so rounding can't drop bucket 9999
    val snapped = bounds.init :+ 10000L
    val expr = splits.map(_._1).zip(snapped).foldRight(lit(null).cast("string")) {
      case ((name, hi), rest) => when(b < hi, lit(name)).otherwise(rest)
    }
    df.withColumn("split", expr)
  }

  /** Deterministic stratified sampling: each stratum keeps its own
    * fraction of rows, decided per row by the same (key, salt) hash
    * contract as [[assignSplits]] — membership is stable across runs
    * and cluster sizes, and re-derivable per row (no `sampleBy`, whose
    * Bernoulli draw depends on partition layout). Strata absent from
    * `rates` keep `defaultRate`. Map-only: a filter over codegen'd
    * hash arithmetic, no shuffle at any corpus size. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      salt: String, rates: Seq[(String, Double)],
      defaultRate: Double = 0.0): DataFrame = {
    require(rates.forall { case (_, r) => r >= 0 && r <= 1 },
      "rates must be in [0, 1]")
    require(defaultRate >= 0 && defaultRate <= 1, "defaultRate must be in [0, 1]")
    val b = hashBucket(col(keyCol), salt)
    val threshold = rates.foldRight(lit(math.round(defaultRate * 10000).toDouble)) {
      case ((stratum, r), rest) =>
        when(col(strataCol) === stratum, lit(math.round(r * 10000).toDouble))
          .otherwise(rest)
    }
    df.filter(b < threshold)
  }

  /** Deterministic per-group cap — the per-domain cap of crawl
    * curation: at most `n` rows survive per group, selected by the
    * (key, salt) hash order (ties → key), so the SAME rows survive on
    * every run regardless of cluster size or layout. One shuffle on
    * the group key; the per-group sort is bounded by group size, and a
    * pathological mega-group is exactly the case the cap exists for —
    * its output is still ≤ n. (At extreme skew a two-phase variant —
    * per-partition pre-cap to n before the shuffle — composes for
    * free: capPerGroup is idempotent and the pre-cap only discards
    * rows the global pass would discard anyway when partitions are
    * hash-disjoint on key.) */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
      salt: String, n: Int): DataFrame = {
    require(n > 0, "cap must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hashBucket(col(keyCol), salt, 1 << 30), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Cluster-balanced sampling (r15): cap every embedding-space
    * CLUSTER at `cap` rows — the diversity-preserving subsample that
    * de-biases head-heavy regions of the embedding space before
    * training (the cluster-then-cap shape SemDeDup-style pipelines
    * use for mixture balancing). Composition of the engine's own
    * parts: one map-only IVF cell assignment against a trained (or
    * loaded) codebook, then the SAME deterministic md5-rank cap the
    * per-domain capper uses — so membership is a pure function of
    * (id, salt, codebook) and the oracle replays it row-for-row. One
    * shuffle (the per-cell rank window); cells bound the window
    * partitions exactly like domains do. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
      m: graft.operators.IvfIndex.Model, salt: String, cap: Int): DataFrame =
    capPerGroup(graft.operators.IvfIndex.assign(df, vecCol, m),
        "__cell", idCol, salt, cap)
      .withColumn("cell", col("__cell").cast("int"))
      .drop("__cell")

  /** Mixture materialization — replicate each source to its target
    * epoch count (the "wiki ×3.3, web ×1.0" step that turns mixture
    * WEIGHTS into an actual training stream): a row with weight w
    * appears floor(w) times plus one more iff its (key, salt) bucket
    * falls under frac(w), so the group's expected multiplicity is
    * exactly w and every copy is re-derivable per row. Emits an
    * `epoch` column (0 .. copies-1); weight 0 drops the group.
    * Map-only: a codegen'd CASE + sequence/explode, no shuffle. */
  def materializeMixture(df: DataFrame, groupCol: String, keyCol: String,
      salt: String, weights: Seq[(String, Double)],
      defaultWeight: Double = 1.0): DataFrame = {
    require(weights.forall(_._2 >= 0) && defaultWeight >= 0,
      "weights must be non-negative")
    def cases(f: Double => Long): Column =
      weights.foldRight(lit(f(defaultWeight))) { case ((g, wt), rest) =>
        when(col(groupCol) === g, lit(f(wt))).otherwise(rest)
      }
    val whole = cases(w => math.floor(w).toLong)
    val fracThr = cases(w => math.round((w - math.floor(w)) * 10000))
    val copies = whole +
      when(hashBucket(col(keyCol), salt) < fracThr, 1L).otherwise(0L)
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** Temperature-based mixture sampling (the multilingual/source
    * rebalancing pass of XLM-R-style pipelines): group g keeps rate
    * (n_min / n_g)^(1-alpha), so the smallest group keeps everything
    * and larger groups are downsampled toward a flat mixture as
    * alpha → 0 (alpha = 1 keeps everything). Membership is per-row
    * deterministic via the same (key, salt) md5 bit contract as
    * [[assignSplits]].
    *
    * Fully distributed: one small per-group count aggregate joined
    * back by broadcast — no driver collect, group cardinality
    * unbounded. alpha = 0.5 computes via `sqrt` (correctly rounded
    * IEEE, so the oracle's replay is bit-identical); other alphas use
    * `pow` (1-ulp, still deterministic per engine — `floor` to integer
    * thresholds makes a cross-engine ulp disagreement matter only at
    * exact-integer boundaries, which only arise at ratio 1 where both
    * engines are exact). */
  def temperatureSample(df: DataFrame, groupCol: String, keyCol: String,
      salt: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("grp_n"))
    val minDf = counts.agg(min(col("grp_n")).as("min_n"))
    val ratio = col("min_n").cast("double") / col("grp_n").cast("double")
    val rate = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1.0 - alpha)
    val thr = counts.crossJoin(broadcast(minDf))
      .select(col(groupCol), floor(lit(10000.0) * rate).as("keep_thr"))
    df.join(broadcast(thr), Seq(groupCol))
      .filter(hashBucket(col(keyCol), salt) < col("keep_thr"))
      .drop("keep_thr")
  }
}
