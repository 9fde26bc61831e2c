/* Lives under org.apache.spark.sql to reach private[sql] plumbing:
 * Dataset.ofRows, the HadoopFsRelation/LogicalRelation constructors and
 * internalCreateDataFrame. Used by table-format sources (Delta) to plan
 * a log-defined file set as ONE parquet relation whose partition pruning
 * runs against an in-memory manifest instead of a per-partition Union
 * fan, by RDD operators to hand back Catalyst rows as a frame and to
 * release their per-round state (the private[spark] unpersistRDD), and by
 * the job ledger to drain the listener bus (the private[spark]
 * listenerBus). */
package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

object RelationBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over the Catalyst rows, of `schema`, that an RDD operator
    * computed. */
  def ofInternalRows(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Drops `rdd`'s cached blocks. `RDD.unpersist` does the same but
    * warns for a locally checkpointed RDD that it cannot be recomputed,
    * which is the point for a finished round's state: nothing reads it
    * again once the next round is checkpointed. */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Returns once every event posted to `sc`'s listener bus so far has
    * reached its listeners; a `TimeoutException` after `timeoutMs`. */
  def drainListeners(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** One parquet `HadoopFsRelation` over an explicit [[FileIndex]].
    * Output columns are `dataSchema ++ partitionSchema` (partition values
    * come from the index, not the files). Plan size is O(1) in both file
    * and partition count; partition filters reach
    * `FileIndex.listFiles(partitionFilters, _)` for pruning.
    */
  def parquetRelation(
      spark: SparkSession,
      index: FileIndex,
      partitionSchema: StructType,
      dataSchema: StructType,
      options: Map[String, String] = Map.empty): DataFrame = {
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = options)(spark)
    ofRows(spark, LogicalRelation(relation, isStreaming = false))
  }
}
