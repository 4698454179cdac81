package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.types.StructType

/** The one `private[sql]` door a V1 streaming source needs: a
  * micro-batch `getBatch` must return a DataFrame whose logical plan
  * is flagged `isStreaming`, or `MicroBatchExecution` rejects it —
  * and the only constructor for such a frame
  * (`SparkSession.internalCreateDataFrame(…, isStreaming = true)`) is
  * package-private. Every third-party V1 connector ships exactly this
  * shim (the alternative, a full DataSource V2 `MicroBatchStream`,
  * would mean re-implementing the parquet `PartitionReader` stack the
  * batch reader already provides). Kept to the single call — no other
  * internals are touched. The same call with `isStreaming = false`
  * builds a batch frame from Catalyst rows, which lets a row-wise
  * transform (GraftPCAModel's blocked projection) skip the conversion
  * to and from external `Row`s. */
object StreamingShim {

  /** A DataFrame over `rows`, which must match `schema`. */
  def fromInternalRows(spark: org.apache.spark.sql.SparkSession,
      rows: RDD[InternalRow], schema: StructType,
      isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(rows, schema, isStreaming)

  /** Re-root `df`'s physical RDD under a streaming-flagged LogicalRDD
    * so MicroBatchExecution accepts it as a source batch. */
  def asStreamingBatch(df: DataFrame): DataFrame =
    fromInternalRows(df.sparkSession, df.queryExecution.toRdd, df.schema,
      isStreaming = true)

  /** Drop a local-checkpointed frame's RDD blocks NOW. Iterative
    * drivers that re-checkpoint per round (BPE merges, fixed-point
    * graph loops) otherwise retain every generation's blocks until a
    * GC happens to run — `Dataset.unpersist` only clears CacheManager
    * entries, never checkpoint block storage, and the blocks behind
    * the dead generations are pure cache pressure on the rest of the
    * application. Safe on the CURRENT generation's ancestors because
    * eager localCheckpoint already truncated the lineage. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
