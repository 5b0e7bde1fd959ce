package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC apply: merge each micro-batch of keyed changes into a
  * parquet-backed table with LAST-WRITE-WINS semantics — the streaming
  * form of the batch `q45_upsert_apply` MERGE (same reduction, applied
  * incrementally via `foreachBatch`).
  *
  * Merge rule per key: the row with the greatest (ts, change_id) across
  * {current table row} ∪ {batch rows} survives. Re-delivered micro-batches
  * (foreachBatch is at-least-once after a restart) are therefore
  * IDEMPOTENT: replaying a batch reapplies winners that already won.
  *
  * Plain parquet has no transactional overwrite, so each merge writes the
  * merged state to a TEMP directory, swaps the previous generation aside,
  * and renames the temp into place — a crash at any point leaves either
  * the table or its `__old` generation on disk (the read path recovers
  * from `__old` when the table dir is missing), never a truncated half
  * table. A lakehouse table format would make the swap transactional and
  * partition-local, and this is exactly the dataflow its MERGE executes.
  * State scales as O(table) per batch here — the demo trade; with a
  * key-partitioned table layout only the partitions containing batch keys
  * need rewriting.
  */
object StreamingUpsert {

  /** Schema: (key long, ts timestamp, change_id long, value double). */
  def mergeBatch(spark: SparkSession, batch: DataFrame, tablePath: String): Unit = {
    // crash recovery + checked-rename swap live in AtomicDirSwap (shared
    // with the file compactor)
    graft.ops.AtomicDirSwap.recover(spark, tablePath)
    // first batch: empty table with the batch schema
    val existing = MicroBatch.written(spark, tablePath).getOrElse(batch.limit(0))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts").desc, col("change_id").desc)
    val merged = existing.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // write reads the live dir while producing the temp — distinct dirs,
    // so no materialization barrier is needed before the swap
    merged.write.mode("overwrite")
      .parquet(graft.ops.AtomicDirSwap.tmpPath(tablePath))
    graft.ops.AtomicDirSwap.commit(spark, tablePath)
  }

  /** Each micro-batch merges in the session of `changes` (see
    * [[MicroBatch.inSession]]).
    */
  def start(changes: DataFrame, tablePath: String,
      checkpointDir: String): StreamingQuery = {
    val spark = changes.sparkSession
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(spark, MicroBatch.inSession(spark, batch), tablePath)
      }
      .outputMode("update")
      .start()
  }
}
