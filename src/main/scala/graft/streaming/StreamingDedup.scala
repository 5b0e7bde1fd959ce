package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus-ingestion dedup gate — the ONLINE twin of the batch
  * `d55_incremental_dedup`: every micro-batch of documents is canonically
  * fingerprinted (d32's lower/trim/collapse-whitespace md5), deduped
  * within the batch (keep-first by doc_id), probed against the
  * ACCUMULATED fingerprint table with an anti-join, and only novel
  * documents land in the accepted output. Accepted fingerprints extend
  * the table, so duplicates arriving in LATER batches are rejected too —
  * the gate a crawl pipeline puts in front of its landing zone so the
  * corpus never admits a document twice.
  *
  * Replay idempotency (foreachBatch is at-least-once after a restart):
  * both outputs are parquet tables PARTITIONED BY batch_id and written
  * with dynamic partition overwrite, so a replayed batch overwrites
  * exactly its own partition; and the probe EXCLUDES the current
  * batch_id's partition, so a replay does not reject its own first
  * attempt's fingerprints. A crash mid-write leaves a partial partition
  * that the replay overwrites whole.
  *
  * Scale shape: the within-batch dedup windows on fp (keyed, batch-sized
  * state); the corpus probe is a fp-keyed anti-join against a table that
  * only ever receives NOVEL fingerprints (16 bytes + id per accepted doc
  * — the 100 TB corpus's gate table is ~copyable); partition pruning
  * drops only the current batch's partition, everything else streams
  * through the join. At warehouse scale the fp table would be bucketed
  * by fp (ops/Bucketing.scala) so the per-batch probe is exchange-free
  * on the big side.
  */
object StreamingDedup {

  /** Canonical-text fingerprint — MUST mirror d32/d55 so batch and
    * streaming gates agree on what "the same document" means.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Process one micro-batch of (doc_id, text): returns the accepted
    * (novel) rows after writing both tables. Exposed for direct spec
    * calls (including deliberate same-batch-id replays).
    */
  def processBatch(spark: SparkSession, batch: DataFrame, fpDir: String,
      acceptedDir: String, batchId: Long): DataFrame = {
    // per-partition overwrite is the idempotency mechanism — enforce it
    // here too so direct (non-stream) callers get the same semantics
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val withFp = batch.select(col("doc_id"), col("text"),
      fingerprint(col("text")).as("fp"))
    val seen = MicroBatch.written(spark, fpDir)
      .map(_.filter(col("batch_id") =!= batchId).select(col("fp")))
      .getOrElse(withFp.select(col("fp")).limit(0)) // first batch: nothing seen yet
    val wB = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val novel = withFp
      .withColumn("__rn", row_number().over(wB))
      .filter(col("__rn") === 1).drop("__rn")
      .join(seen, Seq("fp"), "left_anti")
      .withColumn("batch_id", lit(batchId))
      // both writes + the caller's assertions read this frame: one
      // materialization, and the second write must not observe a
      // re-planned (potentially different) window order
      .localCheckpoint(true)
    novel.select(col("fp"), col("doc_id"), col("batch_id"))
      .write.mode("overwrite").partitionBy("batch_id").parquet(fpDir)
    novel.select(col("doc_id"), col("text"), col("batch_id"))
      .write.mode("overwrite").partitionBy("batch_id").parquet(acceptedDir)
    novel
  }

  /** Wire the gate into a stream of (doc_id, text). The session must run
    * with dynamic partition overwrite (set here) — static mode would
    * truncate the whole table on every batch. Each micro-batch runs in the
    * session of `docs` (see [[MicroBatch.inSession]]).
    */
  def start(docs: DataFrame, fpDir: String, acceptedDir: String,
      checkpointDir: String): StreamingQuery = {
    val spark = docs.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, MicroBatch.inSession(spark, batch), fpDir, acceptedDir, batchId)
        ()
      }
      .outputMode("append")
      .start()
  }
}
