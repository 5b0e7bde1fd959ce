package graft.etl

import graft.streaming.MicroBatch
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CommitLog
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryProgress, StreamingQueryStatus, Trigger}

/** Streaming entry for the playlist ETL: the Spark-native equivalent of the
  * reference's blob-trigger + move-to-processed loop
  * (`spotifytransform.py:67-75,138-155`).
  *
  * - File source over the inbox dir = the blob trigger. Each micro-batch
  *   admits every page landed since the last one: `Trigger.AvailableNow`
  *   drains a whole backlog in one micro-batch then stops (the
  *   serverless-invocation shape), while a `ProcessingTime` trickle still
  *   sees one page per trigger as pages arrive. The micro-batch's JSON is
  *   parsed once, persisted, and its three tables are written concurrently
  *   from that one parse (see [[PipelineBatch.writeStar]]).
  * - The micro-batch runs in `spark`, the session passed to `start`, not
  *   in the clone of it that Spark runs the query in. Generated code is
  *   cached per executor class loader, and each session's tasks get their
  *   own loader, so writes in a fresh clone would recompile every
  *   task-side class on each `start()`; in the caller's session a repeated
  *   drain compiles none (see [[graft.streaming.MicroBatch.inSession]]).
  * - Dim dedup stays per page, however many pages a micro-batch holds: each
  *   landed file is deduplicated on its own, as the reference's per-blob
  *   transform does (see [[SpotifyTransform.tables]]). A multi-line JSON
  *   page is never split, so each page is deduplicated in the partition it
  *   was read into: a micro-batch writes its three tables with three jobs
  *   and no shuffle.
  * - `cleanSource=archive` = the copy-then-delete move, but driven off the
  *   streaming checkpoint, so a crash between "processed" and "archived"
  *   cannot double-process — strictly better than the reference, which can
  *   (`spotifytransform.py:150-153`). Spark archives a micro-batch's pages
  *   only when the next one starts; the returned query archives the last
  *   committed micro-batch's pages itself once it terminates, into the same
  *   layout, so a drained inbox is left empty.
  * - Cross-file dim duplicates are still emitted per-page (faithful to the
  *   reference, which dedups only within one file); bounded cross-batch dedup
  *   is available separately via `graft.streaming.EventTransforms.dedupWithinWatermark`.
  */
object PipelineStream {

  def start(
      spark: SparkSession,
      inboxDir: String,
      outDir: String,
      archiveDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {

    val raw = spark.readStream
      .schema(Schemas.PlaylistSchema)
      .option("multiLine", value = true)
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .json(inboxDir)

    val q = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        PipelineBatch.writeStar(MicroBatch.inSession(spark, batch), perPage = true, outDir,
          batchId.toString)
        ()
      }
      .start()

    new ArchivingQuery(q, () => archiveLastCommitted(spark, checkpointDir, archiveDir))
  }

  /** Move the pages still in the inbox whose micro-batch is the latest in
    * the commit log into `archiveDir`, laid out as `cleanSource=archive`
    * lays them out (the archive dir followed by the page's absolute path).
    * The pages are those the file source logged under that batch's id, the
    * set Spark's own archiver moves once the next micro-batch starts; they
    * were all read by committed micro-batches.
    */
  private def archiveLastCommitted(spark: SparkSession, checkpointDir: String,
      archiveDir: String): Unit =
    new CommitLog(spark, s"$checkpointDir/commits").getLatestBatchId.foreach { batchId =>
      val sourceLog = new FileStreamSourceLog(
        FileStreamSourceLog.VERSION, spark, s"$checkpointDir/sources/0")
      val conf = spark.sparkContext.hadoopConfiguration
      val base = new Path(archiveDir)
      val root = base.getFileSystem(conf).makeQualified(base).toString.stripSuffix("/")
      for {
        (_, entries) <- sourceLog.get(Some(batchId), Some(batchId))
        entry <- entries if entry.batchId == batchId
      } {
        val src = entry.sparkPath.toPath
        val fs = src.getFileSystem(conf)
        val dst = new Path(root + src.toUri.getPath)
        if (fs.exists(src)) {
          fs.mkdirs(dst.getParent)
          fs.rename(src, dst)
        }
      }
    }

  /** `q`, running `onTerminated` once it has stopped: after `stop`, or
    * after `awaitTermination` returns because the query finished.
    */
  private final class ArchivingQuery(q: StreamingQuery, onTerminated: () => Unit)
      extends StreamingQuery {
    def name: String = q.name
    def id: UUID = q.id
    def runId: UUID = q.runId
    def sparkSession: SparkSession = q.sparkSession
    def isActive: Boolean = q.isActive
    def exception: Option[StreamingQueryException] = q.exception
    def status: StreamingQueryStatus = q.status
    def recentProgress: Array[StreamingQueryProgress] = q.recentProgress
    def lastProgress: StreamingQueryProgress = q.lastProgress
    def processAllAvailable(): Unit = q.processAllAvailable()
    def explain(): Unit = q.explain()
    def explain(extended: Boolean): Unit = q.explain(extended)

    def awaitTermination(): Unit = { q.awaitTermination(); onTerminated() }

    def awaitTermination(timeoutMs: Long): Boolean = {
      val done = q.awaitTermination(timeoutMs)
      if (done) onTerminated()
      done
    }

    def stop(): Unit = { q.stop(); onTerminated() }
  }
}
