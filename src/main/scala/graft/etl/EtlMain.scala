package graft.etl

import org.apache.spark.sql.streaming.StreamingQuery

/** CLI entry for the playlist ETL.
  *
  * {{{
  *   runMain graft.etl.EtlMain batch  <inDir> <outDir> <runId>
  *   runMain graft.etl.EtlMain stream <inboxDir> <outDir> <archiveDir> <checkpointDir>
  * }}}
  *
  * `batch` processes every landed JSON page in `inDir` once, deduplicating
  * the dims across all of them; `stream` drains the inbox with
  * Trigger.AvailableNow (one micro-batch admitting every landed page, each
  * page's dims deduplicated on its own) and archives consumed inputs — the
  * two invocation shapes of the reference's serverless transform. `stream`
  * prints one line per micro-batch (its id, the pages it read, and its
  * `addBatch` and `triggerExecution` times in ms) before
  * `{"status":"drained"}`. Either
  * way, each run parses its JSON once, persists the parse, and writes the
  * songs, artists and albums tables concurrently from it.
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    try args.toList match {
      case "batch" :: in :: out :: runId :: Nil =>
        val (s, ar, al) = PipelineBatch.run(spark, in, out, runId)
        println(s"""{"songs":$s,"artists":$ar,"albums":$al}""")
      case "stream" :: inbox :: out :: archive :: ckpt :: Nil =>
        val q = PipelineStream.start(spark, inbox, out, archive, ckpt)
        q.awaitTermination()
        batchLines(q).foreach(println)
        println(s"""{"status":"drained"}""")
      case other =>
        System.err.println(s"usage: EtlMain batch <in> <out> <runId> | stream <inbox> <out> <archive> <ckpt>; got: $other")
        sys.exit(2)
    } finally spark.stop()
  }

  /** One JSON line per micro-batch in `q`'s recent progress: its id, the
    * pages it read (a multi-line JSON page is one input row), and its
    * `addBatch` and `triggerExecution` times in ms. Idle triggers, which
    * ran no batch, report no `addBatch` and get no line.
    */
  private[etl] def batchLines(q: StreamingQuery): Seq[String] =
    for {
      p <- q.recentProgress.toSeq
      addBatch <- Option(p.durationMs.get("addBatch"))
    } yield s"""{"batch":${p.batchId},"pages":${p.numInputRows},""" +
      s""""add_batch_ms":$addBatch,"trigger_ms":${p.durationMs.get("triggerExecution")}}"""
}
