package graft.etl

import org.apache.spark.sql.SparkSession

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
  * two invocation shapes of the reference's serverless transform. Either
  * way, each run parses its JSON once, persists the parse, and writes the
  * songs, artists and albums tables concurrently from it.
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args.toList match {
      case "batch" :: in :: out :: runId :: Nil =>
        val (s, ar, al) = PipelineBatch.run(spark, in, out, runId)
        println(s"""{"songs":$s,"artists":$ar,"albums":$al}""")
      case "stream" :: inbox :: out :: archive :: ckpt :: Nil =>
        val q = PipelineStream.start(spark, inbox, out, archive, ckpt)
        q.awaitTermination()
        println(s"""{"status":"drained"}""")
      case other =>
        System.err.println(s"usage: EtlMain batch <in> <out> <runId> | stream <inbox> <out> <archive> <ckpt>; got: $other")
        sys.exit(2)
    } finally spark.stop()
  }
}
