package graft.etl

import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{count, lit}
import scala.util.{Failure, Try}

/** Batch entry for the playlist ETL: landed JSON page(s) in → the 3-table
  * star schema out as CSV-with-header (the reference's output contract,
  * `spotifytransform.py:102-130`: header, UTF-8, overwrite).
  *
  * Output layout mirrors the reference's per-table dirs
  * (`raw/transformed_data/{song,album,artist}_data/`), with a `run=<id>`
  * subdirectory in place of its timestamp-suffixed file names — which makes
  * runs idempotent (SaveMode.Overwrite per run dir) and gives downstream
  * readers partition pruning on run id for free.
  */
object PipelineBatch {

  /** Read every landed playlist JSON in `inDir` (pretty-printed multi-line
    * documents, as the reference lands them with `indent=2`,
    * `spotifyextract.py:100`).
    */
  def readLanding(spark: SparkSession, inDir: String): DataFrame =
    spark.read
      .schema(Schemas.PlaylistSchema)
      .option("multiLine", value = true)
      .json(inDir)

  /** Transform and write the three tables, concurrently, from one persisted
    * parse of the landed JSON (see [[writeStar]]). Returns the output row
    * counts (songs, artists, albums) so callers can assert/log.
    */
  def run(spark: SparkSession, inDir: String, outDir: String, runId: String): (Long, Long, Long) =
    writeStar(readLanding(spark, inDir), perPage = false, outDir, runId)

  /** Explode `landed` once, persist it, and write its songs, artists and
    * albums tables (dedup scope `perPage`, see [[SpotifyTransform.tables]])
    * to `<outDir>/{song,artist,album}_data/run=<runId>`, overwriting.
    * Returns the rows written per table.
    *
    * The three writes are independent, so they are submitted at once, one
    * thread each, and overlap their planning, jobs and commits. Each is
    * submitted through `SQLExecution.withThreadLocalCaptured`, which carries
    * the caller's active session and local properties (job group, job tags,
    * the enclosing SQL execution id of a `foreachBatch`) onto its thread, so
    * cancelling the caller's jobs cancels the writes too. The writes read
    * the same persisted frame: the block manager lets one task compute a
    * cached partition while the others wait for it, so each page is still
    * parsed once. A per-page dedup over unsplit pages shuffles nothing, so
    * a stream micro-batch takes one job per table; a batch run's
    * directory-wide dedup shuffles each dim, and takes up to seven jobs.
    * All three writes have finished when this returns, whether or not one
    * failed; a failure rethrows the first failed table's error, in table
    * order, with the others attached as suppressed.
    */
  private[etl] def writeStar(landed: DataFrame, perPage: Boolean, outDir: String,
      runId: String): (Long, Long, Long) = {
    val ex = SpotifyTransform.exploded(landed).persist()
    try {
      val (songs, artists, albums) = SpotifyTransform.tables(ex, perPage)
      val session = ex.sparkSession.asInstanceOf[classic.SparkSession]

      // the count rides the write job as an observation, so it is exactly
      // the rows written and costs no job of its own
      def write(df: DataFrame, table: String): Long = {
        val written = Observation()
        df.observe(written, count(lit(1)).as("rows"))
          .write
          .mode(SaveMode.Overwrite)
          .option("header", value = true)
          .csv(s"$outDir/${table}_data/run=$runId")
        written.get("rows").asInstanceOf[Long]
      }

      val tables = Seq(songs -> "song", artists -> "artist", albums -> "album")
      val pool = Executors.newFixedThreadPool(tables.size, { (r: Runnable) =>
        val t = new Thread(r, "graft-etl-write"); t.setDaemon(true); t
      })
      val rows = try {
        val writes = tables.map { case (df, table) =>
          SQLExecution.withThreadLocalCaptured(session, pool)(write(df, table))
        }
        // join waits through interrupts, so no write outlives the unpersist
        writes.map(w =>
          Try(w.join()).recoverWith { case e: CompletionException => Failure(e.getCause) })
      } finally pool.shutdown()
      val failures = rows.collect { case Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
      (rows(0).get, rows(1).get, rows(2).get)
    } finally ex.unpersist()
  }
}
