package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

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

  /** Transform and write the three tables. Returns the output row counts
    * (songs, artists, albums) so callers can assert/log.
    */
  def run(spark: SparkSession, inDir: String, outDir: String, runId: String): (Long, Long, Long) = {
    // persist the explode so the landed JSON is parsed once for all three
    // tables, not once per write
    val ex = SpotifyTransform.exploded(readLanding(spark, inDir)).persist()
    try {
      val (songs, artists, albums) = SpotifyTransform.tables(ex)

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

      (write(songs, "song"), write(artists, "artist"), write(albums, "album"))
    } finally ex.unpersist()
  }
}
