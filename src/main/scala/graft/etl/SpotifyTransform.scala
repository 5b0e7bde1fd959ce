package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pure DataFrame→DataFrame playlist transform: the engine's re-expression of
  * the reference's blob-triggered pandas transform (`spotifytransform.py:66-163`).
  *
  * Reference semantics preserved:
  *   - one output row per `items[]` entry in the fact table (T1 explode,
  *     `spotifytransform.py:29,42,53` — but exploded ONCE here, not 3×);
  *   - primary-artist only: `artists[0]` (`spotifytransform.py:43-45,61`);
  *   - keep-FIRST dedup of the dims in playlist order
  *     (`drop_duplicates(keep='first')`, `spotifytransform.py:95,98`) —
  *     made deterministic and distributed via `posexplode` position +
  *     `row_number` window, never bare `dropDuplicates`;
  *   - `added_at` → timestamp (`spotifytransform.py:92`), multi-precision
  *     `release_date` → date (`spotifytransform.py:99`, see [[Dates]]).
  *
  * Scale posture: everything below is narrow (explode + project) except the
  * two dim dedups, which shuffle only the tiny projected dim columns hashed
  * by their natural key — the fact table never shuffles.
  */
object SpotifyTransform {

  /** Explode the playlist page once; (`__src`, `pos`) is the deterministic
    * playlist order that makes keep-first dedup reproducible: `pos` is the
    * 0-based position WITHIN one landed page and restarts per file, so the
    * source file path disambiguates across pages of a multi-page batch
    * (empty string for non-file sources — then `pos` alone decides, as
    * before). Pages order LEXICOGRAPHICALLY by path: landing writers must
    * zero-pad page numbers (page_09 < page_10) for lexicographic order to
    * equal fetch order — with non-padded names the choice is still
    * deterministic, just not fetch-ordered. The dunder name keeps the
    * bookkeeping column from colliding with payload columns. All three
    * output tables derive from this single Generate.
    */
  def exploded(raw: DataFrame): DataFrame =
    raw.select(input_file_name().as("__src"),
      posexplode(col("items")).as(Seq("pos", "item")))

  /** Fact table: one row per playlist item, carrying FK's `album_id`,
    * `artist_id` (primary artist).
    */
  def songs(ex: DataFrame): DataFrame = ex.select(
    col("item.track.id").as("song_id"),
    col("item.track.name").as("name"),
    col("item.track.duration_ms").as("duration_ms"),
    col("item.track.external_urls.spotify").as("url"),
    col("item.track.popularity").as("popularity"),
    to_timestamp(col("item.added_at")).as("added_date"),
    col("item.track.album.id").as("album_id"),
    // try_element_at: an empty artists array (local/removed track) must
    // yield null, not an ANSI INVALID_ARRAY_INDEX error killing the batch
    try_element_at(col("item.track.artists"), lit(1)).getField("id").as("artist_id"))

  /** Artist dim: primary artist of each item, deduped keep-first (within
    * each landed page when `perPage`, see [[tables]]).
    */
  def artists(ex: DataFrame, perPage: Boolean = false): DataFrame =
    keepFirst(
      ex.select(
        col("__src"), col("pos"),
        try_element_at(col("item.track.artists"), lit(1)).getField("id").as("artist_id"),
        try_element_at(col("item.track.artists"), lit(1)).getField("name").as("name"),
        try_element_at(col("item.track.artists"), lit(1)).getField("external_urls")
          .getField("spotify").as("url")),
      "artist_id", perPage)

  /** Album dim: deduped keep-first (within each landed page when
    * `perPage`), release_date parsed multi-precision.
    */
  def albums(ex: DataFrame, perPage: Boolean = false): DataFrame =
    keepFirst(
      ex.select(
        col("__src"), col("pos"),
        col("item.track.album.id").as("album_id"),
        col("item.track.album.name").as("name"),
        Dates.parseReleaseDate(col("item.track.album.release_date")).as("release_date"),
        col("item.track.album.total_tracks").as("total_tracks"),
        col("item.track.album.external_urls.spotify").as("url")),
      "album_id", perPage)

  /** Deterministic keep-first-occurrence dedup: the distributed equivalent of
    * pandas `drop_duplicates(keep='first')` on a frame that has (`__src`,
    * `pos`) ordering columns. Ordering by `pos` alone would tie across
    * pages (it restarts per landed file) and let `row_number` pick an
    * arbitrary winner; the file discriminator keeps the choice stable
    * across runs (see [[exploded]] for the ordering contract). Shuffles by
    * `key` only; no global sort.
    */
  def keepFirst(df: DataFrame, key: String): DataFrame = keepFirst(df, key, perPage = false)

  /** [[keepFirst]] by `key`, or by (`__src`, `key`) when `perPage`, so that
    * each landed page is deduplicated on its own.
    */
  private def keepFirst(df: DataFrame, key: String, perPage: Boolean): DataFrame = {
    val ord =
      if (df.columns.contains("__src")) Seq(col("__src"), col("pos"))
      else Seq(col("pos")) // caller-supplied frames with a total `pos` order
    val part = if (perPage) Seq(col("__src"), col(key)) else Seq(col(key))
    val w = Window.partitionBy(part: _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src", "pos")
  }

  /** The three output tables of an [[exploded]] frame. `perPage` sets the
    * dim dedup scope: `false` (batch) keeps the first occurrence across
    * every page read; `true` (stream) dedups each landed page on its own,
    * as the reference's per-blob transform does, however many pages one
    * micro-batch admits.
    */
  def tables(ex: DataFrame, perPage: Boolean = false): (DataFrame, DataFrame, DataFrame) =
    (songs(ex), artists(ex, perPage), albums(ex, perPage))

  /** Run the full transform: raw playlist page(s) → (songs, artists, albums). */
  def apply(raw: DataFrame): (DataFrame, DataFrame, DataFrame) = tables(exploded(raw))
}
