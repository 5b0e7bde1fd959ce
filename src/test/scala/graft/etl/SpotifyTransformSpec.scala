package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.sql.{Date, Timestamp}

/** Golden-fixture test of the playlist ETL (SURVEY.md §5.1): pins explode,
  * nested projection, primary-artist head, keep-first dedup, and both date
  * casts against hand-computed expected rows.
  */
class SpotifyTransformSpec extends SparkSpec {

  lazy val raw: DataFrame = spark.read
    .schema(Schemas.PlaylistSchema)
    .option("multiLine", value = true) // landed files are pretty-printed
    .json(getClass.getResource("/playlist_fixture.json").getPath)

  lazy val (songs, artists, albums) = SpotifyTransform(raw)

  test("songs: one row per playlist item, FK columns populated") {
    val rows = songs.orderBy("song_id").collect()
    assert(rows.length === 5)
    val t1 = rows(0)
    assert(t1.getString(0) === "t1")
    assert(t1.getString(1) === "Track One")
    assert(t1.getLong(2) === 201000L)
    assert(t1.getString(3) === "https://open.spotify.com/track/t1")
    assert(t1.getInt(4) === 91)
    assert(t1.getTimestamp(5) === Timestamp.valueOf("2023-01-01 12:00:00"))
    assert(t1.getString(6) === "al1")
    assert(t1.getString(7) === "ar1")
  }

  test("songs: multi-artist track keeps only the primary artist") {
    val t4 = songs.filter("song_id = 't4'").collect().head
    assert(t4.getAs[String]("artist_id") === "ar3") // ar4 co-artist dropped
  }

  test("artists: keep-FIRST dedup in playlist order") {
    val rows = artists.orderBy("artist_id").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("ar1", "ar2", "ar3"))
    // ar1 appears at pos 0 ("Artist One") and pos 2 ("dupe occurrence"):
    // the first occurrence must win, including its url.
    val ar1 = rows(0)
    assert(ar1.getString(1) === "Artist One")
    assert(ar1.getString(2) === "https://open.spotify.com/artist/ar1")
  }

  test("albums: keep-FIRST dedup and multi-precision release_date parse") {
    val byId = albums.collect().map(r => r.getString(0) -> r).toMap
    assert(byId.keySet === Set("al1", "al2", "al3", "al4"))
    // first occurrence of al2 (pos 1) wins over pos-3 dupe
    assert(byId("al2").getString(1) === "Album Two")
    assert(byId("al2").getString(4) === "https://open.spotify.com/album/al2")
    // three precisions parse to first-of-period
    assert(byId("al1").getDate(2) === Date.valueOf("2023-01-15"))
    assert(byId("al2").getDate(2) === Date.valueOf("1999-03-01"))
    assert(byId("al3").getDate(2) === Date.valueOf("1981-01-01"))
  }

  test("transform outputs match the declared star-schema StructTypes") {
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(songs.schema) === shape(Schemas.SongSchema))
    assert(shape(artists.schema) === shape(Schemas.ArtistSchema))
    assert(shape(albums.schema) === shape(Schemas.AlbumSchema))
  }

  test("outputs round-trip through the typed Dataset surface") {
    import spark.implicits._
    // the typed core (Dataset[Song] etc., SURVEY §1.1) must stay encodable
    assert(songs.as[Song].collect().map(_.song_id).sorted.toSeq ===
      Seq("t1", "t2", "t3", "t4", "t5"))
    assert(artists.as[Artist].collect().map(_.artist_id).sorted.toSeq ===
      Seq("ar1", "ar2", "ar3"))
    assert(albums.as[Album].collect().map(_.album_id).sorted.length === 4)
  }

  test("star schema is FK-consistent within the batch (anti-joins empty)") {
    assert(songs.join(artists, Seq("artist_id"), "left_anti").count() === 0)
    assert(songs.join(albums, Seq("album_id"), "left_anti").count() === 0)
  }

  test("empty artists array yields null artist_id instead of an ANSI error") {
    import spark.implicits._
    val json =
      """{"items":[{"added_at":"2023-01-01T00:00:00Z","track":{"id":"tx",
        |"name":"X","duration_ms":1,"popularity":1,
        |"external_urls":{"spotify":"u"},
        |"album":{"id":"alx","name":"AX","release_date":"2020",
        |"total_tracks":1,"external_urls":{"spotify":"u"}},
        |"artists":[]}}]}""".stripMargin.replace("\n", "")
    val raw = spark.read.schema(Schemas.PlaylistSchema).json(Seq(json).toDS())
    val (s, a, _) = SpotifyTransform(raw)
    val row = s.collect().head
    assert(row.getAs[String]("song_id") === "tx")
    assert(row.getAs[String]("artist_id") === null)
    assert(a.count() === 1) // one null-keyed dim row, no crash
  }

  test("dedup is idempotent") {
    val again = SpotifyTransform.keepFirst(
      SpotifyTransform.artists(SpotifyTransform.exploded(raw))
        .withColumn("pos", org.apache.spark.sql.functions.monotonically_increasing_id()),
      "artist_id")
    assert(again.count() === artists.count())
  }

  test("keep-first dedup plans Window without the rewrite and TopKPerKey with it, same rows") {
    // sessions that never register graft's rules (the benchmark harness,
    // a library caller's own session) still run the Window path
    val key = "spark.sql.optimizer.excludedRules"
    def dims(perPage: Boolean): Seq[(Int, Int, Seq[String])] = {
      val ex = SpotifyTransform.exploded(raw)
      Seq(SpotifyTransform.artists(ex, perPage), SpotifyTransform.albums(ex, perPage))
        .map { df =>
          val plan = df.queryExecution.optimizedPlan
          (plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.size,
            plan.collect { case n: graft.plans.TopKPerKeyNode => n }.size,
            df.collect().map(_.toString).toSeq.sorted)
        }
    }
    for (perPage <- Seq(false, true)) {
      val rewritten = dims(perPage)
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, graft.plans.WindowTopKRewrite.ruleName)
      val windowed = try dims(perPage) finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      rewritten.zip(windowed).foreach { case ((rw, rk, rRows), (ww, wk, wRows)) =>
        assert(rw === 0 && rk > 0, s"perPage=$perPage: rewrite must replace the Window")
        assert(ww > 0 && wk === 0, s"perPage=$perPage: excluded rewrite must keep the Window")
        assert(rRows.nonEmpty && rRows === wRows, s"perPage=$perPage")
      }
    }
  }
}
