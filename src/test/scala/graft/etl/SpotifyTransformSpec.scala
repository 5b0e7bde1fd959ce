package graft.etl

import graft.SparkSpec
import graft.plans.TopKPerKeyNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
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

  /** `f` with the session's SQL conf `pairs` set, the old values restored after. */
  private def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** `f` without graft's window rewrite, as sessions that never register
    * graft's rules (the benchmark harness, a library caller's own session)
    * run it; the plans `f` inspects must be built inside it.
    */
  private def withoutRewrite[T](f: => T): T =
    withConf("spark.sql.optimizer.excludedRules" -> graft.plans.WindowTopKRewrite.ruleName)(f)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def dims(ex: DataFrame, perPage: Boolean): Seq[DataFrame] =
    Seq(SpotifyTransform.artists(ex, perPage), SpotifyTransform.albums(ex, perPage))

  private object Physical extends AdaptiveSparkPlanHelper

  /** How `df` dedups: the Window, two-stage TopKPerKey and local TopKPerKey
    * nodes of its optimized plan, and the exchanges of its executed plan.
    */
  private def shape(df: DataFrame): (Int, Int, Int, Int) = {
    val plan = df.queryExecution.optimizedPlan
    (plan.collect { case w: Window => w }.size,
      plan.collect { case n: TopKPerKeyNode if !n.local => n }.size,
      plan.collect { case n: TopKPerKeyNode if n.local => n }.size,
      Physical.collect(df.queryExecution.executedPlan) { case e: Exchange => e }.size)
  }

  test("keep-first dedup plans Window without the rewrite and TopKPerKey with it, same rows") {
    val ex = SpotifyTransform.exploded(raw)
    // directory-wide: the rewrite turns the window into the two-stage TopKPerKey
    val rewritten = dims(ex, perPage = false).map(df => (shape(df), rows(df)))
    val windowed = withoutRewrite(dims(ex, perPage = false).map(df => (shape(df), rows(df))))
    rewritten.zip(windowed).foreach { case ((rs, rRows), (ws, wRows)) =>
      assert(rs._1 === 0 && rs._2 > 0, "the rewrite must replace the Window")
      assert(ws._1 > 0 && ws._2 === 0, "an excluded rewrite must keep the Window")
      assert(rRows.nonEmpty && rRows === wRows)
    }
    // per page: a multi-line JSON scan reads each page whole into one
    // partition, so each page is deduplicated in one local pass, with no
    // Window and no Exchange, whether or not the rewrite runs
    val windowRows = withoutRewrite(dims(ex.repartition(3), perPage = true).map { df =>
      assert(shape(df)._1 > 0, "pages split across partitions must keep the Window")
      rows(df)
    })
    for (rewrite <- Seq(true, false)) {
      def local = dims(ex, perPage = true).map(df => (shape(df), rows(df)))
      val got = if (rewrite) local else withoutRewrite(local)
      got.zip(windowRows).foreach { case ((s, lRows), wRows) =>
        assert(s === ((0, 0, 1, 0)), s"rewrite=$rewrite: one local pass, no Window, no Exchange")
        assert(lRows.nonEmpty && lRows === wRows, s"rewrite=$rewrite")
      }
    }
  }

  /** One playlist item; `artist` is (id, name), or None for an empty
    * `artists` array.
    */
  private def item(track: String, artist: Option[(String, String)], album: String): String = {
    val artists = artist.fold("[]") { case (id, name) =>
      s"""[{"id":"$id","name":"$name","external_urls":{"spotify":"u/$id/$track"}}]"""
    }
    s"""{"added_at":"2023-01-01T00:00:00Z","track":{"id":"$track","name":"T$track",
       |"duration_ms":1,"popularity":1,"external_urls":{"spotify":"u"},
       |"album":{"id":"$album","name":"album $album at $track","release_date":"2020",
       |"total_tracks":1,"external_urls":{"spotify":"u/$album/$track"}},
       |"artists":$artists}}""".stripMargin.replace("\n", "")
  }

  /** Three landed pages whose artists and albums repeat within and across
    * pages, each with an item whose `artists` array is empty.
    */
  private lazy val pagesDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pages")
    val pages = Seq(
      Seq(item("1", Some("ar1" -> "one at 1"), "al1"), item("2", None, "al2"),
        item("3", Some("ar1" -> "one at 3"), "al1"), item("4", Some("ar2" -> "two at 4"), "al2")),
      Seq(item("5", Some("ar1" -> "one at 5"), "al1"), item("6", None, "al3"),
        item("7", Some("ar2" -> "two at 7"), "al3")),
      Seq(item("8", Some("ar3" -> "three at 8"), "al1"), item("9", None, "al9"),
        item("10", Some("ar3" -> "three at 10"), "al1"), item("11", None, "al9")))
    pages.zipWithIndex.foreach { case (items, i) =>
      java.nio.file.Files.writeString(dir.resolve(s"page_$i.json"),
        items.mkString("{\"items\":[", ",", "]}"))
    }
    dir.toString
  }

  test("per-page keep-first: the local pass keeps exactly the window's rows over many pages") {
    // one page per partition (the default for small files), and pages
    // packed together into fewer partitions
    val layouts = Seq(Seq.empty[(String, String)],
      Seq("spark.sql.files.openCostInBytes" -> "1", "spark.sql.files.minPartitionNum" -> "1"))
    for (layout <- layouts) withConf(layout: _*) {
      val ex = SpotifyTransform.exploded(spark.read.schema(Schemas.PlaylistSchema)
        .option("multiLine", value = true).json(pagesDir))
      val partitions = ex.rdd.getNumPartitions
      assert(if (layout.isEmpty) partitions == 3 else partitions < 3, partitions)
      val windowRows = withoutRewrite(dims(ex.repartition(3), perPage = true).map(rows))
      val local = dims(ex, perPage = true)
      local.zip(windowRows).foreach { case (df, wRows) =>
        assert(shape(df)._3 === 1, s"$partitions partitions: the local pass")
        assert(rows(df) === wRows, s"$partitions partitions")
      }
      val artists = local.head.collect()
      // first of each artist per page, one null key per page
      assert(artists.length === 8)
      assert(artists.count(_.isNullAt(0)) === 3)
      assert(artists.map(_.getString(1)).filter(_ != null).sorted.toSeq ===
        Seq("one at 1", "one at 5", "three at 8", "two at 4", "two at 7"))
      assert(local(1).collect().map(_.getString(1)).sorted.toSeq === Seq(
        "album al1 at 1", "album al1 at 5", "album al1 at 8", "album al2 at 2",
        "album al3 at 6", "album al9 at 9"))
    }
  }

  test("per-page keep-first falls back to the window unless each page is read whole in one partition") {
    val ex = SpotifyTransform.exploded(raw)
    def analyzedNodes(df: DataFrame): (Int, Int) = {
      val plan = df.queryExecution.analyzed
      (plan.collect { case w: Window => w }.size, plan.collect { case n: TopKPerKeyNode => n }.size)
    }
    // pages split across partitions
    val split = ex.repartition(3)
    dims(split, perPage = true).zip(dims(ex, perPage = true)).foreach { case (df, local) =>
      assert(analyzedNodes(df) === ((1, 0)))
      assert(rows(df) === rows(local))
    }
    withoutRewrite(dims(split, perPage = true).foreach { df =>
      val (windows, _, locals, exchanges) = shape(df)
      assert(windows > 0 && locals === 0 && exchanges > 0)
    })
    // a persisted scan: input_file_name() above the cache reads "" for
    // every row, so the name no longer separates pages
    val cachedRaw = spark.read.schema(Schemas.PlaylistSchema)
      .option("multiLine", value = true).json(pagesDir).persist()
    try dims(SpotifyTransform.exploded(cachedRaw), perPage = true).foreach { df =>
      assert(analyzedNodes(df) === ((1, 0)))
    } finally cachedRaw.unpersist()
    // a persisted explode, as a pipeline run persists it, keeps the local pass
    val persisted = SpotifyTransform.exploded(raw).persist()
    try dims(persisted, perPage = true).zip(dims(ex, perPage = true)).foreach { case (df, local) =>
      assert(shape(df)._3 === 1)
      assert(rows(df) === rows(local))
    } finally persisted.unpersist()
  }
}
