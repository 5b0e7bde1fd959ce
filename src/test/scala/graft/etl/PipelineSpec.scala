package graft.etl

import graft.SparkSpec
import java.net.URI
import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataInputStream, RawLocalFileSystem, Path => HPath}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** End-to-end pipeline tests: batch (json → 3 CSVs) and streaming
  * (inbox → per-batch outputs, source files archived), plus the stream's
  * admission rule, the dedup scope of each path, JSON opens per page, and
  * the concurrent table writes: their job tags, job count and failure path.
  */
class PipelineSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }
    p
  }

  private val fixture = getClass.getResource("/playlist_fixture.json").getPath

  test("batch pipeline writes 3 header CSVs with expected row counts") {
    val in = tmpDir("graft-in")
    val out = tmpDir("graft-out")
    Files.copy(java.nio.file.Paths.get(fixture), in.resolve("spotify_raw_1.json"))

    val (nSongs, nArtists, nAlbums) =
      PipelineBatch.run(spark, in.toString, out.toString, runId = "test")
    assert((nSongs, nArtists, nAlbums) === (5L, 3L, 4L))

    // re-read what we wrote: header CSV, FK-consistent
    val songs = spark.read.option("header", true).csv(s"$out/song_data/run=test")
    assert(songs.columns.toSeq === Seq(
      "song_id", "name", "duration_ms", "url", "popularity",
      "added_date", "album_id", "artist_id"))
    assert(songs.count() === 5)

    // idempotent overwrite (reference C3 semantics)
    PipelineBatch.run(spark, in.toString, out.toString, runId = "test")
    assert(spark.read.option("header", true)
      .csv(s"$out/song_data/run=test").count() === 5)
  }

  test("CSV output quotes commas, quotes, and newlines in track names") {
    import spark.implicits._
    val nasty = "Track, with \"quotes\" and\nnewline"
    val json =
      ("""{"items":[{"added_at":"2023-01-01T00:00:00Z","track":{"id":"tq",
         |"name":""" + "\"Track, with \\\"quotes\\\" and\\nnewline\"" + ""","duration_ms":1,"popularity":1,
         |"external_urls":{"spotify":"u"},
         |"album":{"id":"alq","name":"A","release_date":"2020","total_tracks":1,
         |"external_urls":{"spotify":"u"}},
         |"artists":[{"id":"arq","name":"N","external_urls":{"spotify":"u"}}]}}]}""").stripMargin
        .replace("\n|", "").replace("|", "")
    val in = tmpDir("graft-csvq")
    val out = tmpDir("graft-csvq-out")
    Files.writeString(in.resolve("nasty.json"), json)
    PipelineBatch.run(spark, in.toString, out.toString, runId = "q")
    // a round-trip read must reconstruct the exact name, newline included
    val got = spark.read.option("header", true).option("multiLine", true)
      .csv(s"$out/song_data/run=q").collect().head.getAs[String]("name")
    assert(got === nasty)
  }

  test("streaming pipeline processes inbox files and archives the source") {
    val inbox = tmpDir("graft-inbox")
    val out = tmpDir("graft-sout")
    val archive = tmpDir("graft-archive")
    val ckpt = tmpDir("graft-ckpt")
    Files.copy(java.nio.file.Paths.get(fixture), inbox.resolve("spotify_raw_a.json"))

    val q = PipelineStream.start(
      spark, inbox.toString, out.toString, archive.toString, ckpt.toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    try {
      q.processAllAvailable()
      val songs = spark.read.option("header", true).csv(s"$out/song_data/run=0")
      assert(songs.count() === 5)

      // a second arriving file commits batch 0; its source then gets archived
      Files.copy(java.nio.file.Paths.get(fixture), inbox.resolve("spotify_raw_b.json"))
      q.processAllAvailable()

      // cleanSource=archive is async — poll for the move out of the inbox
      val deadline = System.currentTimeMillis() + 30000
      def archivedCount(): Long = Files.walk(archive)
        .filter(p => p.toString.endsWith(".json")).count()
      while (archivedCount() < 1 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(200)
      }
      assert(archivedCount() >= 1)
    } finally q.stop()
  }

  private def jsonFiles(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq.sorted
    finally s.close()
  }

  /** Ids of the micro-batches with a commit-log entry. */
  private def committed(ckpt: Path): Seq[String] = {
    val s = Files.list(ckpt.resolve("commits"))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit)).toSeq.sorted
    finally s.close()
  }

  /** One-item playlist page whose artist `ar` and album `al` carry `tag`. */
  private def page(track: String, tag: String): String =
    s"""{"items":[{"added_at":"2023-01-01T00:00:00Z","track":{"id":"$track","name":"T",
       |"duration_ms":1,"popularity":1,"external_urls":{"spotify":"u"},
       |"album":{"id":"al","name":"album $tag","release_date":"2020","total_tracks":1,
       |"external_urls":{"spotify":"u"}},
       |"artists":[{"id":"ar","name":"artist $tag","external_urls":{"spotify":"u"}}]}}]}"""
      .stripMargin.replace("\n", "")

  test("AvailableNow drains a 3-page backlog in one micro-batch and empties the inbox") {
    val inbox = tmpDir("graft-backlog")
    val out = tmpDir("graft-backlog-out")
    val archive = tmpDir("graft-backlog-archive")
    val ckpt = tmpDir("graft-backlog-ckpt")
    Seq("a", "b", "c").foreach(n =>
      Files.copy(java.nio.file.Paths.get(fixture), inbox.resolve(s"spotify_raw_$n.json")))

    PipelineStream.start(spark, inbox.toString, out.toString, archive.toString, ckpt.toString)
      .awaitTermination()
    assert(committed(ckpt) === Seq("0"))
    assert(spark.read.option("header", true).csv(s"$out/song_data/run=0").count() === 15)
    assert(jsonFiles(inbox).isEmpty)
    assert(jsonFiles(archive) === Seq("spotify_raw_a.json", "spotify_raw_b.json", "spotify_raw_c.json"))
  }

  test("stream dedups the dims of each page on its own; batch keeps the first page's row") {
    val in = tmpDir("graft-scope")
    Files.writeString(in.resolve("page_1.json"), page("t1", "one"))
    Files.writeString(in.resolve("page_2.json"), page("t2", "two"))
    val inbox = tmpDir("graft-scope-inbox")
    jsonFiles(in).foreach(f => Files.copy(in.resolve(f), inbox.resolve(f)))
    val batchOut = tmpDir("graft-scope-bout")
    val streamOut = tmpDir("graft-scope-sout")
    val ckpt = tmpDir("graft-scope-ckpt")

    PipelineBatch.run(spark, in.toString, batchOut.toString, runId = "s")
    PipelineStream.start(spark, inbox.toString, streamOut.toString,
      tmpDir("graft-scope-archive").toString, ckpt.toString).awaitTermination()
    assert(committed(ckpt) === Seq("0")) // both pages share one micro-batch

    def names(dir: String): Seq[String] =
      spark.read.option("header", true).csv(dir).collect().map(_.getAs[String]("name")).toSeq.sorted
    assert(names(s"$streamOut/artist_data/run=0") === Seq("artist one", "artist two"))
    assert(names(s"$streamOut/album_data/run=0") === Seq("album one", "album two"))
    assert(names(s"$batchOut/artist_data/run=s") === Seq("artist one"))
    assert(names(s"$batchOut/album_data/run=s") === Seq("album one"))
  }

  test("each landed page is opened once per batch run and once per stream micro-batch") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[OpenCountingFs].getName)
    def counted(p: Path): String = s"countfs://$p"
    val in = tmpDir("graft-opens")
    val pages = Seq("p1.json", "p2.json", "p3.json")
    pages.foreach(n => Files.copy(java.nio.file.Paths.get(fixture), in.resolve(n)))
    val once = pages.map(_ -> 1).toMap

    OpenCountingFs.opens.clear()
    assert(PipelineBatch.run(spark, counted(in), tmpDir("graft-opens-out").toString, "o") ===
      (15L, 3L, 4L))
    assert(OpenCountingFs.counts === once)

    OpenCountingFs.opens.clear()
    val ckpt = tmpDir("graft-opens-ckpt")
    PipelineStream.start(spark, counted(in), tmpDir("graft-opens-sout").toString,
      counted(tmpDir("graft-opens-archive")), ckpt.toString).awaitTermination()
    assert(committed(ckpt) === Seq("0"))
    assert(OpenCountingFs.counts === once)
  }

  /** The `spark.job.tags` of each Spark job started while `f` ran. */
  private def jobTags(f: => Unit): Seq[Set[String]] = {
    val sc = spark.sparkContext
    val tags = new ConcurrentLinkedQueue[Set[String]]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        tags.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet))
    }
    ListenerBusDrain(sc) // earlier jobs' events must not reach `l`
    sc.addSparkListener(l)
    try { f; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    tags.asScala.toSeq
  }

  test("each run's write jobs carry the caller's job tag; a run takes at most 7 jobs") {
    val in = tmpDir("graft-tags")
    Seq("p1.json", "p2.json", "p3.json").foreach(n =>
      Files.copy(java.nio.file.Paths.get(fixture), in.resolve(n)))
    val sc = spark.sparkContext
    val ours = Set("graft-etl-a", "graft-etl-b", "graft-etl-stream")
    def tagged(tag: String)(f: => Unit): Seq[Set[String]] = {
      sc.addJobTag(tag)
      try jobTags(f) finally sc.removeJobTag(tag)
    }

    // two calls in a row: threads kept from the first call must not carry
    // its tag into the second call's jobs
    for (tag <- Seq("graft-etl-a", "graft-etl-b")) {
      val jobs = tagged(tag) {
        PipelineBatch.run(spark, in.toString, tmpDir("graft-tags-out").toString, tag)
      }
      assert(jobs.nonEmpty && jobs.forall(_.intersect(ours) == Set(tag)), jobs)
      assert(jobs.size <= 7, s"jobs per batch run: ${jobs.size}")
    }

    val ckpt = tmpDir("graft-tags-ckpt")
    val jobs = tagged("graft-etl-stream") {
      PipelineStream.start(spark, in.toString, tmpDir("graft-tags-sout").toString,
        tmpDir("graft-tags-archive").toString, ckpt.toString).awaitTermination()
    }
    assert(committed(ckpt) === Seq("0"))
    assert(jobs.nonEmpty && jobs.forall(_.intersect(ours) == Set("graft-etl-stream")), jobs)
    assert(jobs.size <= 7, s"jobs per micro-batch: ${jobs.size}")
  }

  test("a failing table write fails the run with no job left running and nothing persisted") {
    val in = tmpDir("graft-fail")
    Files.copy(java.nio.file.Paths.get(fixture), in.resolve("spotify_raw_1.json"))
    val out = tmpDir("graft-fail-out")
    Files.writeString(out.resolve("album_data"), "a file where the album table's directory goes")
    val sc = spark.sparkContext
    val sql = spark.asInstanceOf[classic.SparkSession].sharedState.statusStore
    val persisted = sc.getPersistentRDDs.keySet
    val earlier = sql.executionsList().map(_.executionId).toSet

    intercept[Exception](PipelineBatch.run(spark, in.toString, out.toString, runId = "f"))
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    // no write of the run is still going after the throw
    assert(sql.executionsList().filterNot(e => earlier(e.executionId)).forall(_.completionTime.nonEmpty))
    assert(sc.getPersistentRDDs.keySet.subsetOf(persisted))
    assert(SpotifyTransform.exploded(PipelineBatch.readLanding(spark, in.toString))
      .storageLevel === StorageLevel.NONE)
  }
}

/** The local filesystem under the test-only `countfs` scheme, counting the
  * opens of each `.json` file by name.
  */
class OpenCountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".json"))
      OpenCountingFs.opens.computeIfAbsent(f.getName, _ => new AtomicInteger()).incrementAndGet()
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  def counts: Map[String, Int] = opens.asScala.map { case (k, v) => k -> v.get }.toMap
}
