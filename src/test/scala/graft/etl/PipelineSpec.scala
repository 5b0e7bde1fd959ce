package graft.etl

import graft.{SparkSpec, Spawns}
import graft.plans.TopKPerKeyExec
import java.net.URI
import java.nio.file.{Files, Path}
import java.util.{Comparator, Properties}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataInputStream, RawLocalFileSystem, Path => HPath}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** End-to-end pipeline tests: batch (json → 3 CSVs) and streaming
  * (inbox → per-batch outputs, source files archived), plus the stream's
  * admission rule, the dedup scope of each path, JSON opens per page, the
  * concurrent table writes (their job tags, job count and failure path),
  * a micro-batch plan with no shuffle, compiled code reused across drains, a restart after a crash before
  * the archive step, and the processes a run forks.
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

  /** `f`'s result and the local properties of each Spark job started
    * while it ran.
    */
  private def jobProps[T](f: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val props = new ConcurrentLinkedQueue[Properties]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        props.add(Option(js.properties).getOrElse(new Properties()))
    }
    ListenerBusDrain(sc) // earlier jobs' events must not reach `l`
    sc.addSparkListener(l)
    val r = try { val r = f; ListenerBusDrain(sc); r } finally sc.removeSparkListener(l)
    (r, props.asScala.toSeq)
  }

  /** The `spark.job.tags` of each Spark job started while `f` ran. */
  private def jobTags(f: => Unit): Seq[Set[String]] =
    jobProps(f)._2.map(p =>
      Option(p.getProperty("spark.job.tags")).fold(Set.empty[String])(_.split(",").toSet))

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
    val (jobs, plans) = executedPlans {
      tagged("graft-etl-stream") {
        PipelineStream.start(spark, in.toString, tmpDir("graft-tags-sout").toString,
          tmpDir("graft-tags-archive").toString, ckpt.toString).awaitTermination()
      }
    }
    assert(committed(ckpt) === Seq("0"))
    assert(jobs.nonEmpty && jobs.forall(_.intersect(ours) == Set("graft-etl-stream")), jobs)
    // each page is deduplicated in the partition it was read into: one job
    // per table, no exchange, no window
    assert(jobs.size <= 3, s"jobs per micro-batch: ${jobs.size}")
    val nodes = plans.flatMap(p => Physical.collect(p) { case n => n })
    assert(nodes.collect { case t: TopKPerKeyExec => t }.size === 2, plans)
    assert(!nodes.exists(n => n.isInstanceOf[ShuffleExchangeExec] || n.isInstanceOf[WindowExec]),
      plans)
  }

  private object Physical extends AdaptiveSparkPlanHelper

  /** `f`'s result and the executed plan of each query the session ran
    * while it ran.
    */
  private def executedPlans[T](f: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    spark.listenerManager.register(l)
    val r = try { val r = f; ListenerBusDrain(sc); r } finally spark.listenerManager.unregister(l)
    (r, plans.asScala.toSeq)
  }

  test("a repeated AvailableNow drain compiles no code and runs in the query's job group") {
    def drain(name: String): (StreamingQuery, Seq[Properties], Long) = {
      val inbox = tmpDir(s"graft-$name")
      Seq("p1.json", "p2.json").foreach(n =>
        Files.copy(java.nio.file.Paths.get(fixture), inbox.resolve(n)))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (q, jobs) = jobProps {
        val q = PipelineStream.start(spark, inbox.toString, tmpDir(s"graft-$name-out").toString,
          tmpDir(s"graft-$name-archive").toString, tmpDir(s"graft-$name-ckpt").toString)
        q.awaitTermination()
        q
      }
      (q, jobs, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)
    }

    drain("codegen-warm") // fills the code cache
    val (q, jobs, compiles) = drain("codegen")
    assert(compiles === 0, "classes compiled by a repeated drain")
    assert(jobs.nonEmpty && jobs.forall(_.getProperty("spark.jobGroup.id") == q.runId.toString),
      jobs.map(_.getProperty("spark.jobGroup.id")))
  }

  test("a batch run and an AvailableNow drain fork no chmod or readlink") {
    val in = tmpDir("graft-spawns")
    Seq("p1.json", "p2.json").foreach(n =>
      Files.copy(java.nio.file.Paths.get(fixture), in.resolve(n)))
    val (_, batch) = Spawns.during(
      PipelineBatch.run(spark, in.toString, tmpDir("graft-spawns-out").toString, "s"))
    val ckpt = tmpDir("graft-spawns-ckpt")
    val (_, stream) = Spawns.during(
      PipelineStream.start(spark, in.toString, tmpDir("graft-spawns-sout").toString,
        tmpDir("graft-spawns-archive").toString, ckpt.toString).awaitTermination())
    assert(committed(ckpt) === Seq("0"))
    assert(Seq(batch, stream).forall(s => !s.contains("chmod") && !s.contains("readlink")),
      s"batch run: $batch; stream drain: $stream")
  }

  test("a restart after a crash between commit and archive reprocesses nothing") {
    val inbox = tmpDir("graft-crash")
    Seq("p1.json", "p2.json").foreach(n =>
      Files.copy(java.nio.file.Paths.get(fixture), inbox.resolve(n)))
    val out = tmpDir("graft-crash-out")
    val archive = tmpDir("graft-crash-archive")
    val ckpt = tmpDir("graft-crash-ckpt")
    def drain(): StreamingQuery = {
      val q = PipelineStream.start(spark, inbox.toString, out.toString, archive.toString,
        ckpt.toString)
      q.awaitTermination()
      q
    }

    val first = drain()
    val lines = EtlMain.batchLines(first)
    assert(lines.size === 1 &&
      lines.head.matches("""\{"batch":0,"pages":2,"add_batch_ms":\d+,"trigger_ms":\d+}"""), lines)
    assert(jsonFiles(inbox).isEmpty)
    // the state a crash before the archive step leaves: batch 0 committed,
    // its pages still in the inbox
    val archived = Files.walk(archive)
    try archived.iterator().asScala.filter(_.toString.endsWith(".json")).toList
      .foreach(f => Files.move(f, inbox.resolve(f.getFileName)))
    finally archived.close()
    assert(jsonFiles(inbox) === Seq("p1.json", "p2.json"))

    assert(EtlMain.batchLines(drain()).isEmpty)
    assert(committed(ckpt) === Seq("0"))
    for (table <- Seq("song", "artist", "album")) {
      val runs = Files.list(out.resolve(s"${table}_data"))
      try assert(runs.iterator().asScala.map(_.getFileName.toString).toSeq === Seq("run=0"))
      finally runs.close()
    }
    assert(jsonFiles(archive) === Seq("p1.json", "p2.json"))
    assert(jsonFiles(inbox).isEmpty)
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
