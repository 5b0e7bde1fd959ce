package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{PipelineBatch, PipelineStream, SpotifyTransform}
import graft.ops.{Q, VersionedTable}

/** JVM half of the benchmark: runs one workload against the public entry
  * points of `graft.etl` and `graft.ops` and writes its raw timings to
  * `<work>/harness.json`. `run.py` generates the inputs, launches this
  * program, checks the outputs and turns the raw timings into metrics.
  *
  * Usage: `graftbench.Main <params.properties>`; the properties file names
  * the workload, the measuring time, the trace flag and the input dirs.
  * With the trace flag set, the tracer is attached after warm-up and the
  * timed part runs traced; `run.py` gets the untraced figures from a JVM
  * of its own.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val origin = System.nanoTime()
  private def now: Long = System.nanoTime() - origin

  final class Params(p: java.util.Properties) {
    def apply(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"missing param $k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val p = new Params(props)
    val work = Paths.get(p("work"))
    val traced = p("trace") == "1"
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()

    val spark = session(p("cpus"), work, traced)
    val tracer = if (traced) Some(new Tracer(spark, origin)) else None
    out("origin_epoch_ms") = System.currentTimeMillis() - now / 1e6
    out("cores") = Runtime.getRuntime.availableProcessors
    try {
      p("workload") match {
        case "etl-backlog" => etlBacklog(spark, p, work, tracer, out)
        case "queries" => queries(spark, p, work, tracer, out)
        case w => sys.error(s"unknown workload $w")
      }
      tracer.foreach { t =>
        t.detach()
        Files.writeString(work.resolve("trace.json"), t.dump())
      }
    } finally {
      out("peak_rss_kb") = peakRssKb
      out("load_avg") = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      Files.writeString(work.resolve("harness.json"), json.writeValueAsString(out))
      spark.stop()
    }
  }

  private def session(cpus: String, work: Path, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def peakRssKb: Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }

  /** `body` inside a span when tracing, unchanged otherwise. */
  private def sp[T](tr: Option[Tracer], name: String, req: String)(body: => T): T =
    tr match {
      case Some(t) => t.span(name, req)(body)
      case None => body
    }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def copyPages(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    listPages(from).foreach(f => Files.copy(f, to.resolve(f.getFileName)))
  }

  private def listPages(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".json")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  private def secs(ns: Long): Double = ns / 1e9

  /** Whether another repetition fits in `seconds` since `start`, judged by
    * the mean of the `done` ones; the first always runs. */
  private def fits(start: Long, done: Int, seconds: Double): Boolean =
    done == 0 || secs(now - start) * (done + 1) / done <= seconds

  /** `batches` PipelineBatch drains and one AvailableNow stream drain of
    * `landing`, each into its own output dir: their wall times in seconds
    * and the stream's start as epoch milliseconds. */
  private def drainOnce(spark: SparkSession, landing: Path, dir: Path, tr: Option[Tracer],
      req: String, batches: Int): Map[String, Any] = {
    val inbox = dir.resolve("inbox")
    copyPages(landing, inbox)
    val b = (0 until batches).map { i =>
      val t0 = now
      sp(tr, "etl.run", req) {
        PipelineBatch.run(spark, landing.toString, dir.resolve(s"batch_out$i").toString, "bench")
      }
      secs(now - t0)
    }
    val t1 = now
    val startMs = System.currentTimeMillis()
    sp(tr, "stream.drain", req) {
      PipelineStream.start(spark, inbox.toString, dir.resolve("stream_out").toString,
        dir.resolve("archive").toString, dir.resolve("ckpt").toString).awaitTermination()
    }
    Map("dir" -> dir.toString, "batch_s" -> b, "stream_s" -> secs(now - t1), "stream_start_ms" -> startMs)
  }

  private def etlBacklog(spark: SparkSession, p: Params, work: Path, tr: Option[Tracer],
      out: scala.collection.mutable.Map[String, Any]): Unit = {
    val landing = Paths.get(p("pages"))
    drainOnce(spark, Paths.get(p("warm_pages")), work.resolve("warm"), None, "warm", p.int("warm_batches"))
    tr.foreach(_.attach())
    out("ready_ns") = now
    out("pages") = listPages(landing).size
    val start = now
    val rs = ArrayBuffer[Map[String, Any]]()
    while (fits(start, rs.size, p.dbl("seconds"))) {
      rs += drainOnce(spark, landing, work.resolve(s"round${rs.size}"), tr, s"round${rs.size}",
        p.int("batch_repeats"))
    }
    out("rounds") = rs.toSeq
    tr.foreach(etlLayers(spark, landing, _))
  }

  /** Traced only: each stage of the batch transform exhausted on its own. */
  private def etlLayers(spark: SparkSession, landing: Path, t: Tracer): Unit =
    t.span("etl.layers", "landing") {
      val raw = t.span("etl.read", "landing") {
        val df = PipelineBatch.readLanding(spark, landing.toString); noop(df); df
      }
      val ex = t.span("etl.explode", "landing") {
        val df = SpotifyTransform.exploded(raw); noop(df); df
      }
      t.span("etl.songs", "landing")(noop(SpotifyTransform.songs(ex)))
      t.span("etl.artists", "landing")(noop(SpotifyTransform.artists(ex)))
      t.span("etl.albums", "landing")(noop(SpotifyTransform.albums(ex)))
    }

  private def queries(spark: SparkSession, p: Params, work: Path, tr: Option[Tracer],
      out: scala.collection.mutable.Map[String, Any]): Unit = {
    graft.expr.GraftFunctions.register(spark)
    val names = p("queries").split(',').toSeq
    val all = graft.SparkEntry.queries
    val lakehouse = VersionedTable.pack.map(_.name).toSet
    val data = p("data")
    Files.writeString(work.resolve("oracle_sql.json"),
      json.writeValueAsString(graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    // warm-up and correctness pass: every query once, its result kept for the check
    val check = names.map { name =>
      Q.releaseAll(spark)
      val t0 = now
      val err = try {
        all(name)(spark, data).write.mode("overwrite").parquet(work.resolve("check").resolve(name).toString)
        None
      } catch { case NonFatal(e) => Some(e.toString) }
      Map("name" -> name, "s" -> secs(now - t0), "error" -> err)
    }
    out("check") = check
    tr.foreach(_.attach())
    out("ready_ns") = now
    val start = now
    val execs = ArrayBuffer[Map[String, Any]]()
    var pass = 0
    while (fits(start, pass, p.dbl("seconds"))) {
      val p0 = now
      names.foreach { name =>
        Q.releaseAll(spark)
        val cls = if (lakehouse(name)) "lakehouse" else "read"
        val t0 = now
        val err = try {
          sp(tr, s"query.$cls", s"pass$pass:$name") {
            val df = sp(tr, "ops.build", s"pass$pass:$name")(all(name)(spark, data))
            sp(tr, "ops.exhaust", s"pass$pass:$name")(noop(df))
          }
          None
        } catch { case NonFatal(e) => Some(e.toString) }
        execs += Map("name" -> name, "class" -> cls, "pass" -> pass,
          "s" -> secs(now - t0), "error" -> err)
      }
      execs += Map("name" -> "", "class" -> "pass", "pass" -> pass, "s" -> secs(now - p0))
      pass += 1
    }
    Q.releaseAll(spark)
    out("execs") = execs.toSeq
  }
}

