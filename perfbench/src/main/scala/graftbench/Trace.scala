package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Local filesystem that counts the operations the engine asks of it:
  * opens, listings and status calls as read operations; creates, renames,
  * deletes and mkdirs as write operations; and, apart, opens of landed
  * playlist pages (`*.json`), the "JSON documents read by scans". The traced
  * run installs it as `fs.file.impl`; untraced runs keep the stock local
  * filesystem. (Hadoop's own statistics report no operation counts for the
  * local filesystem.)
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementAndGet()
    if (f.getName.endsWith(".json")) jsonOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = { readOps.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { readOps.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writeOps.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writeOps.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writeOps.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingLocalFs {
  val jsonOpens = new AtomicLong(0)
  val readOps = new AtomicLong(0)
  val writeOps = new AtomicLong(0)
}

/** One traced call into a layer. Times are nanoseconds from the harness's
  * clock origin; `fs` holds the filesystem deltas over the span (operation
  * counts from [[CountingLocalFs]], bytes from Hadoop's statistics).
  */
final case class Span(id: Long, name: String, parent: Long, request: String,
    start: Long, var end: Long = 0L, var fs: Map[String, Long] = Map.empty,
    var jsonOpens: Long = 0L)

/** The outside-in tracer of the traced run: spans around each call the
  * harness makes into a layer, plus Spark's public listeners (jobs, stages,
  * SQL executions, query-execution phase times, streaming progress), the
  * FileSystem statistics and a log appender counting codegen fallbacks.
  * Everything stays in memory until [[dump]].
  *
  * Jobs and SQL executions are tied to spans through Spark job tags: each
  * span adds the tag `gb-span-<id>` on the calling thread for its duration,
  * so a job carries the tags of every span open around it (a stream started
  * inside a span inherits them) and counts toward each of those spans.
  */
final class Tracer(spark: SparkSession, origin: Long) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stageTags = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execTags = new ConcurrentHashMap[Long, String]()
  private val qeExec = new ConcurrentHashMap[Long, Long]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val codegenFallbacks = new AtomicLong(0)
  private val monitor = new graft.streaming.StreamMonitor()

  private def nowNs: Long = System.nanoTime() - origin
  // listener event times are epoch ms; spans use the nanoTime origin
  private val epochAtOriginMs: Double =
    System.currentTimeMillis() - (System.nanoTime() - origin) / 1e6
  private def fromEpochMs(ms: Long): Long = ((ms - epochAtOriginMs) * 1e6).toLong

  private def tags(p: java.util.Properties): String =
    if (p == null) "" else Option(p.getProperty("spark.job.tags")).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Map("job" -> e.jobId, "start" -> fromEpochMs(e.time),
        "tags" -> tags(e.properties),
        "batch" -> Option(e.properties).flatMap(p =>
          Option(p.getProperty("streaming.sql.batchId"))).getOrElse("")))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, fromEpochMs(e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageTags.put(e.stageInfo.stageId, tags(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Map("stage" -> i.stageId, "tags" -> stageTags.getOrDefault(i.stageId, ""),
        "tasks" -> i.numTasks,
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execTags.put(s.executionId, s.jobTags.mkString(","))
      case s: SparkListenerSQLExecutionEnd =>
        // the event's QueryExecution ties the listener's phase times to this
        // execution id; its accessor is package-private in Scala, public in bytecode
        val qe = s.getClass.getMethod("qe").invoke(s).asInstanceOf[QueryExecution]
        if (qe != null) qeExec.put(qe.id, s.executionId)
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans.add(Map("qe" -> qe.id, "ok" -> ok,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows, "end" -> nowNs,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private val appender = new AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    private val pattern = "(?is).*(codegen.*(disabled|fall)|failed to compile|falling back).*".r
    override def append(e: LogEvent): Unit =
      if (pattern.matches(e.getMessage.getFormattedMessage)) codegenFallbacks.incrementAndGet()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    spark.streams.addListener(monitor)
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    spark.streams.removeListener(monitor)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }

  private def fsStats: Map[String, Long] = {
    val all = FileSystem.getAllStatistics.asScala
    Map("read_ops" -> CountingLocalFs.readOps.get, "write_ops" -> CountingLocalFs.writeOps.get,
      "bytes_read" -> all.map(_.getBytesRead).sum,
      "bytes_written" -> all.map(_.getBytesWritten).sum)
  }

  /** Run `body` as a span named `name` for request `request`. */
  def span[T](name: String, request: String)(body: => T): T = {
    val parent = stack.get.headOption.map(_.id).getOrElse(0L)
    val fs0 = fsStats
    val opens0 = CountingLocalFs.jsonOpens.get
    val s = Span(ids.incrementAndGet(), name, parent, request, nowNs)
    val tag = s"gb-span-${s.id}"
    spark.sparkContext.addJobTag(tag)
    stack.set(s :: stack.get)
    try body
    finally {
      s.end = nowNs
      stack.set(stack.get.tail)
      spark.sparkContext.removeJobTag(tag)
      val fs1 = fsStats
      s.fs = fs1.map { case (k, v) => k -> (v - fs0(k)) }
      s.jsonOpens = CountingLocalFs.jsonOpens.get - opens0
      spans.add(s)
    }
  }

  /** All records gathered so far, as one JSON document. */
  def dump(): String = {
    val js = jobs.values.asScala.toSeq.sortBy(_("job").asInstanceOf[Int]).map { j =>
      j + ("end" -> jobEnds.getOrDefault(j("job").asInstanceOf[Int], -1L))
    }
    Main.json.writeValueAsString(Map(
      "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "request" -> s.request, "start" -> s.start, "end" -> s.end,
        "fs" -> s.fs, "json_opens" -> s.jsonOpens)),
      "jobs" -> js,
      "stages" -> stages.asScala.toSeq,
      "exec_tags" -> execTags.asScala.map { case (k, v) => k.toString -> v },
      "plans" -> plans.asScala.toSeq.map(p =>
        p + ("exec" -> Option(qeExec.get(p("qe").asInstanceOf[Long])).getOrElse(-1L))),
      "progress" -> progress.asScala.toSeq,
      "monitor" -> monitor.snapshot.map(b =>
        Map("batch" -> b.batch_id, "rows" -> b.input_rows, "start" -> fromEpochMs(b.ts_ms))),
      "codegen_fallbacks" -> codegenFallbacks.get))
  }
}
