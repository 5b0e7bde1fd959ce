package graft.ops

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.hadoop.fs.{ContentSummary, FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A local filesystem that COUNTS metadata RPCs (listStatus /
  * getContentSummary) against data directories — the instrument behind
  * the zero-listing pins below — plus `_log` listings and manifest opens
  * for the log-read pins. Registered under the `cntfs` scheme via
  * `fs.cntfs.impl`; raw (no checksum twin files) so the on-disk layout
  * matches what the engine writes through `file://`.
  */
class CountingLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: URI = URI.create("cntfs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.record("list", f)
    super.listStatus(f)
  }
  override def getContentSummary(f: Path): ContentSummary = {
    CountingLocalFs.record("summary", f)
    super.getContentSummary(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.record("open", f)
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val dataCalls = new AtomicInteger(0)
  val logLists = new AtomicInteger(0)
  val manifestOpens = new AtomicInteger(0)
  @volatile var armed = false
  def record(kind: String, f: Path): Unit = if (armed) {
    if (kind != "open" && f.toString.contains("/data/")) dataCalls.incrementAndGet()
    if (kind == "list" && f.getName == "_log") logLists.incrementAndGet()
    if (kind == "open" && f.getName.endsWith(".commit")) manifestOpens.incrementAndGet()
  }
  def measure[A](body: => A): (A, Int) = {
    Seq(dataCalls, logLists, manifestOpens).foreach(_.set(0)); armed = true
    try { val a = body; (a, dataCalls.get()) } finally armed = false
  }
}

/** Per-file manifest statistics (`files:` / `fstats:` headers, r18):
  * commit records each fresh entry's file names/bytes/rows and tracked
  * columns' per-file [min,max] from the footers the writer just wrote,
  * so the stats paths (scan sizing, footer-job file discovery, .files)
  * become pure manifest reads and stats windows prune FILES inside a
  * kept generation.
  */
class ManifestFileStatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cntRoot: String = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.cntfs.impl", classOf[CountingLocalFs].getName)
    "cntfs:" + Files.createTempDirectory("vtfiles").toString
  }

  private def freshTable(name: String): String = s"$cntRoot/$name"

  test("stats paths serve with ZERO data-dir metadata RPCs") {
    val t = freshTable("zero")
    // two generations, a tracked column, several files per generation
    VersionedTable.commit(spark, t,
      spark.range(0, 4000).repartition(4)
        .select(col("id").as("k"), (col("id") % 97).as("v")),
      overwrite = true, statsCols = Seq("k"))
    VersionedTable.commit(spark, t,
      spark.range(4000, 6000).repartition(2)
        .select(col("id").as("k"), (col("id") % 97).as("v")),
      overwrite = false, statsCols = Seq("k"))

    // planner statistics: bytes + rows, no listing, no content summary
    val ((bytes, kept, total), calls1) = CountingLocalFs.measure {
      VersionedTable.scanSizeBytes(spark, t, None, Nil, Nil)
    }
    assert(calls1 == 0, s"scanSizeBytes paid $calls1 data-dir RPCs")
    assert(bytes > 0L && kept == 2 && total == 2)
    val (rows, calls2) = CountingLocalFs.measure {
      VersionedTable.scanRowCount(spark, t, None, Nil, Nil)
    }
    assert(calls2 == 0, s"scanRowCount paid $calls2 data-dir RPCs")
    assert(rows.contains(6000L))

    // the metadata-aggregate footer job discovers its files from the
    // manifest (footer READS still touch the files — open(), not
    // listStatus — which is the designed cost)
    val (agg, calls3) = CountingLocalFs.measure {
      FooterStats.aggregate(spark, t, None,
        Seq(FooterStats.RowCount, FooterStats.MinOf("k", org.apache.spark.sql.types.LongType),
          FooterStats.MaxOf("k", org.apache.spark.sql.types.LongType)))
    }
    assert(calls3 == 0, s"footer job paid $calls3 data-dir listings")
    assert(agg(0) == 6000L && agg(1) == 0L && agg(2) == 5999L)

    // .files serves counts/bytes/rows from the manifest
    val (files, calls4) = CountingLocalFs.measure {
      VersionedTable.filesSummary(spark, t).collect()
    }
    assert(calls4 == 0, s".files paid $calls4 data-dir RPCs")
    assert(files.map(_.getInt(1)).sum == 6)
    assert(files.map(_.getLong(3)).sum == 6000L)
  }

  test("per-file [min,max] prunes files inside a kept generation, exactly") {
    val t = freshTable("fprune")
    // one generation, 8 files with DISJOINT k ranges (range partition)
    val src = spark.range(0, 8000)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(spark, t, src, overwrite = true,
      statsCols = Seq("k"))

    // a narrow window keeps 1-2 of the 8 files; result matches the
    // unpruned filter exactly (the oracle) and the estimate shrinks
    val (full, _, _) = VersionedTable.readAtPruned(spark, t, None,
      Seq(("k", Long.MinValue, Long.MaxValue)))
    val (pruned, keptGen, totalGen) = VersionedTable.readAtPruned(
      spark, t, None, Seq(("k", 1000L, 1400L)))
    assert(keptGen == 1 && totalGen == 1, "generation-level keeps the gen")
    val expect = full.filter(col("k").between(1000, 1400))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val got = pruned.filter(col("k").between(1000, 1400))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == expect, "file-pruned read must match the full filter")
    // the pruned frame must really have read FEWER files: its raw row
    // count (before the filter) is a strict subset of the table
    assert(pruned.count() < 8000L && pruned.count() >= 401L)

    // the size estimate applies the same file decision
    val (allBytes, _, _) = VersionedTable.scanSizeBytes(spark, t, None,
      Nil, Nil)
    val (winBytes, _, _) = VersionedTable.scanSizeBytes(spark, t, None,
      Seq(("k", 1000L, 1400L)), Nil)
    assert(winBytes < allBytes, "file-level pruning must shrink the estimate")
  }

  test("histories without per-file records keep the listing path, exactly") {
    val t = freshTable("legacy")
    VersionedTable.commit(spark, t,
      spark.range(0, 500).select(col("id").as("k")), overwrite = true,
      statsCols = Seq("k"))
    // simulate a pre-r18 manifest: strip the files:/fstats: lines
    val hfs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new Path(t, "_log/1.commit")
    val lines = {
      val in = hfs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val stripped = lines.filterNot(l =>
      l.startsWith("#files:") || l.startsWith("#fstats:"))
    assert(stripped.size < lines.size, "the commit recorded file lines")
    hfs.delete(mf, false)
    val out = hfs.create(mf, false)
    try out.write(stripped.mkString("\n").getBytes("UTF-8"))
    finally out.close()

    // everything still answers — via listings now
    val ((bytes, _, _), calls) = CountingLocalFs.measure {
      VersionedTable.scanSizeBytes(spark, t, None, Nil, Nil)
    }
    assert(bytes > 0L)
    val r = FooterStats.aggregate(spark, t, None, Seq(FooterStats.RowCount))
    assert(r(0) == 500L)
    assert(VersionedTable.filesSummary(spark, t).collect()
      .map(_.getLong(2)).sum == bytes)
  }

  test("maintenance commits carry the per-file records forward") {
    val t = freshTable("carry")
    VersionedTable.commit(spark, t,
      spark.range(0, 300).select(col("id").as("k")), overwrite = true,
      statsCols = Seq("k"))
    VersionedTable.commit(spark, t,
      spark.range(300, 400).select(col("id").as("k")), overwrite = false,
      statsCols = Seq("k"))
    VersionedTable.setProperties(spark, t, Map("owner" -> "x"))
    VersionedTable.tagVersion(spark, t, "rel", None)
    // after two metadata-only commits the stats path still pays nothing
    val ((bytes, kept, _), calls) = CountingLocalFs.measure {
      VersionedTable.scanSizeBytes(spark, t, None, Nil, Nil)
    }
    assert(calls == 0,
      s"metadata commits must carry files: headers (paid $calls RPCs)")
    assert(kept == 2 && bytes > 0L)
    assert(VersionedTable.scanRowCount(spark, t, None, Nil, Nil)
      .contains(400L))
  }

  test("history lists the log once and opens each manifest once") {
    val t = freshTable("history")
    val kv = spark.range(0, 10).select(col("id").as("k"))
    VersionedTable.commit(spark, t, kv, overwrite = true)        // create
    VersionedTable.commit(spark, t, kv, overwrite = false)       // append
    VersionedTable.setProperties(spark, t, Map("owner" -> "x"))  // stamped
    VersionedTable.commit(spark, t, kv, overwrite = true)        // overwrite
    val (rows, _) = CountingLocalFs.measure {
      VersionedTable.history(spark, t).collect()
    }
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("create", "append", "set_properties", "overwrite"))
    assert(CountingLocalFs.logLists.get == 1,
      s"history listed _log ${CountingLocalFs.logLists.get} times")
    assert(CountingLocalFs.manifestOpens.get == 4,
      s"history opened manifests ${CountingLocalFs.manifestOpens.get} times")
  }
}
