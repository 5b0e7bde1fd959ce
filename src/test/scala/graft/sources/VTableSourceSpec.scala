package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.VersionedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

class VTableSourceSpec extends SparkSpec {

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def df(ids: Int*) = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def idsOf(d: org.apache.spark.sql.DataFrame): Set[Int] =
    d.collect().map(_.getInt(0)).toSet

  test("batch save modes map onto commits; versionAsOf time-travels") {
    val root = fresh("vtsrc_batch")
    df(1, 2).write.format("graft-vtable").option("path", root)
      .mode("overwrite").save()
    df(3).write.format("graft-vtable").option("path", root)
      .mode("append").save()
    val table = spark.read.format("graft-vtable").option("path", root).load()
    assert(idsOf(table) == Set(1, 2, 3))
    assert(idsOf(spark.read.format("graft-vtable").option("path", root)
      .option("versionAsOf", "1").load()) == Set(1, 2))
    // ErrorIfExists honors existing history; Ignore leaves it untouched
    intercept[IllegalStateException] {
      df(9).write.format("graft-vtable").option("path", root)
        .mode("error").save()
    }
    df(9).write.format("graft-vtable").option("path", root)
      .mode("ignore").save()
    assert(idsOf(spark.read.format("graft-vtable").option("path", root).load())
      == Set(1, 2, 3))
    // on a FRESH path both modes perform the first commit
    val root2 = fresh("vtsrc_fresh")
    df(7).write.format("graft-vtable").option("path", root2)
      .mode("error").save()
    assert(idsOf(spark.read.format("graft-vtable").option("path", root2).load())
      == Set(7))
  }

  test("pushed range filters on pruneCol translate to generation bounds") {
    val root = fresh("vtsrc_prune")
    VersionedTable.commit(spark, root, df(0 to 9: _*), overwrite = true,
      statsCol = Some("id"))
    VersionedTable.commit(spark, root, df(10 to 19: _*), overwrite = false,
      statsCol = Some("id"))
    VersionedTable.commit(spark, root, df(100), overwrite = false) // no stats
    assert(VTableScans.bounds(Seq(GreaterThanOrEqual("id", 10),
      LessThanOrEqual("id", 19)), "id") == (10L, 19L))
    assert(VTableScans.bounds(Seq(GreaterThanOrEqual("other", 10)), "id")
      == (Long.MinValue, Long.MaxValue), "foreign columns never narrow")
    // end to end through the public reader: pruning never changes results
    // (the stats-less generation is scanned conservatively, then its rows
    // fall to the row filter)
    val got = spark.read.format("graft-vtable").option("path", root)
      .option("pruneCol", "id").load()
      .filter(col("id") >= 10 && col("id") <= 19)
    assert(idsOf(got) == (10 to 19).toSet)
  }

  test("streaming CDC tail: snapshot, O(delta) batches, silent rewrites, exactly-once restart") {
    val root = fresh("vtsrc_stream")
    val out = fresh("vtsrc_out")
    val ckpt = fresh("vtsrc_ckpt")
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    def startQ() = spark.readStream.format("graft-vtable")
      .option("path", root).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    def sunk() = spark.read.parquet(out).collect().map(_.getInt(0)).toSeq
    val q = startQ()
    try {
      q.processAllAvailable()
      assert(sunk().sorted == Seq(1, 2), "first batch = full snapshot")
      VersionedTable.commit(spark, root, df(3), overwrite = false)
      q.processAllAvailable()
      assert(sunk().sorted == Seq(1, 2, 3), "append delivered once")
      VersionedTable.compact(spark, root)
      q.processAllAvailable()
      assert(sunk().sorted == Seq(1, 2, 3),
        "compaction is layout-only: the tail delivers nothing")
    } finally q.stop()
    // two commits land while the stream is down; the restarted query must
    // resume from the checkpointed version — deltas only, no snapshot
    // replay, no duplicates
    VersionedTable.commit(spark, root, df(4), overwrite = false)
    VersionedTable.commit(spark, root, df(5), overwrite = false)
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      assert(sunk().sorted == Seq(1, 2, 3, 4, 5), "exactly once across restart")
      // a non-append commit cannot be expressed as a generation feed:
      // the stream must fail loudly, not misreport
      VersionedTable.commit(spark, root, df(9), overwrite = true)
      intercept[Throwable] { q2.processAllAvailable() }
      assert(q2.exception.isDefined)
    } finally q2.stop()
  }

  test("native streaming sink: micro-batches commit exactly-once across restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = fresh("vtsink_table")
    val ckpt = fresh("vtsink_ckpt")
    val in = MemoryStream[Int]
    def startQ() = in.toDF().select(col("value").as("id"))
      .writeStream.format("graft-vtable")
      .option("path", root).option("txnAppId", "sink_spec")
      .option("checkpointLocation", ckpt)
      .start()
    val q = startQ()
    try {
      in.addData(1, 2)
      q.processAllAvailable()
      assert(idsOf(VersionedTable.readAt(spark, root)) == Set(1, 2))
      in.addData(3)
      q.processAllAvailable()
      assert(idsOf(VersionedTable.readAt(spark, root)) == Set(1, 2, 3))
      // every micro-batch committed with the stream's txn stamp
      val tip = VersionedTable.versions(spark, root).last
      assert(VersionedTable.manifestMeta(spark, root, tip)
        .get("txnApp").contains("sink_spec"))
    } finally q.stop()
    // an at-least-once REDELIVERY of an already-committed batch (what a
    // crash between sink commit and checkpoint advance produces on
    // restart): same appId + batchId through the sink → absorbed
    val before = VersionedTable.versions(spark, root)
    val tipBatch = VersionedTable.manifestMeta(spark, root, before.last)("txnBatch").toLong
    val sink = new VTableSink(spark, root, "sink_spec")
    sink.addBatch(tipBatch, df(3))
    assert(VersionedTable.versions(spark, root) == before,
      "replayed batch must not land twice")
    assert(idsOf(VersionedTable.readAt(spark, root)) == Set(1, 2, 3))
    // a FRESH batch id through the same sink lands normally
    sink.addBatch(tipBatch + 1, df(4))
    assert(idsOf(VersionedTable.readAt(spark, root)) == Set(1, 2, 3, 4))
    // the table stays a first-class versioned table: the CDC tail of the
    // streamed commits feeds downstream
    assert(idsOf(VersionedTable.readChanges(spark, root, before.last,
      VersionedTable.versions(spark, root).last)) == Set(4))
    // commits are appends: only Append output mode is supported
    val agg = in.toDF().groupBy(col("value")).count()
    intercept[Exception] {
      agg.writeStream.format("graft-vtable")
        .option("path", root).option("txnAppId", "sink_spec")
        .option("checkpointLocation", fresh("vtsink_ckpt2"))
        .outputMode("complete").start()
    }
    // exactly-once needs a stable identity: no txnAppId AND no
    // checkpointLocation must refuse at start
    intercept[Exception] {
      in.toDF().writeStream.format("graft-vtable")
        .option("path", root).start()
    }
  }

  test("multi-column pruneCol lists prune conjunctively through the reader") {
    import spark.implicits._
    val root = fresh("vtsrc_mprune")
    def grid(ts: Range, tenant: Range) =
      (for { t <- ts; n <- tenant } yield (t, n)).toDF("ts", "tenant")
    // 2×2 (time × tenant) generation grid, both columns stats-tracked
    VersionedTable.commit(spark, root, grid(0 to 9, 0 to 4),
      overwrite = true, statsCols = Seq("ts", "tenant"))
    VersionedTable.commit(spark, root, grid(0 to 9, 5 to 9),
      overwrite = false, statsCols = Seq("ts", "tenant"))
    VersionedTable.commit(spark, root, grid(10 to 19, 0 to 4),
      overwrite = false, statsCols = Seq("ts", "tenant"))
    VersionedTable.commit(spark, root, grid(10 to 19, 5 to 9),
      overwrite = false, statsCols = Seq("ts", "tenant"))
    // conjunctive windows keep exactly ONE generation...
    val (_, kept, total) = VersionedTable.readAtPruned(spark, root,
      None, Seq(("ts", 10L, 12L), ("tenant", 7L, 7L)))
    assert((kept, total) == (1, 4))
    // ...and the public reader drives the same prune from pushed filters
    val got = spark.read.format("graft-vtable").option("path", root)
      .option("pruneCol", "ts,tenant").load()
      .filter(col("ts") >= 10 && col("ts") <= 12 && col("tenant") === 7)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == (10 to 12).map(_ -> 7).toSet,
      "pruning never changes results")
    // a filter on only one listed column still prunes on that dimension
    val (_, keptS, _) = VersionedTable.readAtPruned(spark, root,
      None, Seq(("ts", 10L, 12L)))
    assert(keptS == 2)
  }

  test("readChangeFeed batch read returns the row-level CDF, versions inclusive") {
    import spark.implicits._
    val root = fresh("vtsrc_cdf")
    assert(VersionedTable.createIfAbsent(spark, root,
      Seq(1 -> 10, 2 -> 20).toDF("id", "v"), Map("key" -> "id")))
    VersionedTable.commit(spark, root,
      Seq(3 -> 30).toDF("id", "v"), overwrite = false)
    assert(VersionedTable.mergeInto(spark, root,
      Seq(2 -> 200).toDF("id", "v"), "id").isDefined)
    def feed(opts: (String, String)*): Set[(String, Long, Int)] =
      opts.foldLeft(spark.read.format("graft-vtable")
          .option("path", root).option("readChangeFeed", "true")) {
        case (r, (k, value)) => r.option(k, value)
      }.load().collect()
        .map(r => (r.getAs[String]("_change_type"),
          r.getAs[Long]("_commit_version"), r.getAs[Int]("id"))).toSet
    assert(feed() == Set(("insert", 1L, 1), ("insert", 1L, 2),
      ("insert", 2L, 3),
      ("update_preimage", 3L, 2), ("update_postimage", 3L, 2)))
    assert(feed("startingVersion" -> "2", "endingVersion" -> "2")
      == Set(("insert", 2L, 3)))
    // TIMESTAMP bounds resolve through manifest publish times: a window
    // straddling only v2's publish instant selects exactly v2's changes
    val t1 = VersionedTable.commitTimestamp(spark, root, 1L)
    val t2 = VersionedTable.commitTimestamp(spark, root, 2L)
    val t3 = VersionedTable.commitTimestamp(spark, root, 3L)
    if (t2 > t1 && t3 > t2) { // publish mtimes distinguishable (ms clock)
      def iso(m: Long) = java.time.Instant.ofEpochSecond(m / 1000000L,
        (m % 1000000L) * 1000L).toString
      assert(feed("startingTimestamp" -> iso(t1 + (t2 - t1) / 2 + 1),
        "endingTimestamp" -> iso(t2 + (t3 - t2) / 2))
        == Set(("insert", 2L, 3)))
    }
    // contradictory and unresolvable bounds refuse loudly
    intercept[Exception](feed("startingVersion" -> "2",
      "startingTimestamp" -> "2026-01-01 00:00:00"))
    intercept[Exception](feed("endingTimestamp" -> "1999-01-01 00:00:00"))
  }

  test("streaming CDF tail survives row-level commits and delivers change rows") {
    import spark.implicits._
    val root = fresh("vtsrc_scdf")
    assert(VersionedTable.createIfAbsent(spark, root,
      Seq(1 -> 10, 2 -> 20).toDF("id", "v"), Map("key" -> "id")))   // v1
    val changes =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int, Int)]()
    val record: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => { b.collect().foreach(r => changes.add((
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"),
        r.getAs[Int]("id"), r.getAs[Int]("v")))); () }
    val q = spark.readStream.format("graft-vtable")
      .option("path", root).option("readChangeFeed", "true").load()
      .writeStream
      .option("checkpointLocation", fresh("vtsrc_scdf_ckpt"))
      .foreachBatch(record)
      .start()
    import scala.jdk.CollectionConverters._
    try {
      q.processAllAvailable()
      assert(changes.asScala.toSet == Set(("insert", 1L, 1, 10),
        ("insert", 1L, 2, 20)), "opening batch = snapshot as inserts")
      changes.clear()
      // a row-level MERGE fails the plain tail (readChanges refuses) —
      // the CDF tail delivers it as paired update rows
      assert(VersionedTable.mergeInto(spark, root,
        Seq(2 -> 200, 3 -> 30).toDF("id", "v"), "id").isDefined)    // v2
      q.processAllAvailable()
      assert(changes.asScala.toSet == Set(
        ("update_preimage", 2L, 2, 20), ("update_postimage", 2L, 2, 200),
        ("insert", 2L, 3, 30)))
      changes.clear()
      // merge-on-read delete flows with full row images
      assert(VersionedTable.deleteWhereMor(spark, root,
        col("id") === 1, "id").isDefined)                           // v3
      q.processAllAvailable()
      assert(changes.asScala.toSet == Set(("delete", 3L, 1, 10)))
      // an overwrite still has no row identity: the stream fails loudly
      VersionedTable.commit(spark, root,
        Seq(9 -> 90).toDF("id", "v"), overwrite = true)             // v4
      intercept[Throwable] { q.processAllAvailable() }
      assert(q.exception.isDefined)
    } finally q.stop()
  }

  test("skipChangeCommits tails appends only, silently passing mutations") {
    import spark.implicits._
    val root = fresh("vtsrc_skip")
    assert(VersionedTable.createIfAbsent(spark, root,
      Seq(1 -> 10).toDF("id", "v"), Map("key" -> "id")))            // v1
    val out = fresh("vtsrc_skip_out")
    val q = spark.readStream.format("graft-vtable")
      .option("path", root).option("skipChangeCommits", "true").load()
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", fresh("vtsrc_skip_ckpt")).start()
    def sunk() = spark.read.parquet(out).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    try {
      q.processAllAvailable()
      assert(sunk() == Set(1 -> 10), "snapshot opening batch")
      // a MERGE fails the strict tail; the lenient tail passes silently
      assert(VersionedTable.mergeInto(spark, root,
        Seq(1 -> 100, 2 -> 20).toDF("id", "v"), "id").isDefined)    // v2
      VersionedTable.commit(spark, root,
        Seq(3 -> 30).toDF("id", "v"), overwrite = false)            // v3
      q.processAllAvailable()
      assert(sunk() == Set(1 -> 10, 3 -> 30),
        "append delivered; the merge (update + its insert) skipped, " +
          "by request")
    } finally q.stop()
    // the two stream flavors are opposite trades: refuse the combination
    // (source construction runs on the stream thread — fails the query)
    val bad = spark.readStream.format("graft-vtable").option("path", root)
      .option("skipChangeCommits", "true")
      .option("readChangeFeed", "true").load()
      .writeStream.format("noop")
      .option("checkpointLocation", fresh("vtsrc_skip_ckpt2")).start()
    try {
      intercept[Throwable] { bad.processAllAvailable() }
      assert(bad.exception.isDefined)
    } finally bad.stop()
  }

  test("CDC admission control: startingVersion skips the snapshot, maxVersionsPerBatch bounds each drain") {
    val root = fresh("vtsrc_adm")
    (1 to 5).foreach(i =>
      VersionedTable.commit(spark, root, df(i), overwrite = i == 1))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
    val record: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => { batches.add(idsOf(b)); () }
    val q = spark.readStream.format("graft-vtable")
      .option("path", root)
      .option("startingVersion", "2")     // INCLUSIVE (Delta semantics):
      .option("maxVersionsPerBatch", "2") // holds v1, tail v2..v5, 2/trigger
      .load()
      .writeStream
      .option("checkpointLocation", fresh("vtsrc_adm_ckpt"))
      .foreachBatch(record)
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(batches.asScala.toSeq.filter(_.nonEmpty)
      == Seq(Set(2, 3), Set(4, 5)),
      "the backlog drains as bounded O(delta) micro-batches — no " +
        "snapshot re-delivery, never more than 2 commits per batch")
    // the cap must be sane: source construction (on the stream thread)
    // refuses, failing the query loudly
    val bad = spark.readStream.format("graft-vtable").option("path", root)
      .option("maxVersionsPerBatch", "0").load()
      .writeStream.format("noop")
      .option("checkpointLocation", fresh("vtsrc_adm_ckpt2")).start()
    try {
      intercept[Throwable] { bad.processAllAvailable() }
      assert(bad.exception.isDefined)
    } finally bad.stop()
  }

  test("the streaming sink routes micro-batches into a partitioned table's leaves") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = fresh("vtsink_part")
    // the table (and its partitioning) exists before the stream writes
    assert(VersionedTable.createIfAbsent(spark, root,
      Seq.empty[(Int, String)].toDF("id", "grp"),
      Map("partition" -> "grp")))
    val in = MemoryStream[Int]
    val q = in.toDF()
      .select(col("value").as("id"),
        when(col("value") % 2 === 0, "even").otherwise("odd").as("grp"))
      .writeStream.format("graft-vtable")
      .option("path", root).option("txnAppId", "part_sink")
      .option("checkpointLocation", fresh("vtsink_part_ckpt"))
      .start()
    try {
      in.addData(1, 2, 3)
      q.processAllAvailable()
    } finally q.stop()
    // the micro-batch commit landed as hive-style leaf entries
    val tip = VersionedTable.versions(spark, root).last
    val entries = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_log", s"$tip.commit")), "UTF-8")
      .split("\n").map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    assert(entries.count(_.contains("__p_grp=")) == 2,
      s"one leaf per streamed partition value: $entries")
    assert(VersionedTable.readAt(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "odd", 2 -> "even", 3 -> "odd"))
    // DERIVED transforms route streamed micro-batches the same way: the
    // sink's frame carries only the base timestamp column, the layout
    // computes the day leaf (hidden partitioning under streaming)
    val dRoot = fresh("vtsink_days")
    assert(VersionedTable.createIfAbsent(spark, dRoot,
      Seq.empty[(Int, java.sql.Timestamp)].toDF("id", "ts"),
      Map("partition" -> "days(ts)")))
    val in2 = MemoryStream[Int]
    def tsOf(day: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse(f"2026-04-$day%02dT10:00:00Z"))
    val q2 = in2.toDF()
      .select(col("value").as("id"),
        when(col("value") <= 2, lit(tsOf(1))).otherwise(lit(tsOf(2)))
          .as("ts"))
      .writeStream.format("graft-vtable")
      .option("path", dRoot).option("txnAppId", "days_sink")
      .option("checkpointLocation", fresh("vtsink_days_ckpt"))
      .start()
    try {
      in2.addData(1, 2, 3)
      q2.processAllAvailable()
    } finally q2.stop()
    val tip2 = VersionedTable.versions(spark, dRoot).last
    val e2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dRoot, "_log", s"$tip2.commit")), "UTF-8")
      .split("\n").map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    assert(e2.count(_.contains("__p_ts_day=2026-04-01")) == 1 &&
      e2.count(_.contains("__p_ts_day=2026-04-02")) == 1,
      s"streamed rows routed into computed day leaves: $e2")
    assert(idsOf(VersionedTable.readAtPartition(spark, dRoot, None,
      "ts_day=2026-04-01").select(col("id"))) == Set(1, 2))
  }

  test("startingTimestamp tails from the first commit published at or after it") {
    val root = fresh("vtsrc_ts")
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    Thread.sleep(60) // distinguishable manifest mtimes
    VersionedTable.commit(spark, root, df(2), overwrite = false)
    Thread.sleep(60)
    VersionedTable.commit(spark, root, df(3), overwrite = false)
    VersionedTable.commit(spark, root, df(4), overwrite = false)
    val t2 = VersionedTable.commitTimestamp(spark, root, 2L)
    val t3 = VersionedTable.commitTimestamp(spark, root, 3L)
    require(t3 > t2, "publish times must be distinguishable")
    val midMicros = t2 + (t3 - t2) / 2
    val mid = java.time.Instant.ofEpochSecond(midMicros / 1000000L,
      (midMicros % 1000000L) * 1000L).toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = spark.readStream.format("graft-vtable")
      .option("path", root)
      .option("startingTimestamp", mid) // resolves to v3 (first >= mid)
      .load()
      .writeStream
      .option("checkpointLocation", fresh("vtsrc_ts_ckpt"))
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        { idsOf(b).foreach(got.add); () })
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet == Set(3, 4),
      "no snapshot re-delivery: only commits published at/after the mark")
    // naming the start two ways is a contradiction — refuse at analysis
    intercept[Exception] {
      spark.readStream.format("graft-vtable").option("path", root)
        .option("startingVersion", "2")
        .option("startingTimestamp", mid).load()
    }
    // startingVersion=1 means "everything from the beginning" — the
    // initial snapshot, not a crash (the generation feed cannot diff
    // against a version-0 manifest)
    val all = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q1 = spark.readStream.format("graft-vtable")
      .option("path", root).option("startingVersion", "1").load()
      .writeStream
      .option("checkpointLocation", fresh("vtsrc_ts_ckpt1"))
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        { idsOf(b).foreach(all.add); () })
      .start()
    try q1.processAllAvailable() finally q1.stop()
    assert(all.asScala.toSet == Set(1, 2, 3, 4))
  }

  test("partition-subscribed tail: disjoint replaces pass, overlapping fail loudly") {
    import spark.implicits._
    val root = fresh("vtsrc_sub")
    def kv(rows: (Int, String)*) = rows.toDF("id", "grp")
    assert(VersionedTable.createIfAbsent(spark, root,
      kv((1, "a"), (2, "b")), Map("partition" -> "grp")))           // v1
    def drain(got: java.util.Queue[Int]): Unit = {
      val q = spark.readStream.format("graft-vtable")
        .option("path", root).option("partitionFilter", "grp=a").load()
        .writeStream
        .option("checkpointLocation", s"$root/_ckpt")
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          { idsOf(b.select(col("id"))).foreach(got.add); () })
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    drain(got) // initial snapshot: only the subscribed partition
    assert(got.asScala.toSet == Set(1), got.asScala.toSet)
    // appends deliver only grp=a rows; a DISJOINT replace of grp=b
    // passes silently (the consumer's view of a is unchanged)
    VersionedTable.commit(spark, root, kv((3, "a"), (4, "b")),
      overwrite = false)                                             // v2
    assert(VersionedTable.overwritePartitions(spark, root,
      kv((9, "b"))).isDefined)                                       // v3
    drain(got) // resumes from the checkpoint
    assert(got.asScala.toSet == Set(1, 3), got.asScala.toSet)
    // an OVERLAPPING replace fails the subscribed stream loudly
    assert(VersionedTable.overwritePartitions(spark, root,
      kv((8, "a"))).isDefined)                                       // v4
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-vtable")
        .option("path", root).option("partitionFilter", "grp=a").load()
        .writeStream
        .option("checkpointLocation", s"$root/_ckpt")
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(err.getMessage.contains("grp=a") ||
      Option(err.getCause).exists(_.getMessage.contains("grp=a")), err.getMessage)
    // contradictory option combinations refuse at load
    intercept[Exception] {
      spark.readStream.format("graft-vtable").option("path", root)
        .option("partitionFilter", "grp=a")
        .option("readChangeFeed", "true").load()
    }
    // a typo'd subscription fails at load, not on the stream thread
    intercept[Exception] {
      spark.readStream.format("graft-vtable").option("path", root)
        .option("partitionFilter", "gpr=a").load()
    }
    // and a BATCH read refuses the streaming option instead of silently
    // returning the full table to a would-be single-partition consumer
    intercept[Exception] {
      spark.read.format("graft-vtable").option("path", root)
        .option("partitionFilter", "grp=a").load()
    }
    // batch twin: the subscribed snapshot and feed read correctly
    assert(idsOf(VersionedTable.readAtPartition(spark, root, None, "grp=a")
      .select(col("id"))) == Set(8))
    assert(idsOf(VersionedTable.readChangesPartition(spark, root, 1L, 3L,
      "grp=a").select(col("id"))) == Set(3),
      "the window's appends restricted to the subscription; the b-replace skipped")
  }

  test("timestamp options accept date-only literals and refuse junk loudly") {
    // the three accepted forms agree: an ISO instant, the SQL literal,
    // and the date-only form all name midnight UTC (session tz is UTC)
    val midnight = VTableScans.parseTsMicros("2026-08-15T00:00:00Z")
    assert(VTableScans.parseTsMicros("2026-08-15 00:00:00") == midnight)
    assert(VTableScans.parseTsMicros("2026-08-15") == midnight,
      "date-only resolves to start-of-day in the session timezone")
    // junk fails as a graft-vtable error naming the accepted forms, not
    // a raw DateTimeParseException from the last format attempted
    val e = intercept[IllegalArgumentException] {
      VTableScans.parseTsMicros("not-a-time")
    }
    assert(e.getMessage.contains("graft-vtable") &&
      e.getMessage.contains("yyyy-MM-dd"))
    // end-to-end: a date-only endingTimestamp bounds the batch CDF
    val root = fresh("vtsrc_dateonly")
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    val tomorrow = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      .plusDays(1).toString
    val cdf = spark.read.format("graft-vtable").option("path", root)
      .option("readChangeFeed", "true")
      .option("endingTimestamp", tomorrow).load()
    assert(idsOf(cdf.select(col("id"))) == Set(1))
  }

  test("streaming WAP: the sink stages on a branch; publish is one atomic commit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = fresh("vtwap_table")
    val ckpt = fresh("vtwap_ckpt")
    VersionedTable.commit(spark, root, Seq(1).toDF("id"), overwrite = true)
    // the branch must exist before the stream starts (staging is
    // deliberate, not a side effect)
    val in0 = MemoryStream[Int]
    intercept[Exception](in0.toDF().select(col("value").as("id"))
      .writeStream.format("graft-vtable").option("path", root)
      .option("branch", "ingest").option("txnAppId", "wap_stream")
      .option("checkpointLocation", ckpt).start())
    VersionedTable.createBranch(spark, root, "ingest")
    val in = MemoryStream[Int]
    val q = in.toDF().select(col("value").as("id"))
      .writeStream.format("graft-vtable").option("path", root)
      .option("branch", "ingest").option("txnAppId", "wap_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      in.addData(7, 8)
      q.processAllAvailable()
      in.addData(9)
      q.processAllAvailable()
      // staged rows are INVISIBLE on main, visible on the branch read
      assert(idsOf(VersionedTable.readAt(spark, root)) == Set(1))
      assert(idsOf(spark.read.format("graft-vtable").option("path", root)
        .option("branch", "ingest").load()) == Set(1, 7, 8, 9))
    } finally q.stop()
    // an at-least-once REDELIVERY of a staged batch dedups on the branch
    val lastBatch = VersionedTable.branchVersions(spark, root, "ingest")
      .size - 1L // batches 0,1 landed after the creation manifest
    assert(!VersionedTable.idempotentCommitToBranch(spark, root, "ingest",
      Seq(9).toDF("id"), "wap_stream", lastBatch - 1)._2,
      "replayed staged batch must not land twice")
    // audit the branch, then PUBLISH: one atomic main commit
    val v = VersionedTable.fastForward(spark, root, "ingest")
      .getOrElse(fail("clean publish must land"))
    assert(idsOf(VersionedTable.readAt(spark, root)) == Set(1, 7, 8, 9))
    // ... and the published manifest carries the stream's stamp, so the
    // drop → re-branch cadence keeps replay dedup alive
    assert(VersionedTable.manifestMeta(spark, root, v)
      .get("txnApp").contains("wap_stream"))
    VersionedTable.dropBranch(spark, root, "ingest")
    VersionedTable.createBranch(spark, root, "ingest")
    assert(!VersionedTable.idempotentCommitToBranch(spark, root, "ingest",
      Seq(9).toDF("id"), "wap_stream", lastBatch - 1)._2,
      "replay across publish + re-branch must still dedup")
  }
}
