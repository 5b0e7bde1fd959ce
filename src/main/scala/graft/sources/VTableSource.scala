package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.StreamingFrame
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.ops.VersionedTable

/** `format("graft-vtable")` — the [[graft.ops.VersionedTable]] commit-log
  * format surfaced as a Spark DataSource, so the table behaves like a
  * lakehouse table from the public reader/writer API:
  *
  *  - BATCH READ: `spark.read.format("graft-vtable").option("path", p)`,
  *    time travel via `option("versionAsOf", n)`. With
  *    `option("pruneCol", c)` the relation translates pushed-down range
  *    filters on `c` into MANIFEST-LEVEL generation pruning
  *    ([[VersionedTable.readAtPruned]]) — whole generations are skipped
  *    at plan time from one manifest read, before any file is opened;
  *    parquet row-group pruning then handles the in-file half. All row
  *    filters are re-applied by Spark (`unhandledFilters` keeps every
  *    filter, so pruning can never change results).
  *  - BATCH WRITE: `df.write.format("graft-vtable").mode(m)` maps
  *    SaveModes onto commits — Append → append commit, Overwrite →
  *    overwrite commit, ErrorIfExists/Ignore honor existing history.
  *    `option("statsCol", c)` records data-skipping bounds.
  *  - STREAMING READ (CDC tail): `spark.readStream.format("graft-vtable")`
  *    follows the commit log — the first batch is the full snapshot at
  *    the stream's start version, every later batch is the O(delta)
  *    change feed ([[VersionedTable.readChanges]]): only the generations
  *    the new commits appended are read, compaction/optimize rewrites
  *    deliver nothing, and a non-append commit (overwrite/merge/delete)
  *    fails the stream loudly rather than misreporting row changes —
  *    the Delta-source semantics. Offsets
  *    are table versions, so a restart resumes exactly where the
  *    checkpoint left off. `option("startingVersion", n)` skips the
  *    initial snapshot and tails changes FROM version n (inclusive —
  *    Delta semantics, same window as the batch CDF option);
  *    `option("maxVersionsPerBatch", m)` is admission control — each
  *    trigger drains at most m commits, so a backlog is processed as
  *    bounded micro-batches (see [[VTableCdcSource]]). With
  *    `option("readChangeFeed", "true")` the tail streams the ROW-LEVEL
  *    CDF instead ([[graft.ops.VersionedTable.tableChanges]] schema:
  *    +`_change_type`/`_commit_version`): merge/update/delete/MoR
  *    commits flow as change rows instead of failing the stream — only
  *    overwrite/restore still refuse. The same option on a BATCH read
  *    returns the bounded CDF (inclusive startingVersion/endingVersion).
  *    `option("skipChangeCommits", "true")` is the opposite trade (the
  *    Delta option): deliver ONLY appended rows, silently skipping
  *    data-changing commits — for consumers that care about arrivals
  *    and accept missing mutations. Mutually exclusive with the CDF.
  *
  * This is a V1 source on purpose: its scan and feed are COMPOSITIONS of
  * existing parquet scans (the engine's own readAt/readChanges plans),
  * and V1 is the API that lets a relation delegate to another plan. The
  * DSv2 path (see [[SyntheticSource]]/[[AuditSink]]) is for sources that
  * produce their own rows.
  */
class VTableSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-vtable"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-vtable: 'path' option is required"))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    if (parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))) {
      // CHANGE DATA FEED read (the Delta idiom): row-level changes with
      // _change_type/_commit_version, versions inclusive on both ends —
      // option("startingVersion", 1) reads since table creation. The
      // timestamp twins resolve through manifest publish times (the
      // TIMESTAMP AS OF rule): startingTimestamp = first commit
      // published at/after it, endingTimestamp = last at/before it.
      val path = pathOf(parameters)
      val spark = sqlContext.sparkSession
      val vs = VersionedTable.versions(spark, path)
      require(vs.nonEmpty, s"graft-vtable: no table at $path")
      require(!(parameters.contains("startingVersion") &&
          parameters.contains("startingTimestamp")) &&
        !(parameters.contains("endingVersion") &&
          parameters.contains("endingTimestamp")),
        "graft-vtable: name each CDF bound ONE way — version or timestamp")
      def tsVersion(opt: String)(pick: Long => Option[Long]): Option[Long] =
        parameters.get(opt).map { s =>
          pick(VTableScans.parseTsMicros(s)).getOrElse(
            throw new IllegalArgumentException(
              s"graft-vtable: $opt '$s' matches no committed version " +
                s"(committed versions span ${vs.head}..${vs.last})"))
        }
      val from = parameters.get("startingVersion").map(_.toLong)
        .orElse(tsVersion("startingTimestamp")(m =>
          VersionedTable.versionAtOrAfterTimestamp(spark, path, m)))
        .getOrElse(1L)
      val to = parameters.get("endingVersion").map(_.toLong)
        .orElse(tsVersion("endingTimestamp")(m =>
          VersionedTable.versionAsOfTimestamp(spark, path, m)))
        .getOrElse(vs.last)
      new VTableCdfRelation(sqlContext, path, from - 1, to)
    } else {
      // partitionFilter is a STREAMING-tail contract (what to do with
      // replace_partitions commits); a batch read that silently ignored
      // it would hand a full table to a consumer that believed it was
      // reading one partition — refuse toward a WHERE filter, which the
      // relation already prunes from
      require(!parameters.contains("partitionFilter"),
        "graft-vtable: partitionFilter is a streaming option — batch " +
          "reads prune from a WHERE predicate on the partition's base " +
          "column")
      parameters.get("branch") match {
        case Some(b) =>
          // a STAGED (write-audit-publish) snapshot: the branch's tip —
          // what an audit job reads before fast_forward publishes it
          require(!parameters.contains("versionAsOf"),
            "graft-vtable: 'branch' and 'versionAsOf' are exclusive — " +
              "a branch read is pinned to the branch tip")
          new VTableBranchRelation(sqlContext, pathOf(parameters), b)
        case None =>
          new VTableRelation(sqlContext, pathOf(parameters),
            parameters.get("versionAsOf").map(_.toLong),
            parameters.get("pruneCol"))
      }
    }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    // 'branch' is a READ option: a write that silently ignored it would
    // publish un-audited data straight to main — the exact thing
    // write-audit-publish exists to prevent. Staged writes go through
    // VersionedTable.commitToBranch.
    require(!parameters.contains("branch"),
      "graft-vtable: 'branch' is a read option — stage writes with " +
        "VersionedTable.commitToBranch(root, branch, df), then publish " +
        "with CALL system.fast_forward")
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val statsCol = parameters.get("statsCol")
    val exists = VersionedTable.versions(spark, path).nonEmpty
    mode match {
      case SaveMode.Append =>
        VersionedTable.commit(spark, path, data, overwrite = false,
          statsCol = statsCol)
      // DYNAMIC partition overwrite (the Spark conf's option spelling):
      // replace only the partitions present in the batch, atomically
      case SaveMode.Overwrite if parameters.get("partitionOverwriteMode")
          .exists(_.equalsIgnoreCase("dynamic")) =>
        if (VersionedTable.overwritePartitions(spark, path, data,
            statsCols = statsCol.toSeq).isEmpty)
          throw new java.io.IOException(
            s"graft-vtable: dynamic partition overwrite lost the publish " +
              s"race at $path — a concurrent commit landed; re-run the write")
      case SaveMode.Overwrite =>
        VersionedTable.commit(spark, path, data, overwrite = true,
          statsCol = statsCol)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-vtable: table at $path already exists (mode=ErrorIfExists)")
      case SaveMode.Ignore if exists => () // leave the table untouched
      case _ => // ErrorIfExists / Ignore on a fresh path: first commit
        VersionedTable.commit(spark, path, data, overwrite = true,
          statsCol = statsCol)
    }
    createRelation(sqlContext, parameters)
  }

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    // checked here too so the contradictions fail at load()/analysis,
    // not first on the stream thread
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graft-vtable: startingVersion and startingTimestamp are mutually " +
        "exclusive — name the start one way")
    require(!(parameters.contains("partitionFilter") &&
        (cdfOf(parameters) || parameters.get("skipChangeCommits")
          .exists(_.equalsIgnoreCase("true")))),
      "graft-vtable: partitionFilter applies to the plain tail — not " +
        "readChangeFeed or skipChangeCommits")
    // the streaming tail follows MAIN's log; silently ignoring 'branch'
    // would hand a consumer the wrong (unstaged) commit stream
    require(!parameters.contains("branch"),
      "graft-vtable: 'branch' is a batch read option — the streaming " +
        "tail follows main's log (fast_forward publishes staged commits " +
        "into it)")
    // a typo'd subscription (bad spec shape, unknown partition field)
    // fails HERE, at load()/analysis, not first on the stream thread
    parameters.get("partitionFilter").foreach(spec =>
      VersionedTable.validatePartitionFilter(sqlContext.sparkSession,
        pathOf(parameters), spec))
    val base = schema.getOrElse(
      VersionedTable.readAt(sqlContext.sparkSession, pathOf(parameters)).schema)
    (shortName(),
      if (!cdfOf(parameters)) base
      else StructType(base.fields.toSeq :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val maxVersions = parameters.get("maxVersionsPerBatch").map(_.toLong)
    require(maxVersions.forall(_ >= 1L),
      "graft-vtable: maxVersionsPerBatch must be >= 1")
    val skip = parameters.get("skipChangeCommits")
      .exists(_.equalsIgnoreCase("true"))
    require(!(skip && cdfOf(parameters)),
      "graft-vtable: skipChangeCommits and readChangeFeed are opposites " +
        "— one silently drops mutations, the other delivers them")
    // partitionFilter=field=token subscribes the tail to ONE partition:
    // appends deliver only that partition's rows, and replace_partitions
    // commits provably disjoint from it pass instead of failing the
    // stream (VersionedTable.readChangesPartition — loud-by-default for
    // anything that could have touched the subscription)
    val partFilter = parameters.get("partitionFilter").map(_.trim)
    require(partFilter.isEmpty || !(skip || cdfOf(parameters)),
      "graft-vtable: partitionFilter applies to the plain tail — not " +
        "readChangeFeed or skipChangeCommits")
    val path = pathOf(parameters)
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graft-vtable: startingVersion and startingTimestamp are mutually " +
        "exclusive — name the start one way")
    // startingTimestamp (Delta idiom): start the tail from the first
    // commit PUBLISHED at or after the timestamp — resolved through the
    // same manifest mtimes TIMESTAMP AS OF uses. A timestamp past the
    // tip starts with whatever commits next (pure tail, no snapshot).
    val startV = parameters.get("startingVersion").map(_.toLong)
      .orElse(parameters.get("startingTimestamp").map { s =>
        val micros = VTableScans.parseTsMicros(s)
        val spark = sqlContext.sparkSession
        VersionedTable.versionAtOrAfterTimestamp(spark, path, micros)
          .getOrElse(VersionedTable.versions(spark, path).lastOption.getOrElse(0L) + 1)
      })
    new VTableCdcSource(sqlContext,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      path,
      startV,
      maxVersions,
      cdf = cdfOf(parameters),
      skipChangeCommits = skip,
      partitionFilter = partFilter)
  }

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-vtable sink: commits are appends — only Append output mode " +
        s"is supported, got $outputMode")
    // exactly-once needs a txn identity STABLE ACROSS RESTARTS: prefer an
    // explicit txnAppId (the Delta idiom); the checkpoint location — which
    // any restartable stream must pin anyway — is an equally stable default
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-vtable sink: set option(\"txnAppId\", ...) or a " +
          "checkpointLocation — exactly-once needs a stable app identity"))
    // STREAMING WAP: option("branch", n) stages every micro-batch on the
    // named branch — invisible to main readers until fastForward
    // publishes the audited window. The branch must exist (createBranch
    // first: staging is deliberate) and stay alive for the stream's
    // lifetime; replays dedup against the branch's own txn stamps.
    val branch = parameters.get("branch")
    branch.foreach(b =>
      require(VersionedTable.branchVersions(sqlContext.sparkSession,
          pathOf(parameters), b).nonEmpty,
        s"graft-vtable sink: no branch '$b' — createBranch before " +
          "starting a staged (write-audit-publish) stream"))
    new VTableSink(sqlContext.sparkSession, pathOf(parameters), appId, branch)
  }
}

/** STREAMING WRITE (exactly-once): `df.writeStream.format("graft-vtable")`.
  * Structured Streaming redelivers micro-batches after a restart
  * (at-least-once), so each `addBatch` routes through
  * [[VersionedTable.idempotentCommit]] — the commit is stamped with this
  * stream's (txnAppId, batchId) transaction and a replayed batch the log
  * has already absorbed is skipped, making the end-to-end pipeline
  * exactly-once with NO user-side `foreachBatch` bookkeeping (the
  * `streaming/StreamingUpsert` dataflow, promoted into the table format).
  * Each micro-batch costs one appended generation + one manifest rename;
  * the absorbed check reads O(1) manifests (newest-first stamp scan).
  * With `option("branch", n)` the same exactly-once contract stages on
  * the named branch instead (STREAMING write-audit-publish): main
  * readers see nothing until `fastForward` publishes the audited window
  * atomically.
  */
class VTableSink(spark: org.apache.spark.sql.SparkSession, path: String,
    appId: String, branch: Option[String] = None) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val df = StreamingFrame.asBatch(spark, data)
    branch match {
      case Some(b) => // staged (write-audit-publish) stream
        VersionedTable.idempotentCommitToBranch(spark, path, b, df,
          appId, batchId)
      case None =>
        VersionedTable.idempotentCommit(spark, path, df, appId, batchId)
    }
    ()
  }
}

/** The scan core shared by the V1 relation and the catalog's V1Scan
  * fallback ([[VTableCatalog]]): stats-based generation pruning from the
  * pushed filters, best-effort predicate translation into the underlying
  * parquet scan, and column projection.
  */
object VTableScans {

  // filters arrive as an implicit AND; fold the ones naming `c` into a
  // single [lo, hi] window for generation pruning (integral types only —
  // the manifest stores long bounds)
  private[sources] def bounds(filters: Seq[Filter], c: String): (Long, Long) = {
    def longOf(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    filters.foldLeft((Long.MinValue, Long.MaxValue)) { case ((lo, hi), f) =>
      f match {
        case EqualTo(`c`, v) =>
          longOf(v).map(x => (math.max(lo, x), math.min(hi, x))).getOrElse((lo, hi))
        case GreaterThan(`c`, v) =>
          longOf(v).map(x => (math.max(lo, x + 1), hi)).getOrElse((lo, hi))
        case GreaterThanOrEqual(`c`, v) =>
          longOf(v).map(x => (math.max(lo, x), hi)).getOrElse((lo, hi))
        case LessThan(`c`, v) =>
          longOf(v).map(x => (lo, math.min(hi, x - 1))).getOrElse((lo, hi))
        case LessThanOrEqual(`c`, v) =>
          longOf(v).map(x => (lo, math.min(hi, x))).getOrElse((lo, hi))
        case And(l, r) =>
          val (l1, h1) = bounds(Seq(l), c); val (l2, h2) = bounds(Seq(r), c)
          (math.max(lo, math.max(l1, l2)), math.min(hi, math.min(h1, h2)))
        case _ => (lo, hi)
      }
    }
  }

  // best-effort Filter → Column so predicates reach the underlying
  // parquet scan (row-group pruning); untranslatable filters are simply
  // not pushed — Spark re-applies every filter above this scan anyway.
  // Also the translation gate for SQL DELETE (where best-effort is NOT
  // allowed: the catalog's canDeleteWhere refuses unless every filter
  // translates).
  private[sources] def predicateOf(f: Filter): Option[Column] = toPredicate(f)

  private[sources] def toPredicate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for { lc <- toPredicate(l); rc <- toPredicate(r) } yield lc && rc
    case Or(l, r) => for { lc <- toPredicate(l); rc <- toPredicate(r) } yield lc || rc
    case _ => None
  }

  // accept ISO-8601 instants, SQL timestamp literals AND date-only
  // literals ('2026-08-15' — Delta's startingTimestamp and Spark's
  // TIMESTAMP AS OF both take them, resolved to start-of-day) for the
  // timestamp options; returns epoch MICROseconds (the commitTimestamp
  // unit). Zone-less literals resolve in the SESSION timezone — the
  // same rule TIMESTAMP AS OF applies — never the JVM default (which
  // would shift the start point by the host's offset). Unparseable
  // input fails as a graft-vtable error naming the accepted forms, not
  // a raw DateTimeParseException from the last-attempted format.
  private[sources] def parseTsMicros(s: String): Long = {
    import java.time.format.DateTimeParseException
    val t = s.trim
    lazy val zone = java.time.ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val i =
      try java.time.Instant.parse(t)
      catch { case _: DateTimeParseException =>
        try java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .atZone(zone).toInstant
        catch { case _: DateTimeParseException =>
          try java.time.LocalDate.parse(t).atStartOfDay(zone).toInstant
          catch { case e: DateTimeParseException =>
            throw new IllegalArgumentException(
              s"graft-vtable: cannot parse timestamp '$s' — use an " +
                "ISO-8601 instant, 'yyyy-MM-dd HH:mm:ss[.fff]', or a " +
                "date 'yyyy-MM-dd'", e)
          }
        }
      }
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  // `pruneCol` accepts a comma-separated LIST of stats columns; split and
  // (optionally) keep only the ones the schema actually has
  private[sources] def pruneColsOf(pruneCol: Option[String]): Seq[String] =
    pruneCol.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  private[sources] def existingPruneCols(pruneCol: Option[String],
      fields: Seq[String]): Option[String] = {
    val kept = pruneColsOf(pruneCol).filter(fields.contains)
    if (kept.isEmpty) None else Some(kept.mkString(","))
  }

  /** The pruned, filtered, projected snapshot frame. Multi-column
    * `pruneCol` lists prune CONJUNCTIVELY: every listed column with a
    * non-trivial filter window contributes, so a time×tenant predicate
    * keeps only the generations inside BOTH ranges
    * ([[VersionedTable.readAtPruned]]). Declared PARTITION fields
    * prune the same way from pushed predicates on their BASE columns —
    * equality/IN/IS NULL for every transform, ranges where the
    * transform is order-preserving (days/months/truncate): the
    * Iceberg hidden-partitioning contract, a `WHERE ts >= …` prunes
    * `days(ts)` leaves without the query naming the derived field
    * ([[graft.ops.PartFields.prunePredicates]]). Both decisions come
    * from the one manifest read, every filter re-applied above the
    * scan.
    */
  /** The generation-skipping inputs one scan derives from its pushed
    * filters: stats [lo,hi] windows per pruneCol, and partition-token
    * tests per transform era. Shared by [[frame]] (the actual pruned
    * read) and the scan's `SupportsReportStatistics` estimate (the
    * pruned SIZE), so the bytes Catalyst plans with always describe the
    * same files the scan will read.
    */
  def pruneState(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Option[Long], pruneCol: Option[String], filters: Seq[Filter])
      : (Seq[(String, Long, Long)], Seq[(String, Option[String] => Boolean)]) = {
    val windows = pruneColsOf(pruneCol)
      .map(c => (c, bounds(filters, c)))
      .collect { case (c, (lo, hi))
          if lo != Long.MinValue || hi != Long.MaxValue => (c, lo, hi) }
    // ALL spec eras translate (allPartitionFieldsOf): after a partition
    // spec evolution, pre-evolution generations keep pruning under
    // their own era's transform — each entry is tested by whichever
    // __p_ segments its path carries
    val partPreds = graft.ops.PartFields.prunePredicates(
      VersionedTable.allPartitionFieldsOf(
        VersionedTable.tableProperties(spark, path, version)), filters)
    (windows, partPreds)
  }

  def frame(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Option[Long], pruneCol: Option[String],
      requiredColumns: Seq[String], filters: Seq[Filter]): DataFrame = {
    val (windows, partPreds) = pruneState(spark, path, version, pruneCol, filters)
    val base =
      if (windows.isEmpty && partPreds.isEmpty)
        VersionedTable.readAt(spark, path, version)
      else VersionedTable.readAtPruned(spark, path, version,
        windows, partPreds)._1
    val filtered = filters.flatMap(toPredicate).foldLeft(base)(_.filter(_))
    filtered.select(requiredColumns.map(col): _*)
  }
}

/** A branch's staged snapshot (`option("branch", name)`): the branch
  * TIP through the same readDirs/applyDvs machinery as main — the
  * "audit" read of write-audit-publish. Plain TableScan: audit reads
  * are validation passes, not production scans.
  */
class VTableBranchRelation(ctx: SQLContext, path: String, branch: String)
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  override val schema: StructType =
    VersionedTable.readBranch(ctx.sparkSession, path, branch).schema

  override def buildScan(): RDD[Row] =
    VersionedTable.readBranch(ctx.sparkSession, path, branch).rdd
}

/** Batch relation: a snapshot (latest or `versionAsOf`) of the versioned
  * table, with optional manifest-stats generation pruning on `pruneCol`.
  */
class VTableRelation(ctx: SQLContext, path: String, version: Option[Long],
    pruneCol: Option[String]) extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx

  override val schema: StructType =
    VersionedTable.readAt(ctx.sparkSession, path, version).schema

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] =
    VTableScans.frame(ctx.sparkSession, path, version, pruneCol,
      requiredColumns.toIndexedSeq, filters.toIndexedSeq).rdd
}

/** The batch CHANGE-DATA-FEED relation: delegates row production to
  * [[VersionedTable.tableChanges]] — the engine's own O(changed-data)
  * diff plans — through the plain TableScan contract (the CDF's
  * pseudo-columns make pushdown moot; Spark filters above).
  */
class VTableCdfRelation(ctx: SQLContext, path: String, vFrom: Long,
    vTo: Long) extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  private def frame =
    VersionedTable.tableChanges(ctx.sparkSession, path, vFrom, vTo)

  override val schema: StructType = frame.schema

  override def buildScan(): RDD[Row] = frame.rdd
}

/** Version-number offset; `json` round-trips through checkpoint restarts
  * (incoming offsets may be SerializedOffset — parse via json uniformly).
  */
case class VTableOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

/** The commit-log tail: first batch = full snapshot at the start
  * version, later batches = the O(delta) change feed between versions.
  *
  * `startingVersion` (Delta-source idiom) skips the initial snapshot:
  * the tail starts as the change feed FROM that committed version —
  * INCLUSIVE, matching both Delta's option and this source's own batch
  * `readChangeFeed` window (one option name, one meaning in both read
  * modes). The restart-a-consumer-mid-history device: a consumer that
  * already holds v n-1 passes startingVersion=n and receives v n's
  * changes first (the snapshot would re-deliver data it already holds).
  *
  * `maxVersionsPerBatch` is ADMISSION CONTROL: each trigger offers at
  * most that many commits past the last processed version, so a
  * consumer catching up on a long backlog processes it as bounded
  * micro-batches instead of one giant one — at 100 TB the difference
  * between a checkpointable, spill-bounded recovery and a batch sized
  * by however far the consumer fell behind. The cap applies to the
  * tail, not the initial full snapshot (a snapshot is one atomic
  * batch by construction — use `startingVersion` to avoid it); V1
  * sources are rate-limited through `getOffset`, which AvailableNow's
  * one-shot offset capture bypasses (use the default trigger for
  * capped drains).
  */
class VTableCdcSource(ctx: SQLContext, override val schema: StructType,
    path: String, startingVersion: Option[Long] = None,
    maxVersionsPerBatch: Option[Long] = None,
    cdf: Boolean = false,
    skipChangeCommits: Boolean = false,
    partitionFilter: Option[String] = None) extends Source {

  private def spark = ctx.sparkSession
  private def ver(o: Offset): Long = o.json.trim.toLong

  // startingVersion is INCLUSIVE (Delta semantics, same as the batch CDF
  // window): the first delivered delta is (startingVersion-1 →
  // startingVersion], so the floor the tail resumes from is one below
  private val startFloor: Option[Long] = startingVersion.map(_ - 1)

  // last version this stream has offered/processed — seeded by recovery
  // (getBatch runs first on restart) or the startingVersion floor, None
  // until the uncapped initial-snapshot batch resolves it
  @volatile private var lastSeen: Option[Long] = startFloor

  override def getOffset: Option[Offset] = {
    val vs = VersionedTable.versions(spark, path)
    if (vs.isEmpty) None
    else Some(VTableOffset((lastSeen, maxVersionsPerBatch) match {
      case (Some(l), Some(m)) =>
        val pending = vs.filter(_ > l)
          .take(math.min(m, Int.MaxValue.toLong).toInt)
        if (pending.isEmpty) l else pending.last
      case _ => vs.last
    }))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = ver(end)
    // startingVersion=1 (or a startingTimestamp at/before the first
    // commit) means "everything from the beginning". The CDF tail can
    // express that exactly (tableChanges accepts vFrom=0, delivering
    // per-commit change rows from v1); the plain/lenient tails cannot
    // (no version-0 manifest to diff against), so they deliver the
    // initial snapshot — the fold of all changes since version 0.
    val eff = start.map(ver).orElse(startFloor)
    val batch = (if (cdf) eff else eff.filter(_ > 0)) match {
      case None if cdf => // initial snapshot AS the change feed's opening
        VersionedTable.readAt(spark, path, Some(endV))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(endV))
      case None => partitionFilter match {
        // subscribed tails open with the subscribed slice only
        case Some(spec) =>
          VersionedTable.readAtPartition(spark, path, Some(endV), spec)
        case None => VersionedTable.readAt(spark, path, Some(endV))
      }
      case Some(s) if s == endV => // offset-representation change only
        val empty = VersionedTable.readAt(spark, path, Some(endV)).limit(0)
        if (cdf) empty
          .withColumn("_change_type", lit(null).cast("string"))
          .withColumn("_commit_version", lit(null).cast("bigint"))
        else empty
      // CDF tail: row-level changes — merge/update/delete/MoR commits
      // flow as _change_type rows instead of failing the stream
      case Some(s) if cdf => VersionedTable.tableChanges(spark, path, s, endV)
      // appends-only lenient tail: data-changing commits silently skipped
      case Some(s) if skipChangeCommits =>
        VersionedTable.readAppends(spark, path, s, endV)
      // partition-subscribed tail: disjoint replaces pass, overlapping
      // (or unprovable) mutations still fail the stream loudly
      case Some(s) if partitionFilter.isDefined =>
        VersionedTable.readChangesPartition(spark, path, s, endV,
          partitionFilter.get)
      case Some(s) => VersionedTable.readChanges(spark, path, s, endV)
    }
    lastSeen = Some(endV)
    // pin the declared schema: a generation widened mid-stream must not
    // change the streaming plan's shape
    StreamingFrame.asStreaming(spark,
      batch.select(schema.fieldNames.toIndexedSeq.map(col): _*))
  }

  override def stop(): Unit = ()
}
