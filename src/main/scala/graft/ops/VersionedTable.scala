package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import Q.t

/** A minimal commit-log table format — numbered snapshots over plain
  * parquet data files, giving the three lakehouse behaviors the sink
  * family was still missing: ACID commits, snapshot-isolated reads, and
  * time travel (`read @ version N`).
  *
  * Layout under one table root:
  * {{{
  *   <table>/data/v<N>-<uuid>/...parquet   // immutable data generations
  *   <table>/_log/<N>.commit               // snapshot manifests
  * }}}
  *
  * Each manifest lists the data directories (relative paths, one per
  * line) that constitute snapshot N — append commits carry the previous
  * list plus the new generation, overwrite commits carry only the new
  * one. The COMMIT POINT is the atomic create-if-absent of
  * `_log/<N>.commit` from a hidden temp file (a hard link on the local
  * filesystem, a rename elsewhere): data files are written first and are
  * invisible until the manifest appears, so a crash anywhere before it
  * leaves only orphaned (unreferenced, reclaimable) data and the prior
  * snapshot intact — the same only-the-driver-publishes atomicity the
  * `graft-audit` DSv2 sink demonstrates, applied to a table. Concurrent
  * writers are safe by OPTIMISTIC CONCURRENCY: creating an existing
  * manifest fails, and the loser aborts or rebases onto the new tip as
  * its rebase policy allows, so version history is linear.
  *
  * Readers never list `data/` (at scale a blob listing is slow and,
  * worse, sees half-written generations): they read the manifest and
  * load exactly its files. That makes reads snapshot-isolated for free
  * and makes `readAt(v)` trivial — time travel is just reading an older
  * manifest. Scale shape: a manifest holds directory names, not file
  * names, so it stays bytes-sized; data generations are immutable parquet
  * dirs that [[Compaction]] could rewrite into a new overwrite commit.
  */
object VersionedTable {

  def pack: Seq[Q] = Seq(q108TimeTravel, q110CdcFeed, q111CompactedFeed,
    q112VersionedMerge, q113ExactlyOnceSink, q114SchemaEvolution,
    q115DataSkipping, q116VersionedDelete, q117VTableConnector,
    q118SqlTimeTravel, q119Restore, q120DeletionVectors, q121StreamSink,
    q122SqlWrites, q123SqlDelete, q124TableHistory, q125SqlMerge,
    q126SqlUpdate, q127SqlMaintenance, q128SqlEvolution,
    q129ChangeDataFeed, q130CheckConstraints, q131CdfIncrementalRefresh,
    q132MultiSkipping, q133PartitionedVtable, q134PartitionOverwrite,
    q135HiddenPartitioning, q136RenameColumn, q137SpecEvolution,
    q138DropColumn, q139BranchWap, q140CatalogView, q141MaterializedView,
    q142TypeWidening, q143AggPushdown, q144StatsBroadcast,
    q145PartitionAgg, q146JoinMview, q147MinmaxMview,
    q148HourlyPartitioning, q149FilteredAggPushdown, q150MviewChain,
    q151StarMview)

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val CommitRe = """(\d+)\.commit""".r
  // any log file's version: main (`<n>.commit`) or branch (`b.<name>.<n>.commit`)
  private val LogFileRe = """(?:.*\.)?(\d+)\.commit""".r

  /** Committed versions, ascending (empty for a nonexistent table). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val hfs = fs(spark, root)
    val log = new Path(root, "_log")
    if (!hfs.exists(log)) Seq.empty
    else hfs.listStatus(log).toSeq
      .flatMap(_.getPath.getName match {
        case CommitRe(n) => Some(n.toLong)
        case _ => None // temp files mid-publish, foreign junk
      }).sorted
  }

  private def manifestLinesFile(spark: SparkSession, root: String,
      file: String): Seq[String] = {
    val hfs = fs(spark, root)
    val in = hfs.open(new Path(root, s"_log/$file"))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  // a manifest is optional `#key=value` metadata headers, then one data
  // directory per line (headerless pre-metadata manifests parse the same)
  private[ops] def manifestDirs(spark: SparkSession, root: String, v: Long): Seq[String] =
    manifestOf(spark, root, v)._1

  // dirs + meta from ONE manifest open — the hot read paths use this so a
  // snapshot read costs a single _log round-trip (separate manifestDirs +
  // manifestMeta calls would open the same file twice, which matters when
  // _log lives on an object store)
  private[ops] def manifestOf(spark: SparkSession, root: String,
      v: Long): (Seq[String], Map[String, String]) =
    manifestFileOf(spark, root, s"$v.commit")

  // the one manifest parser, for main (`<v>.commit`) and branch
  // (`b.<name>.<v>.commit`) files alike
  private def manifestFileOf(spark: SparkSession, root: String,
      file: String): (Seq[String], Map[String, String]) = {
    val lines = manifestLinesFile(spark, root, file)
    val meta = lines.filter(_.startsWith("#"))
      .map(_.drop(1).split("=", 2))
      .collect { case Array(k, value) => k -> value }.toMap
    (lines.filterNot(_.startsWith("#")), meta)
  }

  // one resolved snapshot: its version, data entries and manifest headers
  private final case class Snapshot(v: Long, dirs: Seq[String],
      meta: Map[String, String])

  // the base of a table's first commit: version 0, no entries, no headers
  private val NoSnapshot = Snapshot(0L, Nil, Map.empty)

  // THE snapshot resolver every versioned read and ref goes through: one
  // log listing, the version check, one manifest open. `v` None = the tip;
  // `branch` resolves against that branch's log instead of main's.
  private def snapshot(spark: SparkSession, root: String, v: Option[Long],
      branch: Option[String] = None): Snapshot = {
    val vs = branch.fold(versions(spark, root))(branchVersions(spark, root, _))
    require(vs.nonEmpty, branch.fold(
      s"VersionedTable: no committed snapshot at $root")(b => s"readBranch: no branch '$b'"))
    snapshotIn(spark, root, vs, v, branch)
  }

  // the resolver's version check and manifest open, against a listing the
  // caller already holds
  private def snapshotIn(spark: SparkSession, root: String, vs: Seq[Long],
      v: Option[Long], branch: Option[String] = None): Snapshot = {
    val ver = v.getOrElse(vs.last)
    require(vs.contains(ver), s"VersionedTable: version $ver not in $vs")
    val (dirs, meta) = manifestFileOf(spark, root,
      branch.fold(s"$ver.commit")(b => s"b.$b.$ver.commit"))
    Snapshot(ver, dirs, meta)
  }

  // a resolved snapshot's rows: its entries read by name, minus the rows
  // its deletion vectors tombstone
  private def readSnapshot(spark: SparkSession, root: String,
      snap: Snapshot): DataFrame =
    applyDvs(spark, root, snap.meta, readDirs(spark, root, snap.dirs, snap.meta))

  /** Commit (publish) time of version `v`, epoch MICROseconds.
    * Resolution is IN-COMMIT first: every manifest published by this
    * engine carries a `#ts=` header stamped at publish, so the commit
    * time survives anything that rewrites file mtimes — object-store
    * copy/restore, a backup rsync, a `touch` — which would silently
    * shift `TIMESTAMP AS OF`, `startingTimestamp` and timestamp vacuum
    * if they resolved through the filesystem (the Delta in-commit-
    * timestamp rationale). Pre-header manifests (older tables) fall
    * back to the manifest file's mtime — the manifest is written just
    * before its atomic create, so absent tampering the mtime is the
    * publish time.
    */
  def commitTimestamp(spark: SparkSession, root: String, v: Long): Long =
    tsOf(spark, root, v, snapshot(spark, root, Some(v)).meta)

  // a listed version's commit time from its headers: `#ts=`, else mtime
  private def tsOf(spark: SparkSession, root: String, v: Long,
      meta: Map[String, String]): Long =
    meta.get("ts").map(_.toLong).getOrElse(
      fs(spark, root).getFileStatus(new Path(root, s"_log/$v.commit"))
        .getModificationTime * 1000L)

  /** Newest committed version published at or before `tsMicros` (epoch
    * micros — the Spark `TIMESTAMP AS OF` contract). None when the
    * timestamp predates the table's first commit.
    */
  def versionAsOfTimestamp(spark: SparkSession, root: String,
      tsMicros: Long): Option[Long] =
    versions(spark, root)
      .filter(v => tsOf(spark, root, v, manifestMeta(spark, root, v)) <= tsMicros)
      .lastOption

  /** Oldest committed version published at or after `tsMicros` (the
    * `startingTimestamp` contract). None when every commit predates it.
    */
  def versionAtOrAfterTimestamp(spark: SparkSession, root: String,
      tsMicros: Long): Option[Long] =
    versions(spark, root)
      .find(v => tsOf(spark, root, v, manifestMeta(spark, root, v)) >= tsMicros)

  /** Commit metadata: the `#key=value` manifest headers (commit kind,
    * streaming transaction stamps). Empty for plain commits.
    */
  def manifestMeta(spark: SparkSession, root: String, v: Long): Map[String, String] =
    manifestOf(spark, root, v)._2

  /** True when commit `v` rewrote physical layout without changing logical
    * content (compaction) — the dataChange=false commits a change feed
    * must skip.
    */
  def isRewrite(spark: SparkSession, root: String, v: Long): Boolean =
    manifestMeta(spark, root, v).get("rewrite").contains("true")

  // ---- TABLE PARTITIONING (`PARTITIONED BY`) ------------------------
  // A table may declare IDENTITY PARTITION COLUMNS at creation (the
  // `partition` table property, comma list — stamped by the catalog's
  // PARTITIONED BY clause or createIfAbsent props). Partition-routed
  // commits write each generation as hive-style `__p_<col>=<value>`
  // subdirs in ONE pass (partitionBy on a DUPLICATED `__p_`-prefixed
  // column, so the REAL column stays in the data files — readers never
  // reconstruct values from paths, and unpartitioned vs partitioned
  // generations still align by name), and the manifest lists the LEAF
  // dirs. Partition pruning is therefore a pure manifest-LINE decision
  // (no listing, no footer reads — the same economics as stats
  // skipping, see readAtPruned), it composes conjunctively with
  // stats windows, and every kept leaf is a plain parquet dir, so the
  // single multi-path scan fast path survives. At 100 TB: a categorical
  // predicate (tenant, region, day) skips whole leaf dirs from ONE
  // manifest read — the directory-partitioned layout the reference
  // itself writes (spotifytransform.py:102-105), expressed as
  // manifest-listed generations instead of a bare directory tree.
  private[ops] val PartPrefix = "__p_"
  private val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"

  /** Declared partition fields from a table-properties map (the
    * `partition` property — a top-level-comma list of transform specs:
    * bare identity columns, `days(c)`, `months(c)`, `truncate(n,c)`,
    * `bucket(n,c)`; see [[PartField]]); empty when unpartitioned.
    */
  def partitionFieldsOf(props: Map[String, String]): Seq[PartField] =
    props.get("partition").toSeq.flatMap(PartFields.parseList)

  /** EVERY partition field the table's spec history has declared — the
    * CURRENT spec plus the `partition.history` ledger
    * ([[evolvePartitionSpec]] appends each superseded spec, ';'-joined),
    * name-deduped with the current spec winning. Pruning translates
    * pushed predicates under ALL of them: each manifest entry carries
    * the `__p_<field>=` path segments of the spec it was WRITTEN under,
    * so a per-field token test evaluates every generation under its own
    * era's transform, and entries lacking a field's segment always scan
    * — Iceberg's per-spec-id pruning, expressed through the tokens the
    * leaves already carry (the evolve gate keeps field names unique
    * across eras, so a name can never mean two different transforms).
    */
  def allPartitionFieldsOf(props: Map[String, String]): Seq[PartField] = {
    val cur = partitionFieldsOf(props)
    val hist = props.get("partition.history").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .flatMap(PartFields.parseList)
    val seen = scala.collection.mutable.Set[String]()
    (cur ++ hist).filter(f => seen.add(f.name.toLowerCase))
  }

  /** [[allPartitionFieldsOf]]'s source columns — what pushed-filter
    * reporting should treat as prune-effective.
    */
  def allPartitionColsOf(props: Map[String, String]): Seq[String] =
    allPartitionFieldsOf(props).map(_.source).distinct

  // partition fields in force at the tip (empty for fresh/unpartitioned)
  private def partitionFieldsAt(spark: SparkSession, root: String): Seq[PartField] =
    versions(spark, root).lastOption.map { v =>
      partitionFieldsOf(tablePropsOf(manifestMeta(spark, root, v)))
    }.getOrElse(Nil)

  // does `rel` (or any partition subdir of it) hold a footer-bearing file?
  private def hasPartFiles(spark: SparkSession, root: String,
      rel: String): Boolean = {
    val hfs = fs(spark, root)
    def any(dir: Path): Boolean = hfs.listStatus(dir).exists { st =>
      (st.isFile && st.getPath.getName.startsWith("part-")) ||
        (st.isDirectory && any(st.getPath))
    }
    any(new Path(root, rel))
  }

  /** The manifest LINES for a freshly written generation: its hive-style
    * `__p_` leaf dirs when the write was partition-routed, else the dir
    * itself. The cardinality guard refuses a commit that fans out into
    * pathologically many partitions — partitioning is for CATEGORICAL
    * columns; ranges belong to stats skipping.
    */
  private def genEntries(spark: SparkSession, root: String,
      gen: String): Seq[String] = {
    val hfs = fs(spark, root)
    def walk(rel: String): Seq[String] = {
      val subs = hfs.listStatus(new Path(root, rel)).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(PartPrefix))
      if (subs.isEmpty) Seq(rel)
      else subs.sortBy(_.getPath.getName)
        .flatMap(st => walk(s"$rel/${st.getPath.getName}"))
    }
    val entries = walk(gen)
    if (entries.size > 4096) {
      hfs.delete(new Path(root, gen), true)
      throw new IllegalArgumentException(
        s"VersionedTable: one commit produced ${entries.size} partition " +
          "dirs — the declared partition columns are too fine-grained " +
          "(partition by low-cardinality columns; use stats skipping " +
          "for ranged/high-cardinality dimensions)")
    }
    entries
  }

  // decode hive partition-path escaping (%XX) from a dir-name token —
  // hive escapes only ASCII specials, so the shared UTF-8-run decoder
  // is byte-for-byte equivalent here (one decoder, one set of bounds
  // rules, instead of two loops drifting apart)
  private def unescapePathToken(s: String): String = uriDecodePath(s)

  // decode the URL-encoding `input_file_name()` applies to scan paths
  // (space→%20, and a literal '%' in a hive-escaped leaf name →%25) so
  // a scanned file's directory can be matched against the RAW on-disk
  // entry names a manifest lists — without it, any string partition
  // value containing a space or '%' makes the suffix match miss.
  // %XX runs decode as UTF-8 byte sequences (non-ASCII leaf names).
  private def uriDecodePath(s: String): String =
    if (!s.contains('%')) s
    else {
      val out = new StringBuilder(s.length)
      val buf = new java.io.ByteArrayOutputStream(8)
      def flush(): Unit = if (buf.size > 0) {
        out.append(new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
        buf.reset()
      }
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length &&
            Character.digit(s.charAt(i + 1), 16) >= 0 &&
            Character.digit(s.charAt(i + 2), 16) >= 0) {
          buf.write(Character.digit(s.charAt(i + 1), 16) * 16 +
            Character.digit(s.charAt(i + 2), 16))
          i += 3
        } else { flush(); out.append(c); i += 1 }
      }
      flush()
      out.toString
    }

  // the partition value a manifest entry's path encodes for column `c`:
  // outer None when the entry has no such segment (unpartitioned
  // generation — must always scan); Some(None) = the NULL partition;
  // Some(Some(v)) = the unescaped rendered value
  private[ops] def partValueOf(entry: String,
      c: String): Option[Option[String]] =
    entry.split('/').collectFirst {
      case seg if seg.startsWith(s"$PartPrefix$c=") =>
        val raw = seg.substring(PartPrefix.length + c.length + 1)
        if (raw == HiveNullPart) None else Some(unescapePathToken(raw))
    }

  /** Declared PARQUET BLOOM FILTER columns from `bloom.<col>` table
    * properties (the Delta `delta.bloomFilter` idea as a plain property):
    * the value is the expected distinct count the filter is sized for
    * (non-numeric values take a 100k default). Every data-writing commit
    * path threads these into the parquet writer, so point lookups on
    * non-partition, non-stats columns (`WHERE id = x`) skip row groups
    * INSIDE kept generations — the in-file half of data skipping that
    * manifest pruning cannot provide (see [[Formats.bloomWrite]] for the
    * standalone demonstration; parquet-mr applies blooms automatically
    * to pushed equality predicates at read). Cost: one bitset per
    * (row group, column) at write — bytes per thousand rows.
    */
  private[ops] def bloomColsOf(props: Map[String, String]): Seq[(String, Long)] =
    props.toSeq.collect { case (k, v) if k.startsWith("bloom.") =>
      k.stripPrefix("bloom.") -> v.trim.toLongOption.getOrElse(100000L)
    }.sortBy(_._1)

  private def bloomColsAt(spark: SparkSession, root: String): Seq[(String, Long)] =
    versions(spark, root).lastOption
      .map(v => bloomColsOf(tablePropsOf(manifestMeta(spark, root, v))))
      .getOrElse(Nil)

  // write df as a new immutable generation dir; invisible until
  // published. With `partFields` declared AND every SOURCE column
  // present in the frame, the write routes hive-style into
  // `__p_<field>=<token>` leaf subdirs — the token is the transform's
  // COMPUTED value (identity, day, month, truncate, bucket), appended
  // as a duplicated prefixed column in the same one partitionBy pass;
  // frames missing a source column (DV key lists, internal ledgers)
  // write plain — a generation without partition subdirs is always
  // legal and simply never prunes. `bloomCols` adds parquet bloom
  // filters for the declared columns present in the frame.
  private def writeGeneration(spark: SparkSession, root: String,
      df: DataFrame, partFields: Seq[PartField] = Nil,
      preserveLayout: Boolean = false,
      bloomCols: Seq[(String, Long)] = Nil,
      obsCols: Seq[String] = Nil,
      observeWrite: Boolean = true): String = {
    val gen = s"data/v-${java.util.UUID.randomUUID().toString.take(8)}"
    val p = new Path(root, gen)
    // COMMIT-TIME WRITE OBSERVATION: the write job itself computes the
    // row count and — for the caller's tracked stats columns — the
    // [min, max, ndv] aggregates the manifest headers need, via
    // `Dataset.observe` (accumulator-backed, no extra pass). When the
    // write lands as a SINGLE entry, [[genStatsForEntries]] serves the
    // per-generation `stats:` headers from this observation instead of
    // scheduling a second Spark job that re-reads the generation; a
    // single-FILE write additionally serves the per-file
    // `files:`/`fstats:` records without opening any footer. The
    // observed expressions are EXACTLY the ones the fallback agg job
    // computes (min/max cast long, HLL++ NDV, count), over exactly the
    // written rows — recorded `stats:` values are byte-identical either
    // way. (The single-file `fstats:` record is a safe SUPERSET of the
    // footer channel: the observation can record min/max where a footer
    // with absent/untrustworthy statistics would refuse — the values
    // are still the true data min/max, so pruning stays exact; freshly
    // Spark-written parquet always carries trustworthy stats, so the
    // corner never fires on this engine's own files.)
    // A requested column missing from the frame skips the
    // observation (the fallback job refuses loudly, as before).
    // `observeWrite = false` marks INTERNAL writes (recorded-CDF
    // generations, DV key lists) whose entries never reach
    // genStatsForEntries: registering an observation for them only aged
    // out of pendingWriteObs unconsumed while charging the write job the
    // metric evaluation
    val present = obsCols.map(c => df.columns.find(_.equalsIgnoreCase(c)))
    val df2 =
      if (!observeWrite || present.exists(_.isEmpty)) df
      else {
        val actual = present.flatten
        val integral = actual.map(a => df.schema(a).dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        })
        val obs = org.apache.spark.sql.Observation(s"graft_commit_$gen")
        val metrics = count(lit(1)).as("__rows") +:
          actual.zipWithIndex.flatMap { case (a, i) => Seq(
            min(col(a)).cast("long").as(s"__min_$i"),
            max(col(a)).cast("long").as(s"__max_$i"),
            approx_count_distinct(col(a)).as(s"__ndv_$i")) }
        pendingWriteObs.put((root, gen),
          WriteObs(obsCols.map(_.toLowerCase).zip(integral), obs))
        df.observe(obs, metrics.head, metrics.drop(1): _*)
      }
    def blooming(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])
        : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
      bloomCols.foldLeft(w) { case (wr, (c, ndv)) =>
        df.columns.find(_.equalsIgnoreCase(c)) match {
          case Some(actual) => wr
            .option(s"parquet.bloom.filter.enabled#$actual", "true")
            .option(s"parquet.bloom.filter.expected.ndv#$actual", ndv.toString)
          case None => wr // frame lacks the column (ledgers, key lists)
        }
      }
    val route = partFields.nonEmpty && partFields.forall(f =>
      df.columns.exists(_.equalsIgnoreCase(f.source)))
    if (route) {
      // compute each partition token under the __p_ prefix: partitionBy
      // consumes (and drops) the prefixed copy into the dir name while
      // the real source column stays in the files
      val dup = partFields.foldLeft(df2) { (d, f) =>
        val src = d.columns.find(_.equalsIgnoreCase(f.source)).get
        d.withColumn(PartPrefix + f.name,
          f.valueOf(col(src), d.schema(src).dataType))
      }
      // OPTIMIZED WRITE (the Delta idea): cluster by the partition
      // tokens before partitionBy, so each leaf is written by one task
      // — without the shuffle every task writes every leaf it touches,
      // and a wide-fan-out commit (a 365-day backfill) lands
      // tasks×leaves small files. The shuffle is an AQE REBALANCE, not
      // a plain repartition: a plain hash shuffle serializes a SKEWED
      // leaf (one hot day/tenant) through a single task — a long-tail
      // stall or an executor OOM at scale — while rebalance keeps the
      // leaf-per-task clustering for small leaves (coalescing tiny ones
      // together) and SPLITS a hot leaf across a few tasks, each
      // writing one bounded file into the same leaf dir (Delta's
      // optimizedWrite bin-packing). With AQE off it degrades to the
      // plain keyed shuffle. One shuffle per routed commit buys a
      // small-file-free layout; compaction stops being the every-batch
      // tax and becomes occasional maintenance. OPTIMIZE passes
      // preserveLayout: its range+sort clustering IS the layout, and
      // re-shuffling here would undo the z-order it just built.
      val clustered =
        if (preserveLayout) dup
        else dup.hint("rebalance",
          partFields.map(f => col(PartPrefix + f.name)): _*)
      // PARALLELISM-FIRST file creation (r19, guide §6/§2.6): AQE's
      // CoalesceShufflePartitions bin-packs the rebalance's reduce
      // partitions toward the advisory size — correct for shuffle
      // economics, wrong for a partitioned WRITE, where the packed task
      // then creates every leaf's file SERIALLY (measured: one 3.5 s
      // task writing 240 hour leaves in q148; file create/commit
      // latency, not bytes, is the cost — worse still on object stores,
      // where each file is a PUT round-trip). Disabling partition
      // coalescing for the routed write keeps one file per leaf (each
      // leaf's rows still hash to exactly one reducer) and spreads file
      // creation across the shuffle's tasks at ANY scale; at production
      // sizes leaves exceed the advisory anyway, so the setting only
      // bites exactly when bin-packing would serialize the writers.
      // Hot-leaf SPLITTING (OptimizeSkewInRebalancePartitions) is
      // untouched. Parameterized, never a local[32] constant:
      // spark.graft.routedWrite.coalesce (default false).
      val coalKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val coalPrev = spark.conf.getOption(coalKey)
      spark.conf.set(coalKey, spark.conf.get(
        "spark.graft.routedWrite.coalesce", "false"))
      try blooming(clustered.write.mode("errorifexists"))
        .partitionBy(partFields.map(PartPrefix + _.name): _*).parquet(p.toString)
      finally coalPrev match {
        case Some(v) => spark.conf.set(coalKey, v)
        case None => spark.conf.unset(coalKey)
      }
    } else blooming(df2.write.mode("errorifexists")).parquet(p.toString)
    // a frame whose every partition is empty writes NO part files — only
    // _SUCCESS — and a footer-less generation breaks every later read of
    // the snapshot (parquet cannot infer its schema). A rewrite that
    // deletes ALL rows of the touched generations hits exactly this, so
    // re-write as one forced task: a 0-row single-partition write still
    // lands one footer-bearing file (the CREATE TABLE device). The empty
    // rewrite is always PLAIN — there are no partition values to route.
    if (!hasPartFiles(spark, root, gen)) {
      fs(spark, root).delete(p, true)
      df.limit(0).repartition(1).write.mode("errorifexists").parquet(p.toString)
    }
    gen
  }

  /** How a publish that lost its version to another writer may land past
    * the commits that took it. */
  private sealed trait Rebase

  /** Never: publish only at base+1 while the log holds no later version
    * (a vacuum may have trimmed base+1 under newer commits), and a loss
    * aborts. For commits whose content baked in the base snapshot —
    * compact, compactSmall, optimize, optimizePartition, deleteWhere,
    * deleteWhereMor, restore, createIfAbsent and the branch commits;
    * landing later could silently undo or drop a concurrent writer's
    * commit. */
  private case object AtBase extends Rebase

  /** Always: every attempt, the first included, rebuilds the manifest on
    * the tip it lists (never on a base resolved before a long write, whose
    * base+1 a vacuum may have trimmed) — for commits whose intent does not
    * depend on what landed meanwhile (`commit`, `idempotentCommit`,
    * `editTip`). Losing every attempt throws `publish contention`. */
  private case object PastAny extends Rebase

  /** Only when `ok` accepts every intervening commit (a logical-conflict
    * check: `publishRowLevel`, `fastForward`, `overwritePartitions`); a
    * refusal, a vacuumed gap above the base or losing every attempt
    * aborts. */
  private final case class PastIf(ok: Intervening => Boolean) extends Rebase

  // one commit a rebase lands past: its predecessor's entries, its own
  // snapshot and its kind (txn suffix dropped), each resolved once
  private final case class Intervening(prevDirs: Seq[String], snap: Snapshot,
      kind: String) {
    def added: Seq[String] = snap.dirs.filterNot(prevDirs.contains)
    def removed: Seq[String] = prevDirs.filterNot(snap.dirs.contains)
  }

  private val PublishAttempts = 20

  // THE publish primitive: every `_log` manifest, main or branch, lands
  // here. Each attempt builds the manifest on `on` (the caller's `base`;
  // for PastAny the listed tip; for PastIf the newest tip its check
  // accepts; after a loss the new tip, as `rebase` allows), stamps the
  // IN-COMMIT timestamp (`#ts=` epoch micros, clamped strictly after
  // `on`'s so version order and timestamp order never disagree under
  // clock skew) and creates manifest `file(on.v + 1)` iff absent. Returns
  // the published snapshot, or None when it aborted or `manifest` gave up
  // (returned None). Whatever ends a call without a publish, exceptions
  // included, deletes the generations this call wrote (`wrote`).
  private def publish(spark: SparkSession, root: String, base: Snapshot,
      wrote: Seq[String], rebase: Rebase,
      file: Long => String = v => s"$v.commit")(
      manifest: Snapshot => Option[(Seq[String], Map[String, String])])
      : Option[Snapshot] = {
    val hfs = fs(spark, root)
    def reclaim(): Unit = wrote.foreach(g => hfs.delete(new Path(root, g), true))
    // the tip as listed now: `base` itself when nothing landed since
    def tip(): Snapshot = {
      val vs = versions(spark, root)
      if (vs.lastOption.forall(_ == base.v)) base else snapshotIn(spark, root, vs, None)
    }
    // the commits past `on`, each resolved once; the last of them when
    // `ok` accepts them all and the log above `on` has no gap
    def rebased(on: Snapshot, ok: Intervening => Boolean): Option[Snapshot] = {
      val past = versions(spark, root).filter(_ > on.v)
      if (past != (on.v + 1 to on.v + past.size)) None
      else past.foldLeft(Option(on)) { (prev, v) =>
        prev.flatMap { p =>
          val (dirs, meta) = manifestOf(spark, root, v)
          val snap = Snapshot(v, dirs, meta)
          val kind = kindOf(Some(p.dirs), dirs, meta).stripSuffix("+txn")
          Option.when(ok(Intervening(p.dirs, snap, kind)))(snap)
        }
      }
    }
    @annotation.tailrec
    def attempt(n: Int, on: Snapshot): Option[Snapshot] = manifest(on) match {
      case None => None
      case Some((dirs, meta)) =>
        val floor = on.meta.get("ts").fold(Long.MinValue)(_.toLong + 1L)
        val stamped = meta +
          ("ts" -> math.max(System.currentTimeMillis() * 1000L, floor).toString)
        if (createManifest(hfs, root, file(on.v + 1), dirs, stamped))
          Some(Snapshot(on.v + 1, dirs, stamped))
        else (rebase, n < PublishAttempts) match {
          case (PastAny, false) =>
            throw new java.io.IOException(s"VersionedTable: publish contention at $root")
          case (PastAny, true) => attempt(n + 1, tip())
          case (PastIf(ok), true) => rebased(on, ok) match {
            case Some(next) => attempt(n + 1, next)
            case None => None
          }
          case _ => None
        }
    }
    // a version above `v` in the log `file` names: `_log/<n>.commit` for
    // main, `b.<name>.<n>.commit` for one branch; a constant `file` (a
    // branch's first manifest, numbered by its fork point) names none
    def landedAbove(v: Long): Boolean =
      try hfs.listStatus(new Path(root, "_log")).map(_.getPath.getName).exists {
        case name @ LogFileRe(n) => n.toLong > v && file(n.toLong) == name
        case _ => false
      } catch { case _: java.io.FileNotFoundException => false }
    // AtBase lands only on the tip; a conditional rebase first checks
    // what landed past the base before it publishes
    val first = rebase match {
      case AtBase => Option.unless(landedAbove(base.v))(base)
      case PastAny => Some(tip())
      case PastIf(ok) => rebased(base, ok)
    }
    try first.flatMap(attempt(1, _)).orElse { reclaim(); None }
    catch { case scala.util.control.NonFatal(e) => reclaim(); throw e }
  }

  // the local file a path names when `hfs` is, or wraps, the local one
  private[graft] def localFileOf(hfs: org.apache.hadoop.fs.FileSystem)
      : Option[Path => java.io.File] = hfs match {
    case r: org.apache.hadoop.fs.RawLocalFileSystem => Some(p =>
      r.pathToFile(Path.getPathWithoutSchemeAndAuthority(hfs.makeQualified(p))))
    case f: org.apache.hadoop.fs.FilterFileSystem => localFileOf(f.getRawFileSystem)
    case _ => None
  }

  // THE commit point: create `_log/<file>` iff absent, atomically; false
  // means another writer took it. The manifest is written to a hidden
  // temp file first. On the local filesystem the temp is HARD-LINKED to
  // the target — `link(2)` fails when the target exists — because
  // `RawLocalFileSystem.rename` is a POSIX rename that REPLACES an
  // existing target (and the `file:` subclass some jars register only
  // checks before it renames); elsewhere the rename's refusal of an
  // existing target is the commit point. Any other failure (a mount
  // without hard links) propagates. The temp is always deleted; a delete
  // that fails past the commit point leaves it to vacuum.
  private def createManifest(hfs: org.apache.hadoop.fs.FileSystem,
      root: String, file: String, dirs: Seq[String],
      meta: Map[String, String]): Boolean = {
    val tmp = new Path(root, s"_log/.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val dst = new Path(root, s"_log/$file")
    val lines = meta.toSeq.sortBy(_._1).map { case (k, value) => s"#$k=$value" } ++ dirs
    try {
      val out = hfs.create(tmp, false)
      try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
      localFileOf(hfs).fold(hfs.rename(tmp, dst)) { file =>
        try { java.nio.file.Files.createLink(file(dst).toPath, file(tmp).toPath); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      }
    } finally scala.util.Try(hfs.delete(tmp, false))
  }

  // manifest header key carrying one generation's [min,max] for one
  // column — the generation dir name is unique, so the key is too.
  // Header lines parse on the FIRST '=', and a partition-routed leaf dir
  // CONTAINS '=' (`__p_col=value`), so the dir rides in the key with '='
  // (and '%', to keep decoding unambiguous) percent-escaped.
  private def encDir(d: String): String =
    d.replace("%", "%25").replace("=", "%3D")
  private def decDir(d: String): String =
    d.replace("%3D", "=").replace("%25", "%")
  private def statsKey(colName: String, gen: String) =
    s"stats:$colName:${encDir(gen)}"

  // PER-FILE manifest statistics (r18) — the per-file half of the
  // statistics model (stats: is the per-generation half), recorded at
  // commit from the footers the writer just wrote:
  //   `files:<dir>`       = `name,bytes,rows;…` for every data file
  //   `fstats:<col>:<dir>` = `name,min,max;…` (long channel, tracked
  //                          integral columns; all-null/untrustworthy
  //                          files are simply absent = "must scan")
  // They turn the O(entries)-listing paths (scanSizeBytes, footer-job
  // file discovery, .files) into pure manifest reads and let stats
  // windows prune FILES inside a kept generation. Like stats: they are
  // optimizations: histories without them keep the listing paths.
  private def filesKey(gen: String) = s"files:${encDir(gen)}"
  private def fstatsKey(colName: String, gen: String) =
    s"fstats:$colName:${encDir(gen)}"

  // the entry dir an entry-scoped header key describes — the one place
  // carry decisions consult, so stats:/files:/fstats: can never diverge
  // between commit paths
  private def entryHeaderDir(k: String): Option[String] =
    if (k.startsWith("stats:") || k.startsWith("fstats:"))
      k.split(":", 3) match {
        case Array(_, _, d) => Some(decDir(d))
        case _ => None
      }
    else if (k.startsWith("files:")) Some(decDir(k.stripPrefix("files:")))
    else None

  /** The `files:` header decoded: Some(per-file (name, bytes, rows))
    * when the manifest records this entry's files — Nil for a provably
    * empty entry; None = pre-r18 history (callers keep the listing
    * path).
    */
  private[ops] def recordedFiles(meta: Map[String, String],
      entry: String): Option[Seq[(String, Long, Long)]] =
    meta.get(filesKey(entry)).map { v =>
      if (v.isEmpty) Nil
      else v.split(';').toSeq.map { rec =>
        val p = rec.split(',')
        (p(0), p(1).toLong, p(2).toLong)
      }
    }

  // per-file headers for freshly written entries: one listing per entry
  // (names + bytes — the dirs were just written) plus footer reads for
  // rows and tracked-column [min,max] ([[FooterStats.fileStats]], which
  // types each column from the footer itself, so every commit path can
  // record headers without threading its frame's schema). A file name
  // carrying the record separators refuses the whole entry's headers
  // (fallback to listing) rather than writing an unparseable value —
  // Spark part-file names never do.
  private def pooled[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try xs.map(x => pool.submit(
        new java.util.concurrent.Callable[B] { override def call(): B = f(x) }))
        .map(_.get())
      finally pool.shutdown()
    }

  // [[writeGeneration]]'s pending write observations, consumed (once) by
  // [[genStatsForEntries]]; bounded — an aborted commit's entry just
  // ages out. Each value: the requested stats columns (lowercased,
  // paired with "is a plain-integer column" for the fstats gate — the
  // same columns the footer channel would record) and the observation.
  private final case class WriteObs(cols: Seq[(String, Boolean)],
      obs: org.apache.spark.sql.Observation)
  private val pendingWriteObs = new Lru[(String, String), WriteObs](1024)

  private def fileHeadersListed(spark: SparkSession,
      listed: Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])],
      cols: Seq[String]): Map[String, String] = {
    // ONE pooled footer pass across every file — a wide routed commit
    // (hundreds of hour leaves) must not pay serial per-file RPCs
    val flat = listed.flatMap { case (e, sts) => sts.map(st => (e, st)) }
    val stats = FooterStats.fileStats(
      flat.map(_._2.getPath.toString),
      spark.sparkContext.hadoopConfiguration, cols)
    val byEntry = flat.zip(stats).groupBy(_._1._1)
    listed.flatMap { case (e, sts) =>
      if (sts.exists(st => { val n = st.getPath.getName
          n.contains(",") || n.contains(";") })) Nil
      else {
        val recs = byEntry.getOrElse(e, Nil).map { case ((_, st), s) => (st, s) }
        val filesVal = recs.map { case (st, (rows, _)) =>
          s"${st.getPath.getName},${st.getLen},$rows"
        }.mkString(";")
        val fstats = cols.zipWithIndex.flatMap { case (c, i) =>
          val frecs = recs.flatMap { case (st, (_, per)) =>
            per(i).map { case (lo, hi) => s"${st.getPath.getName},$lo,$hi" }
          }
          if (frecs.isEmpty) None
          else Some(fstatsKey(c, e) -> frecs.mkString(";"))
        }
        Seq(filesKey(e) -> filesVal) ++ fstats
      }
    }.toMap
  }

  // deletion-vector headers: `dv:<dvGenDir>=<keyCol>` marks a small
  // key-list generation whose keys are LOGICALLY DELETED from every read
  // of this snapshot (merge-on-read). Unlike `stats:` headers these are
  // CORRECTNESS metadata — any commit that retains the data generations
  // must carry them, or deleted rows silently resurrect.
  private def dvHeadersOf(meta: Map[String, String]): Map[String, String] =
    meta.filter { case (k, _) => k.startsWith("dv:") }

  /** Outstanding merge-on-read deletion vectors at a snapshot? The
    * metadata-aggregate gate: footer row counts include logically
    * deleted rows, so a snapshot with live `dv:` tombstones must never
    * serve aggregates from metadata ([[FooterStats]]).
    */
  def hasDeletionVectors(spark: SparkSession, root: String,
      v: Option[Long] = None): Boolean = {
    val vs = versions(spark, root)
    (vs.nonEmpty || v.isDefined) &&
      dvHeadersOf(snapshotIn(spark, root, vs, v).meta).nonEmpty
  }

  // durable TABLE PROPERTIES: `prop:<k>=<v>` headers describe the TABLE,
  // not one snapshot's content, so EVERY commit kind must carry them
  // forward from the base manifest — append, overwrite, rewrite, merge,
  // delete, restore, streaming. They exist so per-table contracts (e.g.
  // the row-id column SQL row-level operations key on) live in the log
  // itself, not in catalog-side configuration.
  private def propHeadersOf(meta: Map[String, String]): Map[String, String] =
    meta.filter { case (k, _) => k.startsWith("prop:") }

  // the user-facing table-properties view of one manifest's headers
  private def tablePropsOf(meta: Map[String, String]): Map[String, String] =
    propHeadersOf(meta).map { case (k, v) => k.stripPrefix("prop:") -> v }

  // EXISTENCE DEFAULTS (the Delta/SQL-standard ADD COLUMN … DEFAULT
  // semantics): `default.<col>` table properties hold a constant SQL
  // expression (stored pre-cast to the declared type) that generations
  // WITHOUT the column read instead of NULL — rows that physically carry
  // the column (including explicit NULLs written after the ALTER) are
  // untouched. Riding ordinary properties gives the carry-through-every-
  // commit contract for free, SHOW TBLPROPERTIES visibility, and an
  // escape hatch (UNSET reverts pre-evolution rows to NULL).
  private def defaultsOf(meta: Map[String, String]): Map[String, String] =
    tablePropsOf(meta).collect {
      case (k, v) if k.startsWith("default.") =>
        k.stripPrefix("default.") -> v
    }

  // COLUMN NAME MAPPING (`colmap.<physical>=<logical>` properties — the
  // RENAME COLUMN device, Delta's column-mapping idea): a column's
  // PHYSICAL name is frozen in the parquet files ever written under it;
  // a rename only publishes a mapping, and reads alias physical →
  // logical per generation (readDirs). Old snapshots predate the
  // property and keep reading the old name — the rename is itself a
  // version.
  private def colmapOf(meta: Map[String, String]): Map[String, String] =
    tablePropsOf(meta).collect {
      case (k, v) if k.startsWith("colmap.") =>
        k.stripPrefix("colmap.") -> v
    }

  // TYPE-WIDENED columns (`widen.<logical>` = catalog type string, the
  // ALTER COLUMN TYPE device): reads cast the column to the widened
  // type per generation, so pre-widen (narrow) files and post-widen
  // (wide) files serve one logical type with zero rewrites. A full
  // compact/optimize materializes the wide type physically and clears
  // the property.
  private def widensOf(meta: Map[String, String]): Map[String, org.apache.spark.sql.types.DataType] =
    tablePropsOf(meta).collect {
      case (k, v) if k.startsWith("widen.") =>
        k.stripPrefix("widen.") ->
          org.apache.spark.sql.types.DataType.fromDDL(v)
    }

  // physical names retired by DROP COLUMN (`dropcol.<physical>`
  // properties): reads project them away, and the names stay RESERVED —
  // no write, add, rename target or merge-evolved column may reuse one
  // while committed files still carry its bytes (a full compact/optimize
  // purges the files and clears the property, freeing the name)
  private def droppedNamesOf(props: Map[String, String]): Seq[String] =
    props.keys.filter(_.startsWith("dropcol."))
      .map(_.stripPrefix("dropcol.")).toSeq

  // refuse a writer frame that carries a dropped physical name — reads
  // project the column away, so the written values would silently vanish
  private def requireNoDroppedNames(df: DataFrame,
      props: Map[String, String], what: String): Unit = {
    val dropped = droppedNamesOf(props)
    val clash = df.columns.filter(c =>
      dropped.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"VersionedTable: $what writes column ${clash.mkString(",")} " +
        "whose name was DROPPED — reads project it away, so the values " +
        "would silently vanish; the name stays reserved until a full " +
        "compact/optimize purges the old files")
  }

  // the `data/v-xxxx` generation a scanned file belongs to, parsed from
  // its RAW input_file_name string (no URI decoding — partition leaf
  // names carry hive %XX escapes, and decode-then-compare is ambiguous;
  // the UUID-named generation dir needs no decoding). Touch detection
  // works at GENERATION granularity: an entry is touched when its
  // generation is — matching the documented copy-on-write unit.
  private def genOfFile(file: String): String = {
    val i = file.lastIndexOf("/data/v-")
    require(i >= 0, s"VersionedTable: unexpected scan file path $file")
    file.substring(i + 1).split('/').take(2).mkString("/")
  }
  private def genPrefixOf(entry: String): String =
    entry.split('/').take(2).mkString("/")

  // a property rides one `#prop:k=v` manifest line: the line format is
  // the only constraint (the value may contain '=' — parsing splits on
  // the first one)
  private def validateProps(props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains("=") && !k.contains("\n") &&
          !v.contains("\n"),
        s"VersionedTable: illegal property '$k' — keys must be non-empty " +
          "with no '=' or newline, values must have no newline")
    }

  // CHECK CONSTRAINTS ride ordinary table properties under the
  // `constraint.<name>` key convention (the Delta idiom): the value is a
  // SQL boolean expression over the table's columns. [[setProperties]]
  // validates EXISTING data when one is added (a constraint is a promise
  // about the whole table, not just future writes), and every
  // content-adding commit path validates its freshly written generation
  // before publishing — so a violating batch aborts loudly and the log
  // never contains a row that breaks a declared constraint. SQL
  // three-valued semantics: only rows where the expression is FALSE
  // violate (NULL passes, as in standard CHECK).
  private def constraintsOf(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith("constraint.") =>
      k.stripPrefix("constraint.") -> v
    }

  // abort (and reclaim `gen`, when given) if any row of `df` makes a
  // constraint expression FALSE; one short-circuiting scan per constraint
  private def enforceConstraints(spark: SparkSession, root: String,
      constraints: Map[String, String], df: DataFrame,
      gen: Option[String]): Unit =
    constraints.foreach { case (name, exprStr) =>
      val violated =
        try !df.filter(!coalesce(expr(exprStr), lit(true))).limit(1).isEmpty
        catch { case e: Throwable =>
          gen.foreach(g => fs(spark, root).delete(new Path(root, g), true))
          throw new IllegalArgumentException(
            s"VersionedTable: constraint '$name' ($exprStr) failed to " +
              s"evaluate: ${e.getMessage}", e)
        }
      if (violated) {
        gen.foreach(g => fs(spark, root).delete(new Path(root, g), true))
        throw new IllegalArgumentException(
          s"VersionedTable: CHECK constraint '$name' violated — rows " +
            s"where ($exprStr) is false exist; the operation was aborted " +
            "and nothing was committed")
      }
    }

  // constraints in force at the current tip (empty for a fresh table)
  private def tipConstraints(spark: SparkSession,
      root: String): Map[String, String] =
    versions(spark, root).lastOption
      .map(v => constraintsOf(tableProperties(spark, root, Some(v))))
      .getOrElse(Map.empty)

  // validate a freshly WRITTEN generation (reading back the files costs
  // one scan of the new data only — never a re-run of the caller's
  // upstream pipeline) against the tip's constraints plus any being
  // stamped by this very commit
  private def validateGeneration(spark: SparkSession, root: String,
      gen: String, entries: Seq[String],
      extraProps: Map[String, String] = Map.empty): Unit = {
    val cs = tipConstraints(spark, root) ++ constraintsOf(extraProps)
    if (cs.nonEmpty && hasPartFiles(spark, root, gen))
      // read the LEAF entries (plain parquet), not the generation root —
      // a partition-routed generation's root scan would partition-infer
      // the __p_ dup columns, and constraints must see the real schema
      enforceConstraints(spark, root, cs,
        readDirs(spark, root, entries), Some(gen))
  }

  /** Table properties at version `v` (latest when None) — the `prop:`
    * manifest headers, stamped at create time or by [[setProperties]]
    * and carried by every commit kind since.
    */
  def tableProperties(spark: SparkSession, root: String,
      v: Option[Long] = None): Map[String, String] =
    tablePropsOf(snapshot(spark, root, v).meta)

  // merge-on-read: anti-join the snapshot frame against the outstanding
  // deletion vectors of an already-parsed manifest meta. DVs are key
  // lists — tiny relative to the table — so the anti-join is a
  // broadcast; one anti-join per distinct key column (in practice one:
  // the table's delete key). Callers pass the meta they already read —
  // the read path never opens a manifest twice.
  private def applyDvs(spark: SparkSession, root: String,
      meta: Map[String, String], df: DataFrame): DataFrame = {
    val dvs = dvHeadersOf(meta).toSeq
      .map { case (k, keyCol) => (k.stripPrefix("dv:"), keyCol) }
    val applied = dvs.groupBy(_._2).foldLeft(df) { case (acc, (keyCol, group)) =>
      val keys = readDirs(spark, root, group.map(_._1))
        .select(col(keyCol)).distinct()
      // broadcast only while the tombstone lists are provably SMALL: the
      // on-disk bytes of the key-list generations (known from metadata,
      // no scan) gate against the session's broadcast threshold, so an
      // unbounded tombstone backlog degrades to a shuffled anti-join
      // instead of a driver/executor OOM. Maintenance (compact/optimize)
      // is still the real fix — this keeps reads CORRECT until it runs.
      val dvBytes = group.map { case (d, _) =>
        fs(spark, root).getContentSummary(new Path(root, d)).getLength
      }.sum
      val thresh =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      if (thresh >= 0 && dvBytes <= thresh)
        acc.join(broadcast(keys), Seq(keyCol), "left_anti")
      else acc.join(keys.hint("shuffle_hash"), Seq(keyCol), "left_anti")
    }
    // a USING join moves its key column first — restore the snapshot's
    // declared column order (a DV keyed on a non-leading column must not
    // change the table's schema)
    if (dvs.isEmpty) df else applied.select(df.columns.map(col): _*)
  }

  /** FOLD outstanding deletion vectors into a copy-on-write rewrite, so
    * [[mergeInto]]/[[applyRowDelta]] proceed over tombstones instead of
    * demanding a full [[compact]] first: the caller rewrites its touched
    * generations THROUGH the DVs (tombstoned rows die physically there)
    * and re-inserts `clearKeys`; this rewrites the remaining tombstones
    * (all outstanding DV keys minus clearKeys) as ONE fresh key-list
    * generation, so re-inserted keys become visible while every other
    * tombstone stays key-wide deleted. Cost O(DV bytes) — statement-
    * scale, never table-scale. Requires every outstanding DV to
    * tombstone the STATEMENT'S key column: mixed-column tombstones
    * cannot be soundly subtracted (different key spaces), so those still
    * refuse toward compaction. Returns (replacement `dv:` headers, the
    * new dv dir for the caller's abort reclaim).
    */
  // the fold precondition, CHECKED EARLY by callers (before anything is
  // written) so a mixed-key refusal can never leak a staged generation
  private def requireFoldableDvs(meta: Map[String, String],
      keyCol: String): Unit = {
    val cols = dvHeadersOf(meta).values.toSeq.distinct
    require(cols.forall(_ == keyCol),
      "VersionedTable: outstanding deletion vectors tombstone " +
        s"column(s) ${cols.mkString(",")}, but the " +
        s"statement keys on $keyCol — run compact() to materialize them " +
        "before a row-level operation on a different key")
  }

  private def foldDvs(spark: SparkSession, root: String,
      meta: Map[String, String], keyCol: String,
      clearKeys: DataFrame): (Map[String, String], Option[String]) = {
    val dvPairs = dvHeadersOf(meta).toSeq
      .map { case (k, c) => (k.stripPrefix("dv:"), c) }
    if (dvPairs.isEmpty) return (Map.empty, None)
    requireFoldableDvs(meta, keyCol)
    val remaining = readDirs(spark, root, dvPairs.map(_._1))
      .select(col(keyCol)).distinct()
      .join(broadcast(clearKeys.select(col(keyCol)).distinct()),
        Seq(keyCol), "left_anti")
      // a key LIST inherits the distinct's shuffle partitioning — dozens
      // of near-empty files per fold without this; AQE sizes the output
      .hint("rebalance")
    // the fold write's own job counts the remaining keys (observation)
    // — the read-back emptiness probe was one extra Spark job per fold
    val foldObs = org.apache.spark.sql.Observation()
    val gen = writeGeneration(spark, root,
      remaining.observe(foldObs, count(lit(1)).as("rows")),
      observeWrite = false)
    if (foldObs.get("rows").asInstanceOf[Long] == 0L) {
      // every tombstone cleared: no header needed
      fs(spark, root).delete(new Path(root, gen), true)
      (Map.empty, None)
    } else (Map(s"dv:$gen" -> keyCol), Some(gen))
  }

  // stats headers of a manifest that still apply because their
  // generation survives into the next manifest — every commit kind that
  // RETAINS generations (append, merge, delete) must carry these, or one
  // maintenance commit silently turns data skipping off for the table
  private def carriedStats(meta: Map[String, String],
      keptDirs: Seq[String]): Map[String, String] = {
    val kept = keptDirs.toSet
    meta.filter { case (k, _) => entryHeaderDir(k).exists(kept.contains) }
  }

  // THE carry rule: the headers of a manifest that survive into any next
  // manifest keeping all its entries — append, metadata-only edits, refs,
  // branch forks. Entry-scoped stats:/files:/fstats: headers are an
  // optimization (dropping them turns data skipping off), dv: headers are
  // correctness (dropping one resurrects deleted rows), prop: headers
  // describe the table. A new header kind that must survive such commits
  // is added here and nowhere else; per-commit facts (kind stamps, txn
  // stamps, cdf:) are not carried. Every entry header names an entry of
  // its own manifest (each commit path records them for the entries it
  // lists), so carrying them all is carrying the kept entries'.
  private def carriedHeaders(meta: Map[String, String]): Map[String, String] =
    meta.filter { case (k, _) =>
      entryHeaderDir(k).isDefined || k.startsWith("dv:") || k.startsWith("prop:")
    }

  // THE append contract, shared by every append-shaped commit (batch and
  // streaming): the tip's entries plus the new ones, under the tip's
  // carried headers (idempotentCommit once silently dropped stats: by
  // re-implementing this inline).
  private def appendOnto(tip: Snapshot,
      entries: Seq[String]): (Seq[String], Map[String, String]) =
    (tip.dirs ++ entries, carriedHeaders(tip.meta))

  // THE metadata-only commit: resolves the tip, lets `edit` turn it and
  // its carried headers into the new manifest's headers (validation
  // inside `edit` re-runs whenever the tip moved), and publishes the
  // tip's entries unchanged past any writer. `raceHook` is the specs'
  // seam between the first attempt's edit and its publish.
  private def editTip(spark: SparkSession, root: String,
      raceHook: () => Unit = () => ())(
      edit: (Snapshot, Map[String, String]) => Map[String, String]): Long = {
    val base = snapshot(spark, root, None)
    publish(spark, root, base, Nil, PastAny) { tip =>
      val headers = edit(tip, carriedHeaders(tip.meta))
      if (tip.v == base.v) raceHook()
      Some((tip.dirs, headers))
    }.get.v
  }

  // [min,max,ndv,rows] headers for a freshly written generation, computed
  // from the written files — ONE narrow agg regardless of how many
  // columns are tracked (a production writer would harvest the parquet
  // footers it just wrote). All-null columns record nothing (absence =
  // "must scan"). The value EXTENDS the original "min,max" format with
  // two planner-statistics fields (r17): an approximate distinct count
  // (HLL++, an upper-bound-leaning estimate the broadcast planner sizes
  // grouped outputs with — see [[graft.sources.VTableBroadcastHints]])
  // and the generation's exact row count; pre-r17 two-field headers
  // parse unchanged (readers index fields 0/1 and treat 2/3 as absent).
  private def genStatsMulti(spark: SparkSession, root: String, gen: String,
      cols: Seq[String]): Map[String, String] =
    if (cols.isEmpty) Map.empty
    else {
      val df = spark.read.parquet(new Path(root, gen).toString)
      val aggs = cols.flatMap(c =>
        Seq(min(col(c)).cast("long"), max(col(c)).cast("long"),
          approx_count_distinct(col(c)))) :+ count(lit(1))
      val r = df.agg(aggs.head, aggs.drop(1): _*).head()
      val rows = r.getLong(3 * cols.size)
      cols.zipWithIndex.flatMap { case (c, i) =>
        if (r.isNullAt(3 * i)) None
        else Some(statsKey(c, gen) ->
          (s"${r.getLong(3 * i)},${r.getLong(3 * i + 1)}," +
            s"${r.getLong(3 * i + 2)},$rows"))
      }.toMap
    }

  // [min,max,ndv,rows] headers for a commit's manifest ENTRIES — ONE
  // Spark job regardless of partition fan-out (per-leaf genStatsMulti
  // calls would schedule N sequential jobs for an N-partition batch):
  // scan every entry once, aggregate per FILE, fold per entry on the
  // driver. File → entry resolution is raw-path suffix matching (the
  // escape-proof genOfFile rationale); the fold is O(files),
  // metadata-sized. Per-entry NDV folds as the SUM of per-file
  // estimates — an upper bound (duplicates across files double-count),
  // which is exactly the safe direction for the broadcast planner this
  // field feeds; rows fold exactly.
  // per-generation stats: headers AND the per-file files:/fstats:
  // headers for the same fresh entries, from one shared call site per
  // commit path — so every generation-writing commit records both
  // without per-path divergence
  private def genStatsForEntries(spark: SparkSession, root: String,
      entries: Seq[String], cols: Seq[String]): Map[String, String] = {
    if (entries.isEmpty) return Map.empty
    // the write observation recorded during this generation's own write
    // job (usable only when every entry belongs to ONE generation —
    // always true except overwritePartitions' two-generation publish)
    val obsRec: Option[WriteObs] = {
      val gens = entries.map(genPrefixOf).distinct
      if (gens.size != 1) None
      else pendingWriteObs.remove((root, gens.head))
    }
    // the observation serves a column ONLY when it is plain-integral:
    // for timestamps/dates/decimals the observed `cast(long)` reads the
    // PRE-write logical value (e.g. seconds for a timestamp) while the
    // replaced agg job read the parquet ROUND-TRIP value (nanos under
    // nanosAsLong) — serving the former would silently change the
    // recorded window channel. Non-integral tracked columns keep the
    // read-back agg job exactly as before.
    val covered = obsRec.filter(r =>
      cols.forall(c => r.cols.exists(p => p._1 == c.toLowerCase && p._2)))
    // Observation.get blocks until the write's LISTENER fired — an
    // asynchronous post-action hop — so fetch it lazily, only on the
    // paths that will actually use the values (a routed multi-entry
    // commit folds per file and can never use the global observation)
    lazy val vals: Map[String, Any] = covered.map(_.obs.get).getOrElse(Map.empty)
    def lng(k: String): Option[Long] = vals.get(k) match {
      case Some(v: java.lang.Number) => Some(v.longValue)
      case _ => None
    }
    def obsCol(c: String): Option[(Long, Long, Long)] = {
      val i = covered.get.cols.indexWhere(_._1 == c.toLowerCase)
      (lng(s"__min_$i"), lng(s"__max_$i"), lng(s"__ndv_$i")) match {
        case (Some(mn), Some(mx), Some(nd)) => Some((mn, mx, nd))
        case _ => None // all-null column: absence = "must scan"
      }
    }
    def obsRows: Option[Long] =
      if (covered.isDefined) lng("__rows") else None

    // ONE pooled listing pass across entries: file names + bytes — the
    // only facts neither the observation nor the footers can replace
    val hfs = fs(spark, root)
    val listed: Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] =
      pooled(entries)(e =>
        e -> hfs.listStatus(new Path(root, e)).toSeq
          .filter(st => st.isFile && {
            val n = st.getPath.getName
            n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
          }).sortBy(_.getPath.getName))
    val flat = listed.flatMap { case (e, sts) => sts.map(st => (e, st)) }

    // per-generation stats: headers — from the observation when the
    // commit landed one entry (no second read of the fresh data), else
    // the per-file agg job exactly as before
    val entryStats: Map[String, String] =
      if (cols.isEmpty) Map.empty
      else if (entries.size == 1 && obsRows.isDefined) {
        val rows = obsRows.get
        cols.flatMap(c => obsCol(c).map { case (mn, mx, nd) =>
          statsKey(c, entries.head) -> s"$mn,$mx,$nd,$rows"
        }).toMap
      } else genOnlyStats(spark, root, entries, cols)

    // per-file files:/fstats: headers — a single-file write's per-file
    // record IS the observation (no footer opened); anything wider
    // takes the pooled footer pass
    val fileHeaders: Map[String, String] =
      if (entries.size == 1 && flat.size == 1 && obsRows.isDefined && {
          val n = flat.head._2.getPath.getName
          !n.contains(",") && !n.contains(";")
        }) {
        val (e, st) = flat.head
        val name = st.getPath.getName
        val fstats = cols.flatMap { c =>
          val integral = covered.get.cols
            .find(_._1 == c.toLowerCase).exists(_._2)
          if (!integral) None // same gate as the footer channel
          else obsCol(c).map { case (mn, mx, _) =>
            fstatsKey(c, e) -> s"$name,$mn,$mx" }
        }
        (Seq(filesKey(e) -> s"$name,${st.getLen},${obsRows.get}") ++
          fstats).toMap
      } else fileHeadersListed(spark, listed, cols)
    entryStats ++ fileHeaders
  }

  private def genOnlyStats(spark: SparkSession, root: String,
      entries: Seq[String], cols: Seq[String]): Map[String, String] =
    if (cols.isEmpty || entries.isEmpty) Map.empty
    else if (entries.size == 1)
      genStatsMulti(spark, root, entries.head, cols)
    else {
      val aggs = cols.flatMap(c =>
        Seq(min(col(c)).cast("long"), max(col(c)).cast("long"),
          approx_count_distinct(col(c)))) :+ count(lit(1))
      val perFile = readDirs(spark, root, entries)
        .withColumn("_file", input_file_name())
        .groupBy(col("_file"))
        .agg(aggs.head, aggs.drop(1): _*)
        .collect()
      perFile.groupBy { r =>
        val f = r.getString(0)
        // input_file_name() is URL-encoded; entries are raw on-disk
        // names (hive-escaped leaves) — decode before the suffix match
        val dir = uriDecodePath(f.substring(0, f.lastIndexOf('/')))
        entries.find(e => dir.endsWith("/" + e)).getOrElse(
          sys.error(s"VersionedTable: scanned file $f matches no entry"))
      }.flatMap { case (e, rs) =>
        val rows = rs.toSeq.map(_.getLong(1 + 3 * cols.size)).sum
        cols.zipWithIndex.flatMap { case (c, i) =>
          val mins = rs.toSeq.filterNot(_.isNullAt(1 + 3 * i))
            .map(_.getLong(1 + 3 * i))
          val maxs = rs.toSeq.filterNot(_.isNullAt(2 + 3 * i))
            .map(_.getLong(2 + 3 * i))
          val ndv = rs.toSeq.map(_.getLong(3 + 3 * i)).sum
          if (mins.isEmpty) None
          else Some(statsKey(c, e) -> s"${mins.min},${maxs.max},$ndv,$rows")
        }
      }.toMap
    }

  // planner-statistics readers over the extended stats header (fields 2
  // and 3; absent on pre-r17 manifests and on never-tracked columns).
  // Both return None unless EVERY manifest entry either carries the
  // field or provably holds no data files (the catalog CREATE's empty
  // generation — emptiness memoized; committed generations are
  // immutable) — a partial answer would under-count and could OOM a
  // forced broadcast.
  private val entryEmptyCache = new Lru[(String, String), Boolean](4096)

  private def entryEmpty(spark: SparkSession, root: String, d: String,
      meta: Map[String, String] = Map.empty): Boolean =
    // the manifest's own per-file record answers without ANY listing —
    // and is immune to the vanished-dir ambiguity below
    recordedFiles(meta, d).map(_.isEmpty).getOrElse {
    entryEmptyCache.get((root, d)).getOrElse {
      val hfs = fs(spark, root)
      // A VANISHED dir is "unknown", not "provably empty": a time-travel
      // stats probe over a version whose kept dir was since vacuumed
      // must decline the estimate (callers treat false as "has data I
      // can't account for" → None), and the answer must NOT be cached —
      // conflating it with the CREATE generation's genuinely-empty dir
      // would poison every later lookup with 0 rows / 0 NDV.
      val listed =
        try Some(hfs.listStatus(new Path(root, d)).toSeq)
        catch { case _: java.io.FileNotFoundException => None }
      listed match {
        case None => false
        case Some(sts) =>
          val empty = sts.forall(st => !st.isFile || {
            val n = st.getPath.getName
            !n.endsWith(".parquet") || n.startsWith("_") || n.startsWith(".")
          })
          entryEmptyCache.put((root, d), empty)
          empty
      }
    }
    }

  private def statsField(meta: Map[String, String], c: String, d: String,
      idx: Int): Option[Long] =
    meta.get(statsKey(c, d)).flatMap { s =>
      val parts = s.split(",")
      if (parts.length > idx) parts(idx).toLongOption else None
    }

  /** Upper-bound distinct-value estimate for `col` over snapshot `v`:
    * the per-generation NDV headers summed (duplicates across
    * generations double-count — safe for broadcast sizing). None when
    * any file-bearing generation lacks the header (untracked column,
    * pre-r17 history). One manifest read; at most a few empty-dir
    * listings (memoized).
    */
  def scanNdv(spark: SparkSession, root: String, v: Option[Long],
      colName: String): Option[Long] = {
    val vs = versions(spark, root)
    if (vs.isEmpty) return None
    val ver = v.getOrElse(vs.last)
    if (!vs.contains(ver)) return None
    val (dirs, meta) = manifestOf(spark, root, ver)
    val per = dirs.map(d => statsField(meta, colName, d, 2) match {
      case some @ Some(_) => some
      case None => if (entryEmpty(spark, root, d, meta)) Some(0L) else None
    })
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** Exact row count of the generations `keptEntries` keeps, from the
    * `rows` field any tracked column's header carries. None when a kept
    * file-bearing generation has no header at all.
    */
  private[graft] def entriesRowCount(spark: SparkSession, root: String,
      meta: Map[String, String], kept: Seq[String]): Option[Long] = {
    val per = kept.map { d =>
      meta.collectFirst {
        case (k, s) if k.startsWith("stats:") &&
            decDir(k.split(":", 3)(2)) == d && s.split(",").length > 3 =>
          s.split(",")(3).toLongOption
      }.flatten
        // per-file manifest rows (r18) serve even untracked-column
        // generations — Σ recorded file rows, zero listings
        .orElse(recordedFiles(meta, d).map(_.map(_._3).sum)) match {
        case some @ Some(_) => some
        case None => if (entryEmpty(spark, root, d, meta)) Some(0L) else None
      }
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** One commit: write `df` as a new immutable generation, then publish a
    * manifest for version max+1 via the atomic create-if-absent; on a
    * concurrency loss the publish retries at the next version.
    * `overwrite=false` keeps the prior snapshot's directories in the new
    * manifest (append semantics).
    * Returns the committed version.
    *
    * `statsCol` opts into DATA SKIPPING: the new generation's [min,max]
    * of that (integral) column is recorded as a manifest header, and
    * append commits CARRY the surviving generations' stats headers
    * forward — so one manifest read gives [[readAtPruned]] everything it
    * needs to skip whole generations, with no data/ listing and no
    * footer fetches at plan time. Here the bounds come from one small agg
    * over the just-written generation; a production writer would harvest
    * them from the parquet footers it already wrote.
    */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      overwrite: Boolean, meta: Map[String, String] = Map.empty,
      statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      cdf: Option[DataFrame] = None): Long = {
    val vs = versions(spark, root)
    val base = if (vs.isEmpty) NoSnapshot else snapshotIn(spark, root, vs, None)
    val tipProps = tablePropsOf(base.meta)
    requireNoDroppedNames(df, tipProps, "commit")
    val trackedCols = (statsCol.toSeq ++ statsCols).distinct
    val gen = writeGeneration(spark, root, df,
      partitionFieldsOf(tipProps), bloomCols = bloomColsOf(tipProps),
      obsCols = trackedCols)
    val entries = genEntries(spark, root, gen)
    validateGeneration(spark, root, gen, entries)
    // RECORDED CDF (the Delta `_change_data` idea): the writer that
    // already KNOWS this commit's row-level changes writes them as a
    // side generation — schema = table columns + `_change_type` —
    // referenced by `cdf:<dir>` headers. Normal reads never see the dir
    // (it is not in the manifest's dirs list); [[tableChanges]] serves
    // it VERBATIM instead of shape-diffing, which is what makes even an
    // overwrite-shaped commit (an MV refresh) row-level expressible to
    // downstream incremental consumers. The headers are per-commit
    // facts: neither [[appendOnto]] nor the overwrite prop-carry
    // forwards them, and [[vacuum]] retains the dirs like dv: lists.
    val cdfGen = cdf.map { cdfDf =>
      require(cdfDf.columns.contains("_change_type"),
        "commit: a recorded CDF frame must carry _change_type")
      writeGeneration(spark, root, cdfDf, observeWrite = false)
    }
    val cdfHeaders = cdfGen.toSeq.flatMap(g => genEntries(spark, root, g))
      .map(e => s"cdf:$e" -> "true").toMap
    val genStats = genStatsForEntries(spark, root, entries, trackedCols)
    // a publish loss means another writer took this version — rebuild on
    // the new tip (optimistic concurrency)
    publish(spark, root, base, gen +: cdfGen.toSeq, PastAny) { tip =>
      val (dirs, carried) =
        if (overwrite) // replaces the DATA; table properties survive
          (entries, propHeadersOf(tip.meta))
        else appendOnto(tip, entries)
      Some((dirs, carried ++ genStats ++ cdfHeaders ++ meta))
    }.get.v
  }

  /** PRUNED snapshot read — the manifest-level half of data skipping
    * (parquet row-group pruning is the in-file half, see
    * [[Formats.bloomWrite]]), over two dimensions composed
    * conjunctively:
    *  - STATS windows: keep only the generations whose recorded range
    *    intersects EVERY `(col, lo, hi)` window — the two-dimensional
    *    prune a time-partitioned multi-tenant table lives on
    *    (`event_time` window × tenant range: each predicate alone keeps
    *    many generations, the conjunction keeps few). A generation with
    *    no recorded stats for some column always survives that column's
    *    test: absence means "must scan" — stats are an optimization,
    *    never a correctness gate, so rewrites that drop them stay safe.
    *    Inside a kept generation, per-file `fstats:` records skip FILES
    *    the same way ([[prunedFilesOf]]).
    *  - PARTITION token tests, per declared partition field: an entry is
    *    dropped only when its own `__p_<field>=<token>` path segment
    *    PROVES no row can match. Entries without the segment —
    *    unpartitioned generations, pre-partitioning history, DV-era plain
    *    rewrites — always scan. A pushed equality/IN/IS NULL converts a
    *    value set with `allowed.contains` (None = the NULL partition); a
    *    pushed RANGE on a base column (`ts BETWEEN …` over `days(ts)`)
    *    becomes an ordered token window no value set can express
    *    ([[PartFields.prunePredicates]] builds the tests from pushed
    *    filters).
    *
    * At scale this is what turns a time-partitioned append history into
    * an O(queried-window) scan instead of O(table), and keeps a
    * `tenant = 'x'` predicate to O(tenant) leaf dirs: the whole decision
    * reads ONE manifest — no file listing, no footers. Pruning is
    * generation- and file-level, so callers re-apply every filter above
    * the scan. Returns (frame, entries kept, entries total).
    */
  def readAtPruned(spark: SparkSession, root: String, v: Option[Long],
      windows: Seq[(String, Long, Long)],
      partPreds: Seq[(String, Option[String] => Boolean)] = Nil): (DataFrame, Int, Int) =
    readPruned(spark, root, snapshot(spark, root, v), windows, partPreds)

  private def readPruned(spark: SparkSession, root: String, snap: Snapshot,
      windows: Seq[(String, Long, Long)],
      partPreds: Seq[(String, Option[String] => Boolean)]): (DataFrame, Int, Int) = {
    val Snapshot(_, dirs, meta) = snap
    val kept = keptEntries(dirs, meta, windows, partPreds)
    // FILE-level skipping inside kept generations (r18): a kept entry
    // whose manifest records per-file [min,max] for every window column
    // contributes only the files whose range intersects every window —
    // the read plans exactly those file paths, no listing, no footer.
    // Entries without records (or with any window column untracked)
    // contribute whole dirs as before.
    val units = kept.flatMap { d =>
      prunedFilesOf(meta, d, windows) match {
        case None => Seq(d)
        case Some(names) => names.map(n => s"$d/$n")
      }
    }
    val df =
      if (units.isEmpty) readSnapshot(spark, root, snap).limit(0)
      else applyDvs(spark, root, meta,
        readDirs(spark, root, units, meta))
    (df, kept.size, dirs.size)
  }

  /** The file names of entry `d` a window set provably keeps, from the
    * per-file `fstats:` records: Some(kept names) when the entry has
    * per-file records AND every window column carries an `fstats:`
    * header for it (a file with no record for a recorded column is
    * all-null or stats-untrustworthy there — all-null satisfies no
    * window, but untrustworthy must scan, so missing-record files are
    * KEPT); None = no file-level decision (read the whole dir).
    */
  private[ops] def prunedFilesOf(meta: Map[String, String], d: String,
      windows: Seq[(String, Long, Long)]): Option[Seq[String]] =
    if (windows.isEmpty) None
    else recordedFiles(meta, d).flatMap { files =>
      val perCol: Seq[Option[Map[String, (Long, Long)]]] =
        windows.map { case (c, _, _) =>
          meta.get(fstatsKey(c, d)).map(_.split(';').toSeq.map { rec =>
            val p = rec.split(',')
            p(0) -> ((p(1).toLong, p(2).toLong))
          }.toMap)
        }
      if (perCol.exists(_.isEmpty)) None
      else Some(files.collect {
        case (n, _, _) if perCol.zip(windows).forall {
          case (m, (_, lo, hi)) => m.get.get(n).forall {
            case (mn, mx) => mx >= lo && mn <= hi
          }
        } => n
      })
    }

  // the one generation-level skipping decision (stats windows ∧
  // partition-token tests), shared by the pruned read and the scan-size
  // estimate so the two can never disagree about what survives
  private def keptEntries(dirs: Seq[String], meta: Map[String, String],
      windows: Seq[(String, Long, Long)],
      partPreds: Seq[(String, Option[String] => Boolean)]): Seq[String] =
    dirs.filter { d =>
      windows.forall { case (c, lo, hi) =>
        meta.get(statsKey(c, d)) match {
          case Some(s) =>
            val parts = s.split(",")
            parts(1).toLong >= lo && parts(0).toLong <= hi
          case None => true
        }
      } && partPreds.forall { case (c, test) =>
        partValueOf(d, c).forall(test)
      }
    }

  /** PLANNER STATISTICS for a (possibly pruned) snapshot scan: the
    * on-disk bytes of exactly the generations the same skipping decision
    * keeps ([[keptEntries]] — stats windows ∧ partition-token tests).
    * Feeds the catalog scan's `SupportsReportStatistics`, which is what
    * lets Catalyst SIZE a versioned-table scan instead of assuming the
    * worst: a dimension table (or a pruned slice of a fact table) whose
    * true bytes sit under the broadcast threshold plans as a broadcast
    * join rather than a full shuffle — at 100 TB the difference between
    * shuffling the fact table and shipping the dim. Cost: one manifest
    * read + one file listing per kept generation (metadata-sized; a
    * production manifest would carry per-file sizes and skip the
    * listing). Returns (bytes, kept, total).
    */
  def scanSizeBytes(spark: SparkSession, root: String, v: Option[Long],
      windows: Seq[(String, Long, Long)],
      partPreds: Seq[(String, Option[String] => Boolean)]): (Long, Int, Int) = {
    val Snapshot(_, dirs, meta) = snapshot(spark, root, v)
    val kept = keptEntries(dirs, meta, windows, partPreds)
    // per-file manifest records (r18) answer the whole estimate from
    // the manifest read already paid — ZERO listing RPCs — and apply
    // the SAME file-level pruning decision the read will make
    // ([[prunedFilesOf]]), so plan-time bytes and runtime files agree
    // at file granularity. Entries without records (pre-r18 history)
    // take the listing path below.
    val (recorded, unrecorded) = kept.partition(d =>
      recordedFiles(meta, d).isDefined)
    val recordedBytes = recorded.map { d =>
      val files = recordedFiles(meta, d).get
      prunedFilesOf(meta, d, windows) match {
        case Some(names) =>
          val keep = names.toSet
          files.collect { case (n, b, _) if keep.contains(n) => b }.sum
        case None => files.map(_._2).sum
      }
    }.sum
    if (unrecorded.isEmpty) return (recordedBytes, kept.size, dirs.size)
    val hfs = fs(spark, root)
    // a committed generation's files are immutable, so (root, dir)
    // bytes are cacheable forever — planning the same table in a loop
    // (optimizer fixed points, repeated queries) must not re-list the
    // same directories against an object store every time. Misses are
    // measured CONCURRENTLY (bounded pool): serial getContentSummary
    // calls would cost O(entries × RTT) on an object store.
    def measure(d: String): Long = {
      val p = new Path(root, d)
      // vanished dir (racing vacuum of an old snapshot) = zero bytes; a
      // separate exists() probe would double the metadata RPCs
      val b = try hfs.getContentSummary(p).getLength
        catch { case _: java.io.FileNotFoundException => 0L }
      entryBytesCache.put((root, d), b)
      b
    }
    val (hits, misses) = unrecorded.map(d => d -> entryBytesCache.get((root, d)))
      .partition(_._2.isDefined)
    val missBytes =
      if (misses.size <= 1) misses.map { case (d, _) => measure(d) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, misses.size))
        try misses.map { case (d, _) =>
          pool.submit(new java.util.concurrent.Callable[java.lang.Long] {
            override def call(): java.lang.Long = measure(d)
          })
        }.map(_.get().longValue)
        finally pool.shutdown()
      }
    val bytes = recordedBytes + hits.flatMap(_._2).sum + missBytes.sum
    (bytes, kept.size, dirs.size)
  }

  /** Row count of the (possibly pruned) snapshot scan, from the `rows`
    * field of the extended stats headers — the numRows half of the
    * planner statistics ([[scanSizeBytes]] is the bytes half). None
    * when any kept file-bearing generation carries no tracked header
    * (no guess is better than a wrong row count). One manifest read.
    */
  def scanRowCount(spark: SparkSession, root: String, v: Option[Long],
      windows: Seq[(String, Long, Long)],
      partPreds: Seq[(String, Option[String] => Boolean)]): Option[Long] = {
    val vs = versions(spark, root)
    if (vs.isEmpty) return None
    val ver = v.getOrElse(vs.last)
    if (!vs.contains(ver)) return None
    val (dirs, meta) = manifestOf(spark, root, ver)
    entriesRowCount(spark, root, meta,
      keptEntries(dirs, meta, windows, partPreds))
  }

  // bounded LRU of per-generation on-disk bytes (metadata, ~bytes per
  // entry). Keyed (root, entryDir): generations are immutable once
  // committed — vacuum only ever deletes dirs that no current read keeps
  private val entryBytesCache = new Lru[(String, String), Long](4096)

  /** COMPACTION as a commit: rewrite the latest snapshot's generations
    * into ONE new generation and publish it as a REWRITE commit
    * (`#rewrite=true` — the dataChange=false idea): logical content
    * identical, physical layout compacted, and [[readChanges]] skips it so
    * downstream incremental consumers see no phantom changes. Conflict
    * safety differs from [[commit]] ON PURPOSE: the manifest is published
    * ONLY at base+1 — retrying at a later version would silently drop a
    * concurrent writer's rows, so on a publish loss compaction ABORTS and
    * reclaims its orphan generation. Compaction is maintenance; losing is
    * always safe, the caller just runs it again. Returns the new version,
    * or None when already compact / lost the race.
    *
    * `statsCol` re-records data-skipping bounds for the compacted
    * generation (the rewrite replaces every stats-carrying dir, so
    * without it the table loses skipping until the next stats commit).
    * `raceHook` is a race-injection seam for specs: it runs after the
    * base snapshot is read and before this compaction publishes — the
    * window where a concurrent writer's commit forces the abort path.
    */
  def compact(spark: SparkSession, root: String,
      statsCol: Option[String] = None,
      raceHook: () => Unit = () => ()): Option[Long] = {
    val base @ Snapshot(_, baseDirs, baseMeta) = snapshot(spark, root, None)
    // one generation and no tombstones — already compact; with
    // outstanding deletion vectors, drop-column tombstones or widen
    // casts compaction is still meaningful even at one generation: it
    // MATERIALIZES the deletes / PURGES the dropped column's bytes /
    // makes the widened type physical (the rewrite reads the logical
    // view, so the new files carry none of the three)
    if (baseDirs.size <= 1 && dvHeadersOf(baseMeta).isEmpty &&
        droppedNamesOf(tablePropsOf(baseMeta)).isEmpty &&
        widensOf(baseMeta).isEmpty) return None
    val df = applyDvs(spark, root, baseMeta,
      readDirs(spark, root, baseDirs, baseMeta))
    raceHook()
    val gen = writeGeneration(spark, root, df,
      partitionFieldsOf(tablePropsOf(baseMeta)),
      bloomCols = bloomColsOf(tablePropsOf(baseMeta)),
      obsCols = statsCol.toSeq)
    val entries = genEntries(spark, root, gen)
    // a FULL rewrite replaces every file, so no file carries a dropped
    // column any more — clear the dropcol tombstones, freeing the names
    // for re-ADD (the incremental compactSmall keeps them: its carried
    // bulk generations may still hold the bytes). Widen casts clear the
    // same way: the rewrite read the widened view, so the new files are
    // physically wide and need no cast.
    val headers = Map("rewrite" -> "true") ++
      propHeadersOf(baseMeta).filterNot(h =>
        h._1.startsWith("prop:dropcol.") || h._1.startsWith("prop:widen.")) ++
      genStatsForEntries(spark, root, entries, statsCol.toSeq)
    publish(spark, root, base, Seq(gen), AtBase)(_ => Some((entries, headers)))
      .map(_.v)
  }

  /** INCREMENTAL small-file compaction — the everyday maintenance
    * operation at scale, where [[compact]]'s full rewrite is the
    * emergency tool: coalesce ONLY the generations smaller than
    * `smallBytes` into one, carrying every large generation verbatim.
    * A 100 TB table ingesting micro-batches accumulates a long tail of
    * small generations; rewriting that tail costs O(small files) while
    * the table's bulk never enters the plan — run it on a schedule and
    * scan costs stay flat without ever paying an O(table) rewrite.
    *
    * Rewritten rows read THROUGH the outstanding deletion vectors (their
    * tombstoned rows die physically), and the `dv:` headers are KEPT —
    * they still apply to the untouched generations, and re-anti-joining
    * already-removed keys is a no-op, so the key-wide tombstone
    * semantics ([[deleteWhereMor]]) are preserved exactly; only a FULL
    * [[compact]]/[[optimize]] clears them. Published `#rewrite=true`
    * (content is unchanged, so change feeds skip it), stats headers of
    * carried generations ride along, abort-on-loss under concurrency.
    * Returns Some(version, rewritten, carried) — with fewer than two
    * small generations there is nothing to gain and the call is a
    * reported no-op at the current version.
    */
  def compactSmall(spark: SparkSession, root: String, smallBytes: Long,
      statsCol: Option[String] = None,
      raceHook: () => Unit = () => ()): Option[(Long, Int, Int)] = {
    require(smallBytes > 0, "compactSmall: smallBytes must be positive")
    val base @ Snapshot(baseV, baseDirs, baseMeta) = snapshot(spark, root, None)
    val hfs = fs(spark, root)
    val small = baseDirs.filter(d =>
      hfs.getContentSummary(new Path(root, d)).getLength < smallBytes)
    if (small.size < 2) return Some((baseV, 0, baseDirs.size))
    val kept = baseDirs.filterNot(small.contains)
    val df = applyDvs(spark, root, baseMeta,
      readDirs(spark, root, small, baseMeta))
    raceHook()
    val gen = writeGeneration(spark, root, df,
      partitionFieldsOf(tablePropsOf(baseMeta)),
      bloomCols = bloomColsOf(tablePropsOf(baseMeta)),
      obsCols = statsCol.toSeq)
    val entries = genEntries(spark, root, gen)
    val headers = Map("rewrite" -> "true") ++ carriedStats(baseMeta, kept) ++
      dvHeadersOf(baseMeta) ++ propHeadersOf(baseMeta) ++
      genStatsForEntries(spark, root, entries, statsCol.toSeq)
    publish(spark, root, base, Seq(gen), AtBase)(_ => Some((kept ++ entries, headers)))
      .map(p => (p.v, small.size, kept.size))
  }

  /** Read a set of generation dirs as ONE frame, aligning columns BY NAME
    * across schema drift: a table whose later commits added columns holds
    * generations with different (compatible) schemas, and a positional or
    * sampled-schema parquet read would silently drop or misassign the new
    * columns. `meta` is the owning snapshot's manifest headers — the two
    * header-driven read adaptations derive from it:
    *
    *  - EXISTENCE DEFAULTS (`default.<col>` properties): generations
    *    missing a defaulted column read the constant instead of NULL.
    *  - COLUMN NAME MAPPING (`colmap.<physical>=<logical>` properties,
    *    the RENAME COLUMN device): generations still carrying a
    *    column's pre-rename PHYSICAL name read it under the logical
    *    name — rename is a metadata-only commit, no file is rewritten.
    *
    * Fast path: when every generation has the same RAW schema (the
    * overwhelmingly common case), one multi-path scan — a single
    * FileSourceScan, so file coalescing and pushdown behave exactly as
    * before (the rename applies uniformly above it). Drifted path:
    * per-generation scans folded with `unionByName(allowMissingColumns)`
    * — older generations read the missing columns as NULL (the q90
    * idiom applied to the table format). The per-dir schema probe reads
    * parquet FOOTERS only, not data.
    */
  private def readDirs(spark: SparkSession, root: String,
      dirs: Seq[String],
      meta: Map[String, String] = Map.empty): DataFrame = {
    val defaults = defaultsOf(meta)
    val colmap = colmapOf(meta)
    // DROPPED COLUMNS (`dropcol.<physical>` properties, the DROP COLUMN
    // device): generations written before the drop still physically
    // carry the column — reads PROJECT it away (a metadata-only drop, no
    // file rewritten); pre-drop snapshots predate the property and keep
    // reading it. The physical name stays reserved until a full
    // compact/optimize purges the files and clears the property.
    val dropped = droppedNamesOf(tablePropsOf(meta))
    def stripped(s: StructType): StructType = StructType(s.filterNot(f =>
      dropped.exists(_.equalsIgnoreCase(f.name))))
    def remap(f: DataFrame): DataFrame =
      colmap.foldLeft(f) { case (d, (phys, logi)) =>
        d.columns.find(_.equalsIgnoreCase(phys)) match {
          case Some(raw) if !d.columns.exists(_.equalsIgnoreCase(logi)) =>
            d.withColumnRenamed(raw, logi)
          case _ => d
        }
      }
    val paths = dirs.map(d => new Path(root, d).toString)
    // schema probing is per GENERATION, not per entry: every leaf of one
    // generation shares the write schema by construction (one routed
    // write), while a day-partitioned snapshot lists THOUSANDS of leaf
    // entries — per-leaf probing made every read O(leaves) driver-side
    // relation builds (measured: minutes against a 2,400-leaf table).
    // One representative leaf per generation keeps the probe O(commits),
    // and the probe result is CACHED per (root, entry) — a committed
    // generation is immutable, so its raw schema can never change, while
    // a lifecycle (time travel, CDC, merge chains) re-reads the same
    // generations dozens of times and each uncached probe costs a
    // ~25 ms schema-inference job plus its scheduling gap (measured in
    // this round's job profiles: ~30 probe jobs inside one SQL MERGE
    // lifecycle). The probed schema also feeds the actual reads below as
    // an EXPLICIT schema, so the data scan's relation build skips its
    // own inference job too.
    val genGroups: Seq[Seq[String]] = dirs.map(genPrefixOf).distinct
      .map(g => dirs.filter(e => genPrefixOf(e) == g))
    val repSchemas = genGroups.map(g => genSchemaCached(spark, root, g.head))
    // schemas compare POST-drop: a pre-drop and a post-drop generation
    // are byte-different but read identically, and falling to the
    // drifted path for that would cost the single-scan fast path on
    // every dropped-column table until compaction
    val rawSame = repSchemas.map(stripped).distinct.size <= 1
    // existence defaults only matter for generations MISSING a defaulted
    // column; when every generation carries them all, the single
    // multi-path scan fast path stays intact
    val needDefaults = defaults.nonEmpty && repSchemas.exists(s =>
      defaults.keys.exists(c => !s.exists(_.name.equalsIgnoreCase(c))))
    // TYPE WIDENING (`widen.<col>` properties): cast last, after
    // remap/defaults, so every generation — narrow pre-widen files, wide
    // post-widen files, defaulted absences — serves ONE logical type. A
    // cast to the column's own type is a no-op Catalyst elides, so the
    // fold costs nothing on unwidened tables. Note rawSame still compares
    // PHYSICAL schemas: a mixed narrow/wide multi-path scan would feed
    // the vectorized reader a footer type it cannot convert, so mixed
    // eras take the per-generation path and unify through unionByName.
    val widens = widensOf(meta)
    def widen(f: DataFrame): DataFrame =
      widens.foldLeft(f) { case (d, (c, t)) =>
        d.columns.find(_.equalsIgnoreCase(c))
          .map(cc => d.withColumn(cc, col(cc).cast(t))).getOrElse(d)
      }
    if (rawSame && !needDefaults)
      // reading with the (stripped) probed schema IS the strip: files
      // still carrying a dropped column simply never materialize it —
      // and the explicit schema skips the scan's own inference pass
      widen(remap(spark.read.schema(stripped(repSchemas.head))
        .parquet(paths: _*)))
    else widen(genGroups.zip(repSchemas).map { case (g, rs) =>
      // drifted path: one multi-path scan PER GENERATION (schemas are
      // uniform within one), defaults filled where the generation lacks
      // the column, then by-name union across generations
      val f = remap(spark.read.schema(stripped(rs)).parquet(
        g.map(d => new Path(root, d).toString): _*))
      defaults.foldLeft(f) { case (d, (c, e)) =>
        if (d.columns.exists(_.equalsIgnoreCase(c))) d
        else d.withColumn(c, expr(e))
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  // immutable-generation schema cache: a published generation's files
  // never change, so the raw schema probed once serves every later read
  // of any snapshot that references it. Misses pay one driver-side
  // footer read (probeGenSchema); FileNotFound (vacuumed dir)
  // propagates uncached, like the uncached probe did. Keyed by the
  // ENTRY dir (leaf for routed generations) — callers always probe one
  // representative entry. KNOWN ASSUMPTION (documented, accepted): the
  // cache has no invalidation, so a table DROPPED and RECREATED at the
  // same root could serve a stale schema iff a fresh generation's
  // 8-hex-UUID dir name collided with a cached one from the old table
  // — practically unreachable, and a single-session engine by contract.
  // The cached schema also bakes in the session read config that shapes
  // it (`nanosAsLong`, the time zone): correct because every graft
  // session is built by [[graft.GraftSession]], the one place both are
  // pinned; a JVM mixing sessions with other values would need the cache
  // keyed by them.
  private val genSchemaCache = new Lru[(String, String), StructType](4096)

  private def genSchemaCached(spark: SparkSession, root: String,
      entry: String): StructType =
    genSchemaCache.getOrElseUpdate((root, entry))(
      probeGenSchema(spark, root, entry))

  // one cache MISS's schema probe, as a driver-side footer read instead
  // of a Spark job (r19): every generation is written by THIS engine's
  // Spark writers, so its files carry the writer's serialized Spark
  // schema in the footer key-value metadata — the exact source
  // `spark.read.parquet`'s inference prefers for Spark-written files —
  // and one ~ms footer open replaces the ~30 ms inference JOB plus its
  // scheduling gap (a multi-commit lifecycle pays one miss per fresh
  // generation; measured ~12 probe jobs inside one q151 run). Any
  // surprise — vanished dir, footer-less file, foreign parquet without
  // the key — falls back to the real inference probe, which reproduces
  // the legacy behavior (including the exception a vacuumed dir throws).
  private def probeGenSchema(spark: SparkSession, root: String,
      entry: String): StructType = {
    val fast =
      try {
        val dir = new Path(root, entry)
        val first = fs(spark, root).listStatus(dir).toSeq
          .filter(st => st.isFile && {
            val n = st.getPath.getName
            n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
          }).sortBy(_.getPath.getName).headOption
        first.flatMap { st =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              st.getPath, spark.sparkContext.hadoopConfiguration))
          try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
              .get("org.apache.spark.sql.parquet.row.metadata"))
            .map(json => org.apache.spark.sql.types.DataType.fromJson(json)
              .asInstanceOf[StructType])
          finally reader.close()
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    fast.getOrElse(
      spark.read.parquet(new Path(root, entry).toString).schema)
  }

  /** lakehouse `OPTIMIZE [ZORDER BY]` as a FIRST-CLASS REWRITE COMMIT:
    * rewrite the latest snapshot's generations into ONE clustered
    * generation — [[Compaction.clusterLayout]]'s range-partition +
    * in-file sort, sized to ~`targetBytes` files from the real on-disk
    * bytes — and publish it with `#rewrite=true`. Content is identical,
    * so [[readChanges]] skips the commit and downstream incremental
    * consumers see nothing; layout is clustered, so parquet min/max
    * stats prune scans on the clustered dimensions (two `clusterCols` →
    * the Morton z-order interleave, one → a plain sort key).
    *
    * Unlike directory-level [[Compaction]] — whose [[AtomicDirSwap]]
    * protocol demands a SINGLE-writer contract because two swaps racing
    * on one path can lose a generation — the versioned publish is safe
    * under concurrency by [[compact]]'s abort-on-loss rule: publish only
    * at base+1, and when a concurrent append wins, abort, reclaim the
    * orphan, return None; OPTIMIZE is maintenance and just runs again.
    */
  // the OPTIMIZE cluster key: two columns → Morton z-order interleave,
  // one → a plain sort key (shared by whole-table and partition-scoped)
  private def clusterKeyFn(clusterCols: Seq[String])
      : String => DataFrame => DataFrame = clusterCols match {
    case Seq(x, y) => key => _.withColumn(key, ScalePatterns.mortonKey(
      pmod(col(x), lit(65536L)), pmod(col(y), lit(65536L))))
    case Seq(s) => key => _.withColumn(key, col(s))
    case other => throw new IllegalArgumentException(
      s"optimize: 1 sort column or 2 z-order columns, got $other")
  }

  def optimize(spark: SparkSession, root: String, clusterCols: Seq[String],
      targetBytes: Long, statsCol: Option[String] = None,
      raceHook: () => Unit = () => ())
      : Option[(Long, Compaction.Stats)] = {
    require(clusterCols.nonEmpty && clusterCols.size <= 2,
      "optimize: 1 sort column or 2 z-order columns")
    require(targetBytes > 0, "optimize: targetBytes must be positive")
    val base @ Snapshot(_, baseDirs, baseMeta) = snapshot(spark, root, None)
    val hfs = fs(spark, root)
    // size from the raw generations (DV key lists are negligible), but
    // cluster and publish the DV-APPLIED content — OPTIMIZE, like
    // compact, materializes outstanding tombstones into the rewrite
    val raw = readDirs(spark, root, baseDirs, baseMeta)
    val df = applyDvs(spark, root, baseMeta, raw)
    val files = raw.inputFiles
    val totalBytes = files.map(f =>
      hfs.getFileStatus(new Path(f)).getLen).sum
    val nFiles = math.max(1, ((totalBytes + targetBytes - 1) / targetBytes).toInt)
    val withKey = clusterKeyFn(clusterCols)
    val clustered = Compaction.clusterLayout(df, withKey, nFiles)
    val rows = df.count() // pre-rewrite generation; same rows by construction
    raceHook()
    val gen = writeGeneration(spark, root, clustered,
      partitionFieldsOf(tablePropsOf(baseMeta)), preserveLayout = true,
      bloomCols = bloomColsOf(tablePropsOf(baseMeta)),
      obsCols = statsCol.toSeq)
    val entries = genEntries(spark, root, gen)
    val headers = Map("rewrite" -> "true") ++
      // full rewrite: dropped columns' bytes are purged and widened
      // columns are physically wide — clear both (the compact() rule)
      propHeadersOf(baseMeta).filterNot(h =>
        h._1.startsWith("prop:dropcol.") || h._1.startsWith("prop:widen.")) ++
      genStatsForEntries(spark, root, entries, statsCol.toSeq)
    publish(spark, root, base, Seq(gen), AtBase)(_ => Some((entries, headers)))
      .map(p => (p.v,
        Compaction.Stats(files.length, partFileCount(spark, root, entries), rows)))
  }

  // the data files a rewrite's fresh entries hold
  private def partFileCount(spark: SparkSession, root: String,
      entries: Seq[String]): Int =
    entries.map(e => fs(spark, root).listStatus(new Path(root, e))
      .count(st => st.isFile && st.getPath.getName.startsWith("part-"))).sum

  /** PARTITION-SCOPED OPTIMIZE — the production maintenance cadence at
    * scale: a 100 TB table never runs a whole-table rewrite; it
    * re-clusters YESTERDAY'S partition every night while the other
    * partitions ride along untouched. `partSpec` is the subscription
    * surface's `field=token` syntax ([[readAtPartition]]); only the
    * manifest entries whose `__p_<field>=<token>` path segment PROVES
    * membership rewrite — one [[Compaction.clusterLayout]] pass over
    * the slice, sized from its real bytes — and every other entry
    * carries verbatim with its stats headers. Cost: O(partition), never
    * O(table).
    *
    * Carry discipline follows [[compactSmall]], not [[optimize]]:
    * `dv:` headers are KEPT (they still apply to carried generations;
    * the rewritten slice reads through them, and re-anti-joining
    * removed keys is a no-op), and `dropcol.`/`widen.` properties are
    * KEPT (carried generations still hold the old bytes — only a FULL
    * rewrite may clear them). Generations WITHOUT the field's path
    * segment (pre-partitioning eras, other-spec eras) are not provably
    * in the partition and stay carried — re-clustering them needs the
    * whole-table [[optimize]]. Published `#rewrite=true` (change feeds
    * skip it), abort-on-loss under concurrency (publish only at
    * base+1). Returns Some(version, rewritten entries, carried entries,
    * slice file stats) — a no-op at the current version when nothing
    * matches.
    */
  def optimizePartition(spark: SparkSession, root: String,
      partSpec: String, clusterCols: Seq[String], targetBytes: Long,
      statsCol: Option[String] = None,
      raceHook: () => Unit = () => ())
      : Option[(Long, Int, Int, Compaction.Stats)] = {
    require(clusterCols.nonEmpty && clusterCols.size <= 2,
      "optimizePartition: 1 sort column or 2 z-order columns")
    require(targetBytes > 0, "optimizePartition: targetBytes must be positive")
    val base @ Snapshot(baseV, baseDirs, baseMeta) = snapshot(spark, root, None)
    val (field, token) = boundPartSpec(baseMeta, partSpec)
    val hit = baseDirs.filter(d =>
      partValueOf(d, field.name).contains(Some(token)))
    if (hit.isEmpty)
      return Some((baseV, 0, baseDirs.size, Compaction.Stats(0, 0, 0L)))
    val hitSet = hit.toSet
    val kept = baseDirs.filterNot(hitSet)
    val hfs = fs(spark, root)
    val raw = readDirs(spark, root, hit, baseMeta)
    val df = applyDvs(spark, root, baseMeta, raw)
    val sliceFiles = raw.inputFiles
    val sliceBytes = sliceFiles.map(f =>
      hfs.getFileStatus(new Path(f)).getLen).sum
    val nFiles = math.max(1,
      ((sliceBytes + targetBytes - 1) / targetBytes).toInt)
    val clustered = Compaction.clusterLayout(df, clusterKeyFn(clusterCols),
      nFiles)
    val rows = df.count()
    raceHook()
    val gen = writeGeneration(spark, root, clustered,
      partitionFieldsOf(tablePropsOf(baseMeta)), preserveLayout = true,
      bloomCols = bloomColsOf(tablePropsOf(baseMeta)),
      obsCols = statsCol.toSeq)
    val entries = genEntries(spark, root, gen)
    val headers = Map("rewrite" -> "true") ++ carriedStats(baseMeta, kept) ++
      dvHeadersOf(baseMeta) ++ propHeadersOf(baseMeta) ++
      genStatsForEntries(spark, root, entries, statsCol.toSeq)
    publish(spark, root, base, Seq(gen), AtBase)(_ => Some((kept ++ entries, headers)))
      .map(p => (p.v, hit.size, kept.size,
        Compaction.Stats(sliceFiles.length, partFileCount(spark, root, entries), rows)))
  }

  /** MERGE / UPSERT as COPY-ON-WRITE at generation granularity: rows of
    * `source` replace same-key rows of the latest snapshot (WHEN MATCHED
    * THEN UPDATE SET *), unmatched source rows are inserted (WHEN NOT
    * MATCHED THEN INSERT *). Only generations that actually CONTAIN a
    * matched key are rewritten — untouched generations carry over into
    * the new manifest verbatim, so merge cost scales with the touched
    * fraction of the table, not the table size (the Delta/Iceberg
    * copy-on-write economics: at 100 TB a 0.1% update rewrites ~0.1% of
    * the files, not the table). Touch detection is ONE key-column scan of
    * the snapshot semi-joined against the broadcast source keys and
    * grouped by `input_file_name` — parquet column pruning makes it a
    * key-column read; a production variant would consult footer min/max
    * stats or bloom filters first and skip the scan for provably-clean
    * files (see [[Formats.bloomWrite]]).
    *
    * The new manifest DROPS the touched dirs — a data-changing overwrite
    * — so like [[compact]] it publishes only at base+1 and returns None
    * on a concurrency loss (retrying at a later version could silently
    * drop a concurrent append; the caller re-runs the merge against the
    * new snapshot). [[readChanges]] correctly refuses to feed across a
    * merge commit: generation-level deltas cannot express row updates.
    * Returns Some(new version, touched gen count, carried gen count).
    *
    * Carried generations KEEP their recorded data-skipping bounds (the
    * new manifest re-carries their `stats:` headers); `statsCol` records
    * bounds for the rewritten generation. `raceHook` is a race-injection
    * seam for specs: it runs after the base manifest is read and before
    * this merge publishes — the window where a concurrent writer's
    * commit forces the abort path.
    */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
      keyCol: String, statsCol: Option[String] = None,
      schemaEvolution: Boolean = false,
      raceHook: () => Unit = () => ()): Option[(Long, Int, Int)] = {
    val base @ Snapshot(baseV, dirs, baseMeta) = snapshot(spark, root, None)
    requireFoldableDvs(baseMeta, keyCol) // refuse mixed-key DVs up front
    // MERGE SCHEMA EVOLUTION (Delta's autoMerge, behind an explicit
    // flag): source columns the table lacks fold the widen INTO the
    // merge commit — the rewritten generation lands wide, untouched
    // generations read the new columns as NULL (the readDirs by-name
    // contract), and time travel before the merge keeps the narrow
    // schema. Off by default: a silently widening typo'd column is the
    // classic ingestion footgun, so extra columns refuse loudly unless
    // the caller opted in. The relation is built ONCE and reused for
    // the gate's column list and the touch-detection scan below.
    val rawAll = readDirs(spark, root, dirs, baseMeta)
    val extra = source.schema.filterNot(f =>
      rawAll.columns.exists(_.equalsIgnoreCase(f.name)))
    require(schemaEvolution || extra.isEmpty,
      s"mergeInto: source carries column(s) ${extra.map(_.name)
        .mkString(",")} the table lacks — pass schemaEvolution = true " +
        "to widen in the merge commit, or drop them")
    if (extra.nonEmpty) {
      // the addColumns hygiene applies to merge-evolved columns too
      val historic = colmapOf(baseMeta).keys.toSeq ++
        droppedNamesOf(tablePropsOf(baseMeta))
      val shadow = extra.map(_.name).filter(c =>
        historic.exists(_.equalsIgnoreCase(c)))
      require(shadow.isEmpty,
        s"mergeInto: ${shadow.mkString(",")} is a historical physical " +
          "name of a renamed or dropped column — generations still " +
          "carry it; pick a fresh name")
    }
    val srcKeys = source.select(col(keyCol)).distinct()
    // which generation dirs hold at least one source key — over the RAW
    // scan on purpose: a generation whose only copy of a source key is
    // TOMBSTONED must still rewrite, or re-inserting that key (after the
    // fold below clears its tombstone) would resurrect the stale row
    // alongside the new one
    val touchedGens = rawAll
      .select(col(keyCol), input_file_name().as("_file"))
      .join(broadcast(srcKeys), Seq(keyCol), "left_semi")
      .select(col("_file")).distinct().collect()
      .map(r => genOfFile(r.getString(0))).toSet
    val touched = dirs.filter(d => touchedGens.contains(genPrefixOf(d)))
    // survivors of the touched generations — read THROUGH the
    // outstanding DVs, so their tombstoned rows die physically in the
    // rewrite — plus the full source (updates land with their new
    // values, inserts land as new keys) become ONE new generation; a
    // pure-insert merge (no touched gens) is just the source itself
    val merged =
      if (touched.isEmpty) source
      else applyDvs(spark, root, baseMeta,
          readDirs(spark, root, touched, baseMeta))
        .join(broadcast(srcKeys), Seq(keyCol), "left_anti")
        // with evolution on, surviving rows read the source-only
        // columns as NULL; without it the union stays strict (a
        // width mismatch that survived the gate above is a bug)
        .unionByName(source, allowMissingColumns = schemaEvolution)
    raceHook()
    val gen = writeGeneration(spark, root, merged,
      partitionFieldsAt(spark, root), bloomCols = bloomColsAt(spark, root),
      obsCols = statsCol.toSeq)
    val entries = genEntries(spark, root, gen)
    validateGeneration(spark, root, gen, entries)
    // fold the tombstones AFTER the aborting validations (they reclaim
    // only `gen` — a pre-written fold generation would leak): source
    // keys become visible again (the merge writes their authoritative
    // rows), every other key stays deleted. The mixed-key precondition
    // was checked before anything was written.
    val (dvNew, dvGen) = foldDvs(spark, root, baseMeta, keyCol, srcKeys)
    publishRowLevel(spark, root, base, touched, gen +: dvGen.toSeq, entries,
      Map("merge" -> "true"), dvNew,
      genStatsForEntries(spark, root, entries, statsCol.toSeq),
      keyCol, srcKeys).map { case (v, carried) => (v, touched.size, carried) }
  }

  /** Publish a copy-on-write row-level commit at base+1, or — when
    * commits landed past the base — by a KEY-DISJOINT REBASE (r18, the
    * Delta/Iceberg logical-conflict resolution): the commit may land at
    * tip+1 instead of aborting when EVERY intervening commit is itself
    * a row-level copy-on-write commit (merge/update/delete) that is
    * provably disjoint from this statement —
    *   - its rewritten (removed) dirs avoid OUR touched dirs (our
    *     staged generation baked in the base content of exactly those
    *     dirs, so a same-dir intervener would be silently undone), and
    *   - its changed dirs (removed ∪ added) contain NONE of our row-id
    *     keys (one narrow key-column scan of just the intervener's
    *     delta — O(their touched data); an overlapping key means the
    *     statements really do conflict), and
    *   - no deletion vectors anywhere in the window (tombstone folds
    *     compose by key-SET, not key-disjointness — abort as before).
    * Anything else — appends (which may carry our keys), overwrites,
    * restores, MoR deletes, metadata rewrites — aborts exactly as
    * before: the caller re-runs against the new snapshot. On rebase the
    * carried set is recomputed from the TIP (the interveners' rewrites
    * survive), so history stays linear with both statements applied.
    * Returns Some((version, carried count)) or None.
    */
  private def publishRowLevel(spark: SparkSession, root: String,
      base: Snapshot, touched: Seq[String], wrote: Seq[String],
      entries: Seq[String], kindHeaders: Map[String, String],
      dvNew: Map[String, String], genStats: Map[String, String],
      keyCol: String, ourKeys: DataFrame): Option[(Long, Int)] = {
    val ourTouched = touched.toSet
    val keys = ourKeys.select(col(keyCol))
    val disjoint = PastIf(i =>
      dvHeadersOf(base.meta).isEmpty && dvHeadersOf(i.snap.meta).isEmpty &&
        Set("merge", "update", "delete").contains(i.kind) &&
        i.removed.forall(d => !ourTouched.contains(d)) && {
          val delta = (i.removed ++ i.added).distinct
          delta.isEmpty || readDirs(spark, root, delta, i.snap.meta)
            .select(col(keyCol))
            .join(broadcast(keys), Seq(keyCol), "left_semi")
            .isEmpty
        })
    publish(spark, root, base, wrote, disjoint) { tip =>
      val carried = tip.dirs.filterNot(ourTouched.contains)
      Some((carried ++ entries, kindHeaders ++ carriedStats(tip.meta, carried) ++
        propHeadersOf(tip.meta) ++ dvNew ++ genStats))
    }.map(p => (p.v, p.dirs.size - entries.size))
  }

  /** Apply an explicit ROW-LEVEL DELTA — row-id keys to delete plus rows
    * to insert — as ONE copy-on-write commit at generation granularity.
    * This is the commit primitive behind the SQL row-level statements
    * (UPDATE / MERGE INTO / arbitrary-predicate DELETE): Spark's
    * delta-based rewrite turns each statement into per-row delete/insert
    * operations against the declared row-id column, the connector stages
    * them, and this publishes the result. Same economics as
    * [[mergeInto]]: only generations containing a deleted key rewrite
    * (anti-join against the broadcast key set), untouched generations
    * carry over verbatim, inserts land in the fresh generation — cost
    * scales with the touched fraction, not the table.
    *
    * THE ROW-ID CONTRACT IS ENFORCED, NOT ASSUMED: the caller passes one
    * key per delete OPERATION (`deleteKeys` keeps duplicates), and the
    * number of snapshot rows carrying a deleted key must equal the
    * operation count — otherwise the declared key does not uniquely
    * identify the targeted rows (deleting by key would silently remove
    * innocent same-key neighbors) and the commit ABORTS loudly. The
    * check rides the same narrow key-column scan that detects touched
    * generations, so it costs no extra pass. NULL keys abort for the
    * [[deleteWhereMor]] reason: an equality anti-join can never remove
    * them.
    *
    * Publishes only at base+1 (a retry past a concurrent commit would
    * apply a delta computed against a stale snapshot); `kindHeader`
    * stamps the originating statement (`merge` / `update` / `delete`)
    * into the manifest for [[commitKind]]. Returns Some(new version,
    * touched gens, carried gens) or None on a concurrency loss.
    */
  def applyRowDelta(spark: SparkSession, root: String, deleteKeys: DataFrame,
      inserts: DataFrame, keyCol: String, kindHeader: String = "merge",
      statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      raceHook: () => Unit = () => ()): Option[(Long, Int, Int)] = {
    require(Set("merge", "update", "delete").contains(kindHeader),
      s"applyRowDelta: unknown kind '$kindHeader'")
    val base @ Snapshot(baseV, dirs, baseMeta) = snapshot(spark, root, None)
    val delStats = deleteKeys.agg(
      count(lit(1)), count(when(col(keyCol).isNull, 1))).head()
    val (nOps, nNullKeys) = (delStats.getLong(0), delStats.getLong(1))
    require(nNullKeys == 0,
      s"applyRowDelta: delete operations carry NULL $keyCol — an equality " +
        "anti-join cannot remove them; use deleteWhere (copy-on-write)")
    val keys = deleteKeys.select(col(keyCol)).distinct()
    // a pure DELETE stages no insert rows — its frame has no columns at
    // all (the statement's write schema is just the row ids)
    val hasInserts = inserts.schema.nonEmpty && !inserts.isEmpty
    val dvOut = dvHeadersOf(baseMeta).nonEmpty
    if (dvOut && hasInserts) // refuse mixed-key DVs before ANY write
      requireFoldableDvs(baseMeta, keyCol)
    val (matched, touchedGens) =
      if (!dvOut) {
        // ONE narrow key-column scan answers both questions: which
        // generations hold a deleted key (touch detection) and how many
        // snapshot rows the keys match (the row-id cardinality guard)
        val perFile =
          if (nOps == 0) Array.empty[org.apache.spark.sql.Row]
          else readDirs(spark, root, dirs, baseMeta)
            .select(col(keyCol), input_file_name().as("_file"))
            .join(broadcast(keys), Seq(keyCol), "left_semi")
            .groupBy(col("_file")).agg(count(lit(1)).as("_n")).collect()
        (perFile.map(_.getLong(1)).sum,
          perFile.map(r => genOfFile(r.getString(0))).toSet)
      } else {
        // outstanding tombstones split the two questions: the guard runs
        // over the VISIBLE snapshot (the statement's delta was planned
        // against it), while touch detection must be RAW and include the
        // INSERT keys — a generation whose only copy of an inserted key
        // is tombstoned must rewrite, or clearing that tombstone below
        // would resurrect the stale row alongside the new one
        val m =
          if (nOps == 0) 0L
          else applyDvs(spark, root, baseMeta,
              readDirs(spark, root, dirs, baseMeta))
            .join(broadcast(keys), Seq(keyCol), "left_semi").count()
        val allKeys =
          if (!hasInserts) keys
          else keys.unionByName(inserts.select(col(keyCol))).distinct()
        val tg = readDirs(spark, root, dirs, baseMeta)
          .select(col(keyCol), input_file_name().as("_file"))
          .join(broadcast(allKeys), Seq(keyCol), "left_semi")
          .select(col("_file")).distinct().collect()
          .map(r => genOfFile(r.getString(0))).toSet
        (m, tg)
      }
    require(matched == nOps,
      s"applyRowDelta: $nOps delete operation(s) matched $matched row(s) " +
        s"by $keyCol — the declared row-id column does not uniquely " +
        "identify the targeted rows; deleting by key would remove " +
        "same-key neighbors the statement never touched")
    val touched = dirs.filter(d => touchedGens.contains(genPrefixOf(d)))
    // touched generations rewrite THROUGH the DVs (their tombstoned rows
    // die physically in the rewrite)
    val survivors =
      if (touched.isEmpty) None
      else Some(applyDvs(spark, root, baseMeta,
          readDirs(spark, root, touched, baseMeta))
        .join(broadcast(keys), Seq(keyCol), "left_anti"))
    val newRows = (survivors, hasInserts) match {
      case (Some(s), true) => s.unionByName(inserts, allowMissingColumns = false)
      case (Some(s), false) => s
      case (None, _) => inserts
    }
    // a statement that deleted nothing and inserted nothing changed
    // nothing — report success without publishing an empty commit
    if (touched.isEmpty && !hasInserts) return Some((baseV, 0, dirs.size))
    raceHook()
    val gen = writeGeneration(spark, root, newRows,
      partitionFieldsAt(spark, root), bloomCols = bloomColsAt(spark, root),
      obsCols = (statsCol.toSeq ++ statsCols).distinct)
    val entries = genEntries(spark, root, gen)
    validateGeneration(spark, root, gen, entries)
    // fold the tombstones AFTER the aborting validations (they reclaim
    // only `gen`): inserted keys become visible again, every other
    // tombstone stays key-wide deleted; a pure DELETE clears nothing,
    // so the existing headers carry verbatim. The mixed-key
    // precondition was checked before anything was written.
    val (dvNew, dvGen) =
      if (!dvOut) (Map.empty[String, String], Option.empty[String])
      else if (!hasInserts) (dvHeadersOf(baseMeta), None)
      else foldDvs(spark, root, baseMeta, keyCol,
        inserts.select(col(keyCol)).distinct())
    // the statement's full row-id footprint — deletes AND inserts (a
    // concurrent insert of the SAME key must conflict, or two writers
    // land duplicate row-ids)
    val footprint =
      if (!hasInserts) keys
      else keys.unionByName(inserts.select(col(keyCol))).distinct()
    publishRowLevel(spark, root, base, touched, gen +: dvGen.toSeq, entries,
      Map(kindHeader -> "true"), dvNew,
      genStatsForEntries(spark, root, entries,
        (statsCol.toSeq ++ statsCols).distinct),
      keyCol, footprint).map { case (v, carried) => (v, touched.size, carried) }
  }

  /** DELETE WHERE as COPY-ON-WRITE at generation granularity — the
    * right-to-be-forgotten operation every stored corpus eventually owes
    * (GDPR/CCPA erasure): remove the rows matching `pred` from the latest
    * snapshot by rewriting ONLY the generations that contain a match;
    * untouched generations carry into the new manifest verbatim, so a
    * targeted erasure costs O(touched files), not O(table) — at 100 TB,
    * deleting one user's rows rewrites the handful of files holding them.
    * Touch detection is one predicate-column scan grouped by
    * `input_file_name` (the [[mergeInto]] shape; parquet column pruning
    * keeps it narrow). Old snapshots still CONTAIN the deleted rows —
    * time travel is the point of the log — so completing an erasure
    * means following up with `vacuum(keepVersions = 1, force = true)` to
    * destroy the superseded generations; the delete commit records
    * `#delete=true` so an auditor can find erasure events in the log.
    *
    * Publishes only at base+1 and returns None on a concurrency loss,
    * like [[compact]]/[[mergeInto]] — a retry could silently drop a
    * concurrent append. [[readChanges]] refuses to feed across a delete
    * commit (generation-level deltas cannot express row removal).
    * Returns Some(new version, rows deleted, touched gens, carried gens).
    */
  def deleteWhere(spark: SparkSession, root: String, pred: Column,
      statsCol: Option[String] = None,
      raceHook: () => Unit = () => ()): Option[(Long, Long, Int, Int)] = {
    val base @ Snapshot(baseV, dirs, baseMeta) = snapshot(spark, root, None)
    // a delete composes with outstanding tombstones directly: detection
    // and the rewrite both run over the DV-APPLIED view (already-hidden
    // rows need no deleting and must not resurrect in the rewrite), and
    // the dv: headers carry verbatim — they keep applying to the carried
    // generations, and re-anti-joining materialized keys is a no-op
    val touchedGens = applyDvs(spark, root, baseMeta,
        readDirs(spark, root, dirs, baseMeta)
          .withColumn("_file", input_file_name()))
      .filter(pred)
      .select(col("_file"))
      .distinct().collect()
      .map(r => genOfFile(r.getString(0))).toSet
    val touched = dirs.filter(d => touchedGens.contains(genPrefixOf(d)))
    val untouched = dirs.filterNot(touched.contains)
    if (touched.isEmpty) return Some((baseV, 0L, 0, dirs.size)) // no-op: nothing matches
    val before = applyDvs(spark, root, baseMeta,
      readDirs(spark, root, touched, baseMeta))
    // SQL DELETE semantics: remove rows where pred IS TRUE; rows where it
    // evaluates FALSE *or NULL* survive. A plain `!pred` would drop
    // NULL-evaluating rows from the rewrite (filter discards non-true),
    // silently deleting them — and layout-dependently, since NULL rows in
    // untouched generations would survive. The null-safe comparison keeps
    // exactly the non-matching rows.
    val survivors = before.filter(!(pred <=> lit(true)))
    val deleted = before.count() - survivors.count()
    raceHook()
    val gen = writeGeneration(spark, root, survivors,
      partitionFieldsAt(spark, root), bloomCols = bloomColsAt(spark, root),
      obsCols = statsCol.toSeq)
    val entries = genEntries(spark, root, gen)
    val headers = Map("delete" -> "true") ++ carriedStats(baseMeta, untouched) ++
      propHeadersOf(baseMeta) ++ dvHeadersOf(baseMeta) ++
      genStatsForEntries(spark, root, entries, statsCol.toSeq)
    publish(spark, root, base, Seq(gen), AtBase)(_ => Some((untouched ++ entries, headers)))
      .map(p => (p.v, deleted, touched.size, untouched.size))
  }

  /** Commit kind of version `v`, derived from its manifest headers and —
    * for the header-less kinds — the directory diff against the previous
    * manifest: the log IS the audit trail, so classification needs no
    * extra bookkeeping. Kinds: `create`, `append`, `overwrite`,
    * `rewrite` (compact/optimize), `merge`, `update`, `delete`,
    * `mor_delete`, `set_properties`, `add_columns`, `restore`, with
    * `txn` suffixed for stamped streaming commits.
    */
  def commitKind(spark: SparkSession, root: String, v: Long): String = {
    val vs = versions(spark, root)
    val snap = snapshotIn(spark, root, vs, Some(v))
    kindOf(vs.filter(_ < v).lastOption.map(manifestDirs(spark, root, _)),
      snap.dirs, snap.meta)
  }

  // THE commit-kind rule, a pure function of one manifest's headers and —
  // for the header-less kinds only — its predecessor's entries (None =
  // no earlier manifest in the log)
  private def kindOf(prevDirs: => Option[Seq[String]], dirs: Seq[String],
      meta: Map[String, String]): String = {
    val stamped = Seq("rewrite", "merge", "update", "delete", "mor_delete",
      "replace_partitions", "properties").find(k => meta.get(k).contains("true"))
      .map(k => if (k == "properties") "set_properties" else k)
      .orElse(meta.get("alter").filter(Set("add_columns", "rename_column",
        "widen_column", "set_partition_spec", "drop_column")))
      .orElse(Seq("tag", "wap_publish", "restore").find(meta.contains))
    val base = stamped.getOrElse(prevDirs match {
      case None => "create"
      case Some(before) => if (before.forall(dirs.contains)) "append" else "overwrite"
    })
    if (meta.contains("txnApp")) s"$base+txn" else base
  }

  /** DESCRIBE HISTORY: one row per commit — version, kind, generation
    * and outstanding-DV counts, txn stamp, commit timestamp — computed
    * from the manifests alone (one `_log` listing, one open per manifest;
    * no data touched). The operational first question on any lakehouse
    * table — "what happened to this table?" — answered from the log that
    * already records it.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    val snaps = versions(spark, root).map { v =>
      val (dirs, meta) = manifestOf(spark, root, v)
      Snapshot(v, dirs, meta)
    }
    val rows = (None +: snaps.map(s => Some(s.dirs))).zip(snaps).map {
      case (prevDirs, Snapshot(v, dirs, meta)) =>
        (v, kindOf(prevDirs, dirs, meta), dirs.size, dvHeadersOf(meta).size,
          meta.get("txnApp").orNull,
          meta.get("txnBatch").map(_.toLong),
          new java.sql.Timestamp(tsOf(spark, root, v, meta) / 1000L))
    }
    import spark.implicits._
    rows.toDF("version", "kind", "n_generations", "n_dvs",
      "txn_app", "txn_batch", "committed_at")
  }

  /** Metadata table `<t>.files`: one row per manifest entry of the
    * snapshot (tip when `v` None) — entry path, parquet file count,
    * on-disk bytes. One listing per entry, no data read; with
    * [[history]]/[[partitionSummary]]/[[refsSummary]] this is the
    * catalog's `SELECT * FROM cat.ns.t.files` surface (the
    * Iceberg/Delta metadata-table idiom).
    */
  def filesSummary(spark: SparkSession, root: String,
      v: Option[Long] = None): DataFrame = {
    val Snapshot(_, dirs, meta) = snapshot(spark, root, v)
    val hfs = fs(spark, root)
    val rows = dirs.map { d =>
      // per-file manifest records (r18): counts/bytes/rows from the one
      // manifest read, no listing; pre-r18 entries list as before
      val (nFiles, bytes) = recordedFiles(meta, d) match {
        case Some(fsRec) => (fsRec.size, fsRec.map(_._2).sum)
        case None =>
          val sts = hfs.listStatus(new Path(root, d))
            .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
          (sts.length, sts.map(_.getLen).sum)
      }
      // the entry's recorded row count: the extended stats header any
      // tracked column carries (r17: "min,max,ndv,rows"), else the
      // per-file records' sum; NULL when the generation predates both
      val recRows: Option[Long] = meta.collectFirst {
        case (k, s) if k.startsWith("stats:") &&
            decDir(k.split(":", 3)(2)) == d && s.split(",").length > 3 =>
          s.split(",")(3).toLongOption
      }.flatten
        .orElse(recordedFiles(meta, d).map(_.map(_._3).sum))
      (d, nFiles, bytes, recRows.map(java.lang.Long.valueOf).orNull)
    }
    import spark.implicits._
    rows.toDF("entry", "n_files", "bytes", "rows")
  }

  /** Metadata table `<t>.refs`: every named ref — tags (durable version
    * pointers) and live branches (with their tip) — from the manifest
    * properties and the branch ledger alone.
    */
  def refsSummary(spark: SparkSession, root: String): DataFrame = {
    val tags = tableProperties(spark, root).collect {
      case (k, v) if k.startsWith("ref.") =>
        (k.stripPrefix("ref."), "tag", v.toLong)
    }.toSeq
    val brs = branches(spark, root).map(b =>
      (b, "branch", branchVersions(spark, root, b).last))
    import spark.implicits._
    (tags ++ brs).sortBy(_._1).toDF("name", "type", "version")
  }

  /** CREATE-IF-ABSENT: publish `df` as version 1 iff the table does not
    * exist, and NEVER retry past a concurrent writer — `commit(overwrite
    * = true)` would, on a publish loss, silently clobber the racing
    * creator's table at version 2, turning two "CREATE TABLE" statements
    * into a lost update. Publishing only at v1 makes creation a
    * first-writer-wins race with a loud loser: returns true when this
    * call created the table, false when it already existed (before or by
    * losing the race — the orphan generation is reclaimed either way).
    */
  def createIfAbsent(spark: SparkSession, root: String, df: DataFrame,
      props: Map[String, String] = Map.empty): Boolean = {
    validateProps(props)
    // the spec-era ledger is written only by evolvePartitionSpec — a
    // user-seeded history would smuggle un-gated transforms into pruning
    require(!props.contains("partition.history"),
      "createIfAbsent: 'partition.history' is managed by " +
        "evolvePartitionSpec, not a creation property")
    require(!props.keys.exists(_.startsWith("dropcol.")),
      "createIfAbsent: 'dropcol.*' tombstones are managed by DROP " +
        "COLUMN, not creation properties")
    require(!props.keys.exists(_.startsWith("widen.")),
      "createIfAbsent: 'widen.*' casts are managed by ALTER COLUMN " +
        "TYPE (widenColumnType), not creation properties")
    // an API-declared layout runs the SAME transform/type gate the
    // catalog's PARTITIONED BY enforces — an unvalidated timestamp or
    // double identity column would write hive-escaped tokens the
    // pruner's renderPartitionValue never produces, silently dropping
    // matching leaves from pushed-equality reads. The stored property
    // is normalized to the resolved canonical spec.
    val fields = PartFields.validate(partitionFieldsOf(props), df.schema)
    val normProps =
      if (fields.isEmpty) props
      else props + ("partition" -> fields.map(_.spec).mkString(","))
    if (versions(spark, root).nonEmpty) return false
    val gen = writeGeneration(spark, root, df, fields,
      bloomCols = bloomColsOf(normProps))
    val entries = genEntries(spark, root, gen)
    validateGeneration(spark, root, gen, entries, extraProps = normProps)
    val headers = normProps.map { case (k, v) => s"prop:$k" -> v }
    publish(spark, root, NoSnapshot, Seq(gen), AtBase)(_ => Some((entries, headers)))
      .isDefined
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES as a METADATA-ONLY commit: the
    * new manifest keeps the base snapshot's directories and stats/dv
    * headers verbatim and only edits the `prop:` headers — no data is
    * written or moved, so altering a 100 TB table's properties costs one
    * bytes-sized manifest publish. Safe to retry past a concurrent data
    * commit (properties describe the table, not a snapshot), so like
    * [[commit]] this retries at the next version on a publish loss,
    * re-reading the new base each attempt. Stamped `#properties=true`;
    * [[readChanges]] sees no added generations, so incremental consumers
    * get an empty delta across it. Returns the committed version.
    */
  def setProperties(spark: SparkSession, root: String,
      set: Map[String, String], unset: Seq[String] = Nil,
      raceHook: () => Unit = () => ()): Long = {
    validateProps(set)
    require(unset.forall(k => !set.contains(k)),
      "setProperties: a key cannot be both set and unset")
    // the partition layout has its own VALIDATED editor
    // (evolvePartitionSpec — the ambiguity gate, the history ledger): a
    // raw property edit would desynchronize the manifest entries from
    // the declaration, or erase the era ledger pruning keys off
    val layoutTouched = (set.keys ++ unset).filter(k =>
      k == "partition" || k == "partition.history")
    require(layoutTouched.isEmpty,
      s"setProperties: ${layoutTouched.mkString(",")} — the partition " +
        "layout is managed by evolvePartitionSpec (CALL " +
        "evolve_partition_spec), not raw property edits")
    // the rename mappings are CORRECTNESS metadata with their own
    // validated editor: a hand-UNSET colmap entry would stop aliasing a
    // raw name generations still physically carry (pre-rename rows read
    // NULL, a phantom old column reappears), and a hand-SET one skips
    // every collision/load-bearing check renameColumn runs
    val cmTouched = (set.keys ++ unset).filter(_.startsWith("colmap."))
    require(cmTouched.isEmpty,
      s"setProperties: ${cmTouched.mkString(",")} — rename mappings are " +
        "managed by RENAME COLUMN, not raw property edits")
    // drop tombstones are CORRECTNESS metadata too: a hand-UNSET one
    // resurrects the dropped column's bytes on the next read
    val dcTouched = (set.keys ++ unset).filter(_.startsWith("dropcol."))
    require(dcTouched.isEmpty,
      s"setProperties: ${dcTouched.mkString(",")} — drop tombstones are " +
        "managed by DROP COLUMN and cleared by a full compact/optimize, " +
        "not raw property edits")
    // widen casts are CORRECTNESS metadata with a validated editor too:
    // a hand-SET one skips the lossless-promotion gate (a "narrowing"
    // would silently truncate committed values on every read), and a
    // hand-UNSET one re-splits a mixed narrow/wide history's types
    val wTouched = (set.keys ++ unset).filter(_.startsWith("widen."))
    require(wTouched.isEmpty,
      s"setProperties: ${wTouched.mkString(",")} — type widening is " +
        "managed by ALTER COLUMN TYPE (widenColumnType) and cleared by " +
        "a full compact/optimize, not raw property edits")
    // tag pointers have their own validated editor (tagVersion checks
    // the target version EXISTS; a raw edit could point VERSION AS OF
    // at nothing, or silently move a release tag)
    val refTouched = (set.keys ++ unset).filter(_.startsWith("ref."))
    require(refTouched.isEmpty,
      s"setProperties: ${refTouched.mkString(",")} — refs are managed " +
        "by tagVersion/deleteTag, not raw property edits")
    // adding a CHECK constraint is a promise about the WHOLE table, not
    // just future writes: validate existing data first (one
    // short-circuiting scan per added constraint), so a reader can trust
    // any declared constraint unconditionally. The validation is keyed to
    // the TIP VERSION it ran against and re-runs inside the retry loop
    // whenever the tip moved — otherwise a concurrent data commit landing
    // between validation and publish was only checked against the OLD tip
    // constraints, and a violating row could slip under the just-declared
    // constraint (TOCTOU on the whole-table check).
    val newConstraints = constraintsOf(set)
    var validatedAtV: Long = -1L
    // raceHook: the test seam for a commit between validate and publish
    editTip(spark, root, raceHook) { (tip, carried) =>
      if (newConstraints.nonEmpty && tip.v != validatedAtV) {
        enforceConstraints(spark, root, newConstraints,
          readSnapshot(spark, root, tip), gen = None)
        validatedAtV = tip.v
      }
      carried.filterNot { case (k, _) => unset.contains(k.stripPrefix("prop:")) } ++
        set.map { case (k, v) => s"prop:$k" -> v } + ("properties" -> "true")
    }
  }

  /** ALTER TABLE ADD COLUMNS as a SCHEMA-EVOLUTION COMMIT: append an
    * EMPTY generation carrying the widened schema — exactly the "schema
    * evolves by committing widened generations" contract every read path
    * already honors ([[readDirs]] aligns by name; generations without a
    * column read as NULL), just driven by DDL instead of a data load. The
    * new columns are NULL for every existing row, become writable on the
    * next insert, and old snapshots keep their narrow schema (the ALTER
    * is itself a version — time travel before it never sees the column).
    * Cost at any table size: one empty footer-bearing parquet file + one
    * manifest publish — no data movement.
    *
    * New columns must be nullable (every existing row has no value) and
    * must not collide case-insensitively with a live column. Stamped
    * `#alter=add_columns`; append-shaped (keeps every base generation),
    * so change feeds deliver it as an empty delta and the streaming tail
    * keeps flowing. Like [[setProperties]] the intent is
    * state-independent, so a publish loss retries at the next version.
    */
  def addColumns(spark: SparkSession, root: String,
      cols: Seq[StructField],
      defaults: Map[String, String] = Map.empty): Long = {
    require(cols.nonEmpty, "addColumns: no columns to add")
    require(cols.forall(_.nullable),
      "addColumns: new columns must be nullable — existing rows have no " +
        "value for them")
    val dup = cols.groupBy(_.name.toLowerCase).collect {
      case (_, g) if g.size > 1 => g.head.name }
    require(dup.isEmpty, s"addColumns: duplicate new column ${dup.mkString(",")}")
    val base = readAt(spark, root)
    val clash = cols.map(_.name.toLowerCase)
      .intersect(base.schema.fieldNames.map(_.toLowerCase).toSeq)
    require(clash.isEmpty,
      s"addColumns: column ${clash.mkString(",")} already exists")
    // a historical raw name (colmap key) still lives in old parquet
    // files: a new column reusing it would be silently aliased away.
    // A DROPPED name is reserved the same way — re-adding it while old
    // files still carry the bytes would RESURRECT the dropped values
    // (Iceberg field-id semantics; a full compact frees the name)
    val tipMeta = versions(spark, root).lastOption
      .map(v => manifestMeta(spark, root, v)).getOrElse(Map.empty)
    val historic = colmapOf(tipMeta).keys.toSeq
    val shadow = cols.map(_.name).filter(c =>
      historic.exists(_.equalsIgnoreCase(c)))
    require(shadow.isEmpty,
      s"addColumns: ${shadow.mkString(",")} is a historical physical " +
        "name of a renamed column — generations still carry it; pick a " +
        "fresh name")
    val droppedShadow = cols.map(_.name).filter(c =>
      droppedNamesOf(tablePropsOf(tipMeta)).exists(_.equalsIgnoreCase(c)))
    require(droppedShadow.isEmpty,
      s"addColumns: ${droppedShadow.mkString(",")} was DROPPED and old " +
        "files still carry its bytes — re-adding it now would resurrect " +
        "them; run a full compact/optimize first (it purges the files " +
        "and frees the name)")
    // EXISTENCE DEFAULTS: each default must be a CONSTANT expression of
    // the column's type — validated by evaluating the pre-cast form
    // against a from-less SELECT, so a column reference, a typo, or an
    // uncastable value refuses HERE, not on some later read. Stored as a
    // `default.<col>` property; generations lacking the column read it
    // instead of NULL (rows written after the ALTER are untouched).
    val unknown = defaults.keySet -- cols.map(_.name).toSet
    require(unknown.isEmpty,
      s"addColumns: DEFAULT for ${unknown.mkString(",")} — not among the " +
        "added columns")
    val defaultProps = defaults.map { case (c, sql) =>
      val dt = cols.find(_.name == c).get.dataType
      val rendered = s"CAST(($sql) AS ${dt.sql})"
      try spark.sql(s"SELECT $rendered").head()
      catch { case e: Throwable =>
        throw new IllegalArgumentException(
          s"addColumns: DEFAULT for $c ($sql) must be a constant " +
            s"expression castable to ${dt.sql}: ${e.getMessage}", e)
      }
      s"default.$c" -> rendered
    }
    // defaults ride the property header lines: the same key/value
    // hygiene as setProperties (a NEWLINE inside the default's SQL text
    // would tear the manifest line format; '=' in a backticked column
    // name would mis-key the header)
    validateProps(defaultProps)
    val widened = cols.foldLeft(base.limit(0))((df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType)))
      .repartition(1)
    commit(spark, root, widened, overwrite = false,
      meta = Map("alter" -> "add_columns")
        ++ defaultProps.map { case (k, v) => s"prop:$k" -> v })
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (Delta's
    * column-mapping idea): the column's PHYSICAL name stays frozen in
    * every parquet file ever written under it; this publishes a
    * `colmap.<physical>=<logical>` table property and stamps
    * `#alter=rename_column` — reads alias physical → logical per
    * generation ([[readDirs]]), new writes land under the logical name
    * directly (readDirs aligns the mixed history by name), and old
    * snapshots keep the old name (the rename is itself a version; time
    * travel before it never sees the new name). Cost at any table
    * size: one bytes-sized manifest publish — no file is rewritten.
    * Because appends and copy-on-write rewrites land under the
    * then-current logical name, the mapping is a CHAIN: every
    * historical raw name aliases to the current one, one entry per
    * past rename (bounded by rename count, not data).
    *
    * REFUSED when the column is load-bearing for another contract —
    * a partition transform source, the row-id `key` property, an
    * outstanding deletion vector's key column, a CHECK constraint's
    * expression, or an existence DEFAULT — because each records the
    * name in the log and would silently desynchronize (UNSET / compact
    * first, then rename). Data-skipping `stats:` headers recorded
    * under the old name simply stop matching — absence means "must
    * scan", so old generations lose the optimization, never
    * correctness; new commits record stats under the new name.
    *
    * Change feeds across the rename version deliver each commit under
    * its OWN version's schema (the add_columns rule): a CDF window
    * spanning the rename shows both names, NULL-padded — the honest
    * representation of a schema change mid-window.
    *
    * Like [[setProperties]] the intent is state-independent, so a
    * publish loss retries at the next version. Returns the committed
    * version.
    */
  def renameColumn(spark: SparkSession, root: String, oldName: String,
      newName: String, raceHook: () => Unit = () => ()): Long = {
    require(!oldName.equalsIgnoreCase(newName),
      s"renameColumn: '$oldName' and '$newName' are the same name")
    editTip(spark, root, raceHook) { (tip, carried) =>
      val meta = tip.meta
      val props = tablePropsOf(meta)
      val schema = readSnapshot(spark, root, tip).schema // logical view
      val old = schema.fieldNames.find(_.equalsIgnoreCase(oldName))
        .getOrElse(throw new IllegalArgumentException(
          s"renameColumn: no column '$oldName' in " +
            schema.fieldNames.mkString("(", ", ", ")")))
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"renameColumn: column '$newName' already exists")
      validateProps(Map(s"colmap.$old" -> newName)) // header-line hygiene
      // CURRENT and HISTORICAL spec sources both refuse: old-era leaves
      // prune by translating predicates on the base name — renaming it
      // would silently stop the old era's pruning (predicates arrive
      // under the new name, the ledger records the old)
      val partSrcs = allPartitionFieldsOf(props).map(_.source)
      require(!partSrcs.exists(_.equalsIgnoreCase(old)),
        s"renameColumn: '$old' is a partition transform source (current " +
          "or historical spec) — the layout contract records the name; " +
          "create a new table to rename it")
      require(!props.get("key").exists(_.equalsIgnoreCase(old)),
        s"renameColumn: '$old' is the declared row-id key — unset the " +
          "'key' property first")
      require(!dvHeadersOf(meta).values.exists(_.equalsIgnoreCase(old)),
        s"renameColumn: outstanding deletion vectors tombstone '$old' — " +
          "run compact() to materialize them first")
      props.foreach { case (k, v) =>
        if (k.startsWith("constraint."))
          require(!(s"(?i)\\b${java.util.regex.Pattern.quote(old)}\\b".r
              .findFirstIn(v).isDefined),
            s"renameColumn: CHECK constraint '${k.stripPrefix("constraint.")}'" +
              s" references '$old' — UNSET it first, rename, re-add")
        if (k == s"default.$old")
          require(requirement = false,
            s"renameColumn: '$old' carries an existence DEFAULT keyed by " +
              "name — UNSET it first, rename, re-add under the new name")
      }
      // the mapping is a RENAME CHAIN: generations physically carry
      // whatever the column's logical name was WHEN THEY WERE WRITTEN
      // (appends and copy-on-write rewrites land under the then-current
      // logical name), so every historical raw name must alias to the
      // new one — update each entry whose logical side is the renamed
      // column and add the current name as one more historical key.
      // Entries that become identity (renamed back to a raw name no
      // longer needing an alias for ITS OWN value) drop out.
      val cm = colmapOf(meta)
      require(!cm.exists { case (k, v) =>
          k.equalsIgnoreCase(newName) && !v.equalsIgnoreCase(old) },
        s"renameColumn: '$newName' is a historical physical name of " +
          "another column — generations still carry it; pick a fresh name")
      // a DROPPED name is reserved too: post-rename appends would land
      // physically under it and be projected away by the drop property
      require(!droppedNamesOf(props).exists(_.equalsIgnoreCase(newName)),
        s"renameColumn: '$newName' was DROPPED and old files still " +
          "carry its bytes — run a full compact/optimize first")
      val chained = cm.map { case (k, v) =>
        k -> (if (v.equalsIgnoreCase(old)) newName else v)
      } + (old -> newName)
      val finalMap = chained.filterNot { case (k, v) => k.equalsIgnoreCase(v) }
      val kept = carried.filterNot { case (k, _) =>
        k.startsWith("prop:colmap.") ||
          // a widen follows its column across the rename (re-keyed below)
          k.equalsIgnoreCase(s"prop:widen.$old")
      }
      kept ++ finalMap.map { case (k, v) => s"prop:colmap.$k" -> v } ++
        meta.collectFirst { case (k, v)
            if k.equalsIgnoreCase(s"prop:widen.$old") =>
          s"prop:widen.$newName" -> v } + ("alter" -> "rename_column")
    }
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit (the logical-drop
    * half of Delta's column-mapping): committed generations keep the
    * column's bytes, but this publishes a `dropcol.<physical>` table
    * property for the column AND every historical raw name still
    * aliasing to it (the rename chain is retired in the same commit),
    * and every read PROJECTS those physical names away
    * ([[readDirs]]). Old snapshots predate the property — time travel
    * before the drop still sees the column (the drop is itself a
    * version). Cost at any table size: one bytes-sized manifest
    * publish, no file rewritten; the bytes are physically purged by the
    * next full [[compact]]/[[optimize]] (which also CLEARS the
    * `dropcol.` property — its files no longer carry the name).
    *
    * RE-ADD ISOLATION (Iceberg field-id semantics): while any committed
    * file still physically carries the name, the name is RESERVED —
    * [[addColumns]], merge schema evolution, [[renameColumn]] targets
    * and writer frames all refuse it loudly, because a new column of
    * that name would silently align with the dropped bytes and
    * resurrect them. After a full rewrite clears the property, the name
    * is free and a re-added column reads NULL for every pre-existing
    * row — never the dropped values.
    *
    * REFUSED when the column is load-bearing for another contract (the
    * [[renameColumn]] set): a partition transform source (current or
    * historical spec), the row-id `key` property, an outstanding
    * deletion vector's key column, a CHECK constraint reference, an
    * existence DEFAULT — and when it is the table's last column.
    * Stale `stats:` headers under the dropped name simply never match
    * again. Like [[setProperties]] the intent is state-independent, so
    * a publish loss retries at the next version. Returns the committed
    * version.
    */
  def dropColumn(spark: SparkSession, root: String, name: String,
      raceHook: () => Unit = () => ()): Long =
    editTip(spark, root, raceHook) { (tip, carried) =>
      val meta = tip.meta
      val props = tablePropsOf(meta)
      val schema = readSnapshot(spark, root, tip).schema // logical view
      val old = schema.fieldNames.find(_.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"dropColumn: no column '$name' in " +
            schema.fieldNames.mkString("(", ", ", ")")))
      require(schema.fieldNames.length > 1,
        s"dropColumn: '$old' is the table's last column")
      val partSrcs = allPartitionFieldsOf(props).map(_.source)
      require(!partSrcs.exists(_.equalsIgnoreCase(old)),
        s"dropColumn: '$old' is a partition transform source (current " +
          "or historical spec) — the layout contract records the name")
      require(!props.get("key").exists(_.equalsIgnoreCase(old)),
        s"dropColumn: '$old' is the declared row-id key — unset the " +
          "'key' property first")
      require(!dvHeadersOf(meta).values.exists(_.equalsIgnoreCase(old)),
        s"dropColumn: outstanding deletion vectors tombstone '$old' — " +
          "run compact() to materialize them first")
      props.foreach { case (k, v) =>
        if (k.startsWith("constraint."))
          require(!(s"(?i)\\b${java.util.regex.Pattern.quote(old)}\\b".r
              .findFirstIn(v).isDefined),
            s"dropColumn: CHECK constraint '${k.stripPrefix("constraint.")}'" +
              s" references '$old' — UNSET it first")
        if (k == s"default.$old")
          require(requirement = false,
            s"dropColumn: '$old' carries an existence DEFAULT — UNSET " +
              "it first")
      }
      // the column's physical names: itself + every historical raw name
      // still aliasing to it; their colmap entries retire with the drop
      val cm = colmapOf(meta)
      val phys = cm.collect {
        case (k, v) if v.equalsIgnoreCase(old) => k }.toSeq :+ old
      validateProps(phys.map(p => s"dropcol.$p" -> tip.v.toString).toMap)
      val kept = carried.filterNot { case (k, _) =>
        phys.exists(p => k.equalsIgnoreCase(s"prop:colmap.$p")) ||
          // a dropped column's widen cast retires with it
          k.equalsIgnoreCase(s"prop:widen.$old")
      }
      kept ++ phys.map(p => s"prop:dropcol.$p" -> tip.v.toString) +
        ("alter" -> "drop_column")
    }

  // lossless type promotions (the Iceberg evolution set): a widened
  // read can never overflow, truncate or round a committed value
  private def isWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      case _ => false
    }
  }

  /** ALTER TABLE … ALTER COLUMN … TYPE as a METADATA-ONLY commit
    * (Iceberg schema-evolution type promotion / Delta type widening):
    * publish a `widen.<col>` property and every read CASTS the column
    * to the widened type after remap/defaults ([[readDirs]]) — narrow
    * pre-widen generations and wide post-widen generations serve one
    * logical type with zero files rewritten, at any table size. Only
    * LOSSLESS promotions are accepted (byte→short→int→long,
    * float→double, decimal precision growth at fixed scale): a read
    * must never overflow or round a committed value, and a NARROWING
    * retype is refused outright — committed wide values may not fit.
    * Old snapshots predate the property, so time travel before the
    * ALTER serves the original type (the ALTER is itself a version).
    * The next full [[compact]]/[[optimize]] materializes the wide type
    * physically and CLEARS the property (its files no longer need the
    * cast); incremental compaction keeps it (narrow generations may
    * survive).
    *
    * REFUSED when the column sources a partition transform (current or
    * historical spec — bucket/truncate tokens are computed from the
    * PHYSICAL type, and Spark's Murmur3 hashes int 5 and long 5 to
    * different buckets, so a widen would silently desynchronize
    * pruning from the written leaves) and while deletion vectors
    * tombstone the column (compact first — the rename/drop rule).
    * Re-widening replaces the property with the wider target (casts
    * compose; the read goes straight to the widest). Like
    * [[setProperties]] the intent is state-independent, so a publish
    * loss retries at the next version. Returns the committed version.
    */
  def widenColumnType(spark: SparkSession, root: String, name: String,
      newType: org.apache.spark.sql.types.DataType,
      raceHook: () => Unit = () => ()): Long =
    editTip(spark, root, raceHook) { (tip, carried) =>
      val props = tablePropsOf(tip.meta)
      val schema = readSnapshot(spark, root, tip).schema // logical view
      val field = schema.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"widenColumnType: no column '$name' in " +
            schema.fieldNames.mkString("(", ", ", ")")))
      require(isWidening(field.dataType, newType),
        s"widenColumnType: ${field.dataType.catalogString} → " +
          s"${newType.catalogString} is not a lossless widening — " +
          "accepted: byte→short→int→long, float→double, decimal " +
          "precision growth at fixed scale (narrowing would overflow " +
          "committed values; reinterpretations belong in a new column)")
      val partSrcs = allPartitionFieldsOf(props).map(_.source)
      require(!partSrcs.exists(_.equalsIgnoreCase(field.name)),
        s"widenColumnType: '${field.name}' sources a partition " +
          "transform (current or historical spec) — bucket/truncate " +
          "tokens are computed from the physical type, so a widen " +
          "would desynchronize pruning from the written leaves")
      require(!dvHeadersOf(tip.meta).values.exists(_.equalsIgnoreCase(field.name)),
        s"widenColumnType: outstanding deletion vectors tombstone " +
          s"'${field.name}' — run compact() to materialize them first")
      validateProps(Map(s"widen.${field.name}" -> newType.catalogString))
      carried.filterNot(_._1.equalsIgnoreCase(s"prop:widen.${field.name}")) +
        (s"prop:widen.${field.name}" -> newType.catalogString) +
        ("alter" -> "widen_column")
    }

  /** PARTITION SPEC EVOLUTION (Iceberg's `ALTER TABLE … ADD/DROP/
    * REPLACE PARTITION FIELD`) as a METADATA-ONLY commit: the new
    * manifest keeps the base snapshot's directories and stats/dv
    * headers verbatim and only edits the layout properties — the
    * `partition` property becomes `newSpec` (empty = drop partitioning)
    * and the superseded spec is appended to the `partition.history`
    * ledger. No file moves at any table size: committed generations
    * keep the physical layout of the spec they were written under,
    * FUTURE routed writes use the new spec, and pruning evaluates each
    * generation under ITS OWN era's transform
    * ([[allPartitionFieldsOf]] — a base-column predicate translates
    * into token tests for every era's field, and an entry is tested by
    * whichever `__p_` segments its path carries). Pre-evolution
    * entries therefore KEEP pruning under the old transform — never
    * degraded to must-scan while their tokens still translate — and
    * [[overwritePartitions]] treats refinable old-era leaves
    * (days→months, identity→any) as first-class partitions
    * ([[PartFields.refineToken]]).
    *
    * The one structural refusal is the AMBIGUITY GATE: a new field may
    * not reuse a historical field's NAME under a different transform
    * (`truncate(4,c)` → `truncate(8,c)` collides on `c_trunc`) — token
    * tests are keyed by the path segment's field name, and two eras'
    * indistinguishable tokens would prune the old era wrongly. Such
    * re-parameterizations need a fresh column or a new table; the
    * canonical evolutions (days→months, add/drop a field,
    * identity→days) all carry distinct names.
    *
    * SQL spelling: `CALL cat.system.evolve_partition_spec(table, spec)`
    * — OSS Spark's parser has no ALTER PARTITION FIELD grammar (that is
    * an Iceberg parser extension), so the validated editor rides the
    * procedure surface like the other lakehouse maintenance verbs; raw
    * `SET TBLPROPERTIES('partition'=…)` stays refused. Like
    * [[setProperties]] the intent is state-independent, so a publish
    * loss retries at the next version. Returns the committed version.
    */
  def evolvePartitionSpec(spark: SparkSession, root: String,
      newSpec: String, raceHook: () => Unit = () => ()): Long =
    editTip(spark, root, raceHook) { (tip, carried) =>
      val props = tablePropsOf(tip.meta)
      val schema = readSnapshot(spark, root, tip).schema // logical view
      val fields = PartFields.validate(
        if (newSpec.trim.isEmpty) Nil else PartFields.parseList(newSpec),
        schema)
      val cur = partitionFieldsOf(props)
      val curSpec = cur.map(_.spec).mkString(",")
      val newCanon = fields.map(_.spec).mkString(",")
      require(newCanon != curSpec,
        s"evolvePartitionSpec: '${if (newCanon.isEmpty) "<unpartitioned>" else newCanon}' " +
          "is already the table's layout")
      val histAll = allPartitionFieldsOf(props)
      fields.foreach { f =>
        histAll.find(h => h.name.equalsIgnoreCase(f.name) && h.spec != f.spec)
          .foreach(h => throw new IllegalArgumentException(
            s"evolvePartitionSpec: '${f.spec}' reuses leaf field " +
              s"'${f.name}' that a past spec declared as '${h.spec}' — " +
              "the eras' path tokens would be indistinguishable and the " +
              "old era could prune wrongly; use a fresh column or a new " +
              "table for re-parameterizations"))
      }
      val newHistory = (props.get("partition.history").toSeq
        .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty) :+ curSpec)
        .filter(_.nonEmpty).distinct
      carried - "prop:partition" - "prop:partition.history" ++
        (if (fields.isEmpty) Map.empty
         else Map("prop:partition" -> newCanon)) ++
        (if (newHistory.isEmpty) Map.empty
         else Map("prop:partition.history" -> newHistory.mkString(";"))) +
        ("alter" -> "set_partition_spec")
    }

  /** RESTORE (rollback) as a COMMIT: publish a NEW version whose manifest
    * is a copy of version `toV`'s — the table's latest snapshot becomes
    * the old state, but HISTORY IS PRESERVED: the bad versions stay
    * readable (time travel still sees them) and the restore itself is an
    * auditable commit stamped `#restore=<toV>`. Nothing is copied —
    * generations are immutable, so restoring a 100 TB table writes one
    * bytes-sized manifest. This is the undo button for a bad load: no
    * data movement, no downtime, reversible (restore forward again).
    *
    * The restored manifest carries `toV`'s stats and dv headers verbatim
    * (they describe `toV`'s generations, which are exactly what the new
    * version holds). A restore is a DATA-CHANGING commit that may drop
    * generations relative to the current tip, so like
    * [[compact]]/[[mergeInto]] it publishes only at base+1 and returns
    * None on a concurrency loss — retrying later could silently discard
    * a concurrent writer's commit; the caller decides whether the
    * rollback still applies to the new history. [[readChanges]] refuses
    * to feed across a restore that dropped generations (the overwrite
    * rule); consumers resync from the restored snapshot.
    */
  def restore(spark: SparkSession, root: String, toV: Long,
      raceHook: () => Unit = () => ()): Option[Long] = {
    val vs = versions(spark, root)
    require(vs.contains(toV), s"VersionedTable: version $toV not in $vs")
    if (toV == vs.last) return Some(toV) // restoring to the tip: no-op
    val (dirs, meta) = manifestOf(spark, root, toV)
    val base = snapshotIn(spark, root, vs, None)
    val keepHeaders = carriedHeaders(meta).filterNot(_._1.startsWith("prop:"))
    // stats/dv headers describe toV's generations (restored verbatim);
    // properties describe the TABLE, so the restore keeps the CURRENT
    // tip's — rolling back a bad data load must not revert an unrelated
    // property change. That carry has a trap: a CHECK constraint added
    // AFTER toV was never validated against toV's data (e.g. rows purged
    // before the constraint existed would be resurrected under it),
    // silently breaking the "a reader can trust any declared constraint
    // unconditionally" invariant — so validate the restored snapshot
    // against the carried constraints first and refuse on violation
    // (UNSET the constraint to force the restore through).
    val carriedProps = propHeadersOf(base.meta)
    val carriedConstraints = constraintsOf(
      carriedProps.map { case (k, v) => k.stripPrefix("prop:") -> v })
    if (carriedConstraints.nonEmpty)
      enforceConstraints(spark, root, carriedConstraints,
        readAt(spark, root, Some(toV)), gen = None)
    raceHook()
    publish(spark, root, base, Nil, AtBase)(_ =>
      Some((dirs, keepHeaders ++ carriedProps + ("restore" -> toV.toString))))
      .map(_.v)
  }

  // ---- NAMED REFS: tags + branches (write-audit-publish) ------------
  // A TAG is a durable name for a committed version — a `ref.<name>`
  // table property published by a metadata-only commit (auditable,
  // carried by every later commit, readable by `VERSION AS OF '<name>'`
  // through the catalog; vacuum keeps tagged versions). A BRANCH is a
  // FORK of the log: its manifests live beside main's as
  // `_log/b.<name>.<v>.commit` — a file name CommitRe never matches, so
  // main readers cannot see branch commits — sharing the same immutable
  // data/ generations. Staged (branch) commits are therefore invisible
  // to production readers until FAST-FORWARD atomically publishes the
  // branch tip's manifest as main's next version: the write-audit-
  // publish pattern (write to the branch, validate by reading the
  // branch, publish with one manifest create). The branch's view of the
  // data is the same readDirs/applyDvs machinery as main's.

  private val BranchRe = """b\.([A-Za-z0-9_\-]+)\.(\d+)\.commit""".r

  private def refName(name: String): String = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_\\-]+"),
      s"VersionedTable: illegal ref name '$name' — use [A-Za-z0-9_-]+")
    // VERSION AS OF resolves digits as a LOG VERSION before trying refs
    // — an all-digit tag would read the wrong snapshot (or nothing)
    require(!name.forall(_.isDigit),
      s"VersionedTable: ref name '$name' is all digits — VERSION AS OF " +
        "would resolve it as a log version number; include a letter")
    name
  }

  private def branchManifestOf(spark: SparkSession, root: String,
      name: String, v: Long): (Seq[String], Map[String, String]) =
    manifestFileOf(spark, root, s"b.$name.$v.commit")

  /** Committed versions of branch `name`, ascending (empty = no branch).
    * The first entry is the fork point (a copy of that main version's
    * manifest); later entries are the branch's own append commits.
    */
  def branchVersions(spark: SparkSession, root: String,
      name: String): Seq[Long] = {
    val hfs = fs(spark, root)
    val log = new Path(root, "_log")
    if (!hfs.exists(log)) Seq.empty
    else hfs.listStatus(log).toSeq.flatMap(_.getPath.getName match {
      case BranchRe(n, v) if n == name => Some(v.toLong)
      case _ => None
    }).sorted
  }

  /** Names of all live branches. */
  def branches(spark: SparkSession, root: String): Seq[String] = {
    val hfs = fs(spark, root)
    val log = new Path(root, "_log")
    if (!hfs.exists(log)) Seq.empty
    else hfs.listStatus(log).toSeq.flatMap(_.getPath.getName match {
      case BranchRe(n, _) => Some(n)
      case _ => None
    }).distinct.sorted
  }

  /** TAG version `v` (the tip when None) under a durable name: a
    * metadata-only commit (kind `tag`) publishing `ref.<name>=<v>` —
    * the pointer rides the table's own log, carried by every later
    * commit, resolvable by the catalog's `VERSION AS OF '<name>'`, and
    * [[vacuum]] keeps tagged versions alive regardless of the count/
    * time retention rules (the Iceberg tag-retention contract). Refuses
    * an existing name ([[deleteTag]] first — a tag silently moving is
    * how "the release snapshot" stops meaning anything).
    */
  def tagVersion(spark: SparkSession, root: String, name: String,
      v: Option[Long] = None): Long = {
    refName(name)
    editTip(spark, root) { (tip, carried) =>
      // an explicit target must be a committed version (resolved against
      // each attempt's log, like the tip)
      val target = v.fold(tip.v)(t => snapshot(spark, root, Some(t)).v)
      require(!carried.contains(s"prop:ref.$name"),
        s"tagVersion: tag '$name' already exists — deleteTag first " +
          "(a silently moving tag is a correctness hazard)")
      carried + (s"prop:ref.$name" -> target.toString) + ("tag" -> name)
    }
  }

  /** Remove tag `name` (metadata-only commit, kind `tag`). */
  def deleteTag(spark: SparkSession, root: String, name: String): Long =
    editTip(spark, root) { (_, carried) =>
      require(carried.contains(s"prop:ref.$name"),
        s"deleteTag: no tag '$name'")
      carried - s"prop:ref.$name" + ("tag" -> name)
    }

  /** Resolve a ref name to a main-log version via the tip's `ref.`
    * properties (tags). None = no such ref.
    */
  def resolveRef(spark: SparkSession, root: String,
      name: String): Option[Long] =
    versions(spark, root).lastOption.flatMap { tip =>
      tablePropsOf(manifestMeta(spark, root, tip))
        .get(s"ref.$name").map(_.toLong)
    }

  /** Fork branch `name` from main version `fromV` (the tip when None):
    * writes ONE branch manifest — a copy of the fork point's dirs and
    * carried headers plus a `branch_base` marker. Bytes-sized at any
    * table scale; no data is copied (generations are immutable and
    * shared). Create-only: a racing createBranch loses loudly.
    */
  def createBranch(spark: SparkSession, root: String, name: String,
      fromV: Option[Long] = None): Long = {
    refName(name)
    val fork @ Snapshot(base, dirs, meta) = snapshot(spark, root, fromV)
    require(branchVersions(spark, root, name).isEmpty,
      s"createBranch: branch '$name' already exists")
    // main-tip txn stamps seed the fork, so a staged stream's replay
    // dedup survives a publish → drop → re-branch cadence
    val kept = carriedHeaders(meta) ++
      meta.filter { case (k, _) => k == "txnApp" || k == "txnBatch" }
    // the branch's first manifest is numbered by its fork point
    require(publish(spark, root, fork, Nil, AtBase, _ => s"b.$name.$base.commit")(
        _ => Some((dirs, kept + ("branch_base" -> base.toString)))).isDefined,
      s"createBranch: branch '$name' lost a creation race")
    base
  }

  /** Append `df` to branch `name` as a STAGED commit: the generation
    * lands in the shared data/ tree and the branch manifest advances,
    * but MAIN readers see nothing — this is the "write" of
    * write-audit-publish. The branch tip's CHECK constraints still
    * gate the write (staging is not a quality bypass; the publish is
    * what it defers). Returns the branch version.
    */
  def commitToBranch(spark: SparkSession, root: String, name: String,
      df: DataFrame, statsCols: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty): Long = {
    val bvs = branchVersions(spark, root, name)
    require(bvs.nonEmpty, s"commitToBranch: no branch '$name'")
    val tip @ Snapshot(tipB, dirs, bMeta) =
      snapshotIn(spark, root, bvs, None, branch = Some(name))
    val props = tablePropsOf(bMeta)
    requireNoDroppedNames(df, props, s"branch '$name' commit")
    val gen = writeGeneration(spark, root, df, partitionFieldsOf(props),
      bloomCols = bloomColsOf(props), obsCols = statsCols)
    val entries = genEntries(spark, root, gen)
    val cs = constraintsOf(props)
    if (cs.nonEmpty && hasPartFiles(spark, root, gen))
      enforceConstraints(spark, root, cs,
        readDirs(spark, root, entries), Some(gen))
    val carried = carriedHeaders(bMeta) ++
      bMeta.filter { case (k, _) => k == "branch_base" }
    val genStats = genStatsForEntries(spark, root, entries, statsCols)
    // a lost publish reclaims the generation before the refusal
    require(publish(spark, root, tip, Seq(gen), AtBase, v => s"b.$name.$v.commit")(
        _ => Some((dirs ++ entries, carried ++ genStats ++ meta))).isDefined,
      s"commitToBranch: branch '$name' version ${tipB + 1} already " +
        "exists — branches are single-writer per commit")
    tipB + 1
  }

  /** Exactly-once STAGED commit — [[idempotentCommit]]'s contract on a
    * BRANCH: the write is stamped `(txnApp, txnBatch)` in the branch
    * manifest, and a replayed batch the branch has already absorbed is
    * skipped, so a restarted stream can STAGE micro-batches
    * write-audit-publish style (sink option `branch`) without
    * duplicating rows. The absorbed check is the same newest-first O(1)
    * stamp scan, over the branch's own manifests; batch ids from one
    * app must be monotone (the streaming contract). Keep the branch
    * alive for the stream's lifetime — [[fastForward]] publishes the
    * audited window to main as ONE atomic `wap_publish` commit; replay
    * dedup always resolves against the BRANCH manifests (a replay after
    * the branch was dropped fails loudly — no duplicate can land).
    * Returns (branch version, committed?).
    */
  def idempotentCommitToBranch(spark: SparkSession, root: String,
      name: String, df: DataFrame, appId: String, batchId: Long): (Long, Boolean) = {
    val bvs = branchVersions(spark, root, name)
    require(bvs.nonEmpty,
      s"idempotentCommitToBranch: no branch '$name' — createBranch " +
        "before starting the stream (WAP staging is deliberate)")
    def absorbed: Boolean = bvs.reverseIterator
      .map(v => branchManifestOf(spark, root, name, v)._2)
      .collectFirst { case m if m.get("txnApp").contains(appId) =>
        m.get("txnBatch").exists(_.toLong >= batchId)
      }.getOrElse(false)
    if (absorbed) (bvs.last, false)
    else (commitToBranch(spark, root, name, df,
      meta = Map("txnApp" -> appId, "txnBatch" -> batchId.toString)), true)
  }

  /** The branch's snapshot (its tip when `v` None) — the "audit" read
    * of write-audit-publish: same readDirs/applyDvs machinery as main.
    */
  def readBranch(spark: SparkSession, root: String, name: String,
      v: Option[Long] = None): DataFrame =
    readSnapshot(spark, root, snapshot(spark, root, v, branch = Some(name)))

  /** PUBLISH: fast-forward main to the branch tip — ONE atomic manifest
    * create makes every staged commit visible to production readers at
    * once (kind `wap_publish`, the branch name in the header). When main
    * hasn't moved past the fork point, the branch manifest publishes
    * verbatim. When it HAS, the Delta/Iceberg-style logical conflict
    * check runs: every intervening main commit must be append-shaped
    * (append / tag / set_properties / add_columns) with unchanged
    * deletion vectors — then the publish REBASES (main tip's dirs and
    * headers win, the branch's ADDED generations and their stats land on
    * top). Anything else — an overwrite, merge, delete, compaction, a DV
    * change — returns None: the staged work must be re-validated against
    * the new reality (the caller's loud abort). The branch itself is
    * left intact either way; [[dropBranch]] retires it.
    */
  def fastForward(spark: SparkSession, root: String, name: String,
      raceHook: () => Unit = () => ()): Option[Long] = {
    val bvs = branchVersions(spark, root, name)
    require(bvs.nonEmpty, s"fastForward: no branch '$name'")
    val (bDirs, bMeta) = branchManifestOf(spark, root, name, bvs.last)
    val base = bMeta.getOrElse("branch_base",
      sys.error(s"fastForward: branch '$name' has no base marker")).toLong
    // the fork point's dirs come from the BRANCH'S OWN first manifest
    // (identical to main's by construction, dv: headers included) —
    // main's copy may have been legally vacuumed while the branch stayed
    // alive
    val (forkDirs, forkMeta) = branchManifestOf(spark, root, name, bvs.head)
    val fork = Snapshot(base, forkDirs, forkMeta)
    val added = bDirs.filterNot(forkDirs.toSet)
    // the branch TIP's txn stamp rides into the published manifest (and
    // createBranch copies main-tip stamps back into a fresh branch), so
    // an exactly-once staged STREAM survives the publish → drop →
    // re-branch cadence: a micro-batch replayed across it still finds
    // its stamp and dedups (single app per branch — the single-writer
    // branch contract)
    val bTxn = bMeta.filter { case (k, _) => k == "txnApp" || k == "txnBatch" }
    val bHeaders = carriedHeaders(bMeta) ++ bTxn
    raceHook()
    val appendShaped = PastIf(i =>
      Set("append", "tag", "set_properties", "add_columns").contains(i.kind) &&
        dvHeadersOf(i.snap.meta) == dvHeadersOf(forkMeta))
    publish(spark, root, fork, Nil, appendShaped) { tip =>
      if (tip.v == base) Some((bDirs, bHeaders + ("wap_publish" -> name)))
      else {
        // constraints ADDED on main since the fork were never enforced
        // on the staged generations (commitToBranch gates against the
        // fork-time set): validate the staged rows against the tip's
        // new/changed constraints before they become visible — a
        // declared CHECK must stay trustworthy unconditionally
        val branchCs = constraintsOf(tablePropsOf(bMeta))
        val newCs = constraintsOf(tablePropsOf(tip.meta)).filter {
          case (n, e) => !branchCs.get(n).contains(e)
        }
        if (newCs.nonEmpty && added.nonEmpty)
          enforceConstraints(spark, root, newCs,
            readDirs(spark, root, added, tip.meta), gen = None)
        val addedStats = bMeta.filter { case (k, _) =>
          entryHeaderDir(k).exists(added.contains)
        }
        Some((tip.dirs ++ added,
          carriedHeaders(tip.meta) ++ addedStats ++ bTxn + ("wap_publish" -> name)))
      }
    }.map(_.v)
  }

  /** Retire branch `name`: its manifests are removed; its generations
    * stay until [[vacuum]] finds them unreferenced.
    */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    val hfs = fs(spark, root)
    branchVersions(spark, root, name).foreach(v =>
      hfs.delete(new Path(root, s"_log/b.$name.$v.commit"), false))
  }

  /** External partition value → the partition-path token the routed
    * write renders for it; None = the hive DEFAULT partition. THE single
    * source of truth for this contract (scan-side pruning and
    * write-side replacement must agree on which leaf a value lives in).
    * Spark's partitionBy writes null AND the EMPTY STRING into
    * `__HIVE_DEFAULT_PARTITION__` (ExternalCatalogUtils conflates them,
    * as do Hive and Delta), so both render as the default leaf — a
    * pruner that mapped '' to its own token would silently drop the
    * leaf holding empty-string rows.
    */
  def renderPartitionValue(v: Any): Option[String] = v match {
    case null => None
    case s: String if s.isEmpty => None
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case other => Some(other.toString)
  }

  /** DYNAMIC PARTITION OVERWRITE (Spark's `partitionOverwriteMode=
    * dynamic`, Iceberg's ReplacePartitions): atomically replace exactly
    * the partitions PRESENT in `df`, carrying every other partition
    * verbatim — the everyday production write for a partitioned table
    * (re-load today's partition, backfill one tenant) without the
    * O(table) full overwrite or a non-atomic delete+append pair. The
    * batch routes into leaf dirs as usual; base LEAF entries whose
    * partition tuple appears in the batch are DROPPED from the new
    * manifest; plain entries (the schema-carrier create generation,
    * pre-partitioning history) are rewritten through a null-safe
    * anti-join so their rows in replaced partitions die too — cost
    * O(batch + plain generations), never O(table).
    *
    * Data-changing replacement of a subset. On a publish loss the
    * writer does NOT blindly abort: it runs the Delta/Iceberg-style
    * LOGICAL CONFLICT CHECK — when every intervening commit is
    * append/replace-partitions-shaped and touched only leaves whose
    * partition tuples are DISJOINT from this batch's, the write
    * REBASES onto the new tip and retries (two nightly re-loads of
    * different days both succeed; physical contention on the version
    * number is not a logical conflict). Anything else — an overlapping
    * tuple, a merge/delete/compact/overwrite, a new tombstone, a plain
    * (tuple-less) generation — still returns None, the caller's signal
    * to re-derive the batch. Refuses on unpartitioned tables (use
    * `commit(overwrite = true)`) and over outstanding deletion vectors
    * (a key-wide tombstone spans replaced AND carried partitions —
    * materialize first). Stamped `#replace_partitions=true`:
    * [[readChanges]] refuses across it (dropped dirs), [[tableChanges]]
    * diffs it row-level like merge/delete. Returns Some(version,
    * replaced leaf count, carried entry count).
    *
    * With DERIVED partition transforms the batch's partition tuples
    * are the TRANSFORM values (hidden partitioning — the batch carries
    * base columns, the layout computes `days(ts)` etc.), so "replace
    * the partitions present in df" means "replace the days present".
    */
  def overwritePartitions(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil,
      raceHook: () => Unit = () => ()): Option[(Long, Int, Int)] = {
    val base @ Snapshot(baseV, dirs, baseMeta) = snapshot(spark, root, None)
    val partFields = partitionFieldsOf(tablePropsOf(baseMeta))
    require(partFields.nonEmpty,
      "overwritePartitions: the table declares no partition columns — " +
        "use commit(overwrite = true) for a full replacement")
    def srcIn(d: DataFrame, f: PartField): String =
      d.columns.find(_.equalsIgnoreCase(f.source)).getOrElse(
        throw new IllegalArgumentException(
          s"overwritePartitions: batch is missing partition source " +
            s"column '${f.source}' (transform ${f.spec})"))
    partFields.foreach(srcIn(df, _)) // fail fast, name them all
    requireNoDroppedNames(df, tablePropsOf(baseMeta), "overwritePartitions")
    require(dvHeadersOf(baseMeta).isEmpty,
      "overwritePartitions: outstanding deletion vectors span replaced " +
        "and carried partitions — run compact() to materialize them first")
    val batchParts = df.select(partFields.map(f =>
      f.valueOf(col(srcIn(df, f)), df.schema(srcIn(df, f)).dataType)
        .as(f.name)): _*).distinct()
    val tuples = batchParts.collect()
    // an empty batch replaces NOTHING — the no-op Spark's own dynamic
    // overwrite (and Delta/Iceberg) performs when the query result is
    // empty; a nightly re-load job must not crash on an empty day
    if (tuples.isEmpty) return Some((baseV, 0, dirs.size))
    require(tuples.length <= 4096,
      s"overwritePartitions: batch spans ${tuples.length} partitions — " +
        "too fine-grained for a partition-replacing write")
    val tupleSet: Set[Seq[Option[String]]] = tuples.map(r =>
      partFields.indices.map(i => renderPartitionValue(r.get(i))).toSeq).toSet
    // a base entry's partition tuple, when FULLY encoded in its path —
    // directly under the CURRENT spec's field segments, or REFINED from
    // a pre-evolution era's segments when the old transform is provably
    // finer (PartFields.refineToken: a day leaf belongs wholly to one
    // month, so after days→months evolution it replaces/carries like a
    // month leaf instead of dragging the whole old era through the
    // plain-entry rewrite — O(batch), not O(pre-evolution history))
    val histFields = allPartitionFieldsOf(tablePropsOf(baseMeta))
      .filterNot(h => partFields.exists(_.name.equalsIgnoreCase(h.name)))
    def entryTuple(e: String): Option[Seq[Option[String]]] = {
      val vals = partFields.map { f =>
        val dt = df.schema(srcIn(df, f)).dataType
        partValueOf(e, f.name).orElse(
          histFields.filter(_.source.equalsIgnoreCase(f.source)).iterator
            .flatMap(h => partValueOf(e, h.name).iterator
              .flatMap(tok =>
                PartFields.refineToken(h, f, tok, dt).iterator))
            .nextOption())
      }
      if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
    }
    // replaced leaves / plain (tuple-less) entries / carried leaves
    def splitDirs(ds: Seq[String]): (Seq[String], Seq[String], Seq[String]) = {
      val (repl, rest) = ds.partition(e =>
        entryTuple(e).exists(tupleSet.contains))
      val (pl, leaves) = rest.partition(e => entryTuple(e).isEmpty)
      (repl, pl, leaves)
    }
    val (_, plain, _) = splitDirs(dirs)
    // plain entries can hide rows of replaced partitions; rewrite them
    // (null-safe anti-join — a NULL-partition batch must replace the
    // NULL-partition rows) unless they are row-free schema carriers
    val plainRows =
      if (plain.isEmpty) None
      else {
        val p0 = readDirs(spark, root, plain, baseMeta)
        if (p0.isEmpty) None
        else {
          // a plain generation may predate a partition source column
          // entirely (narrow pre-evolution history): its rows' value is
          // NULL, so fill before the null-safe match. The comparison is
          // TOKEN-LEVEL — both sides' transform values rendered to
          // string with '' conflated to NULL, exactly the leaf-routing
          // contract (renderPartitionValue), so the row-level match and
          // the directory-level replacement can never disagree
          val p = partFields.foldLeft(p0)((d, f) =>
            if (d.columns.exists(_.equalsIgnoreCase(f.source))) d
            else d.withColumn(f.source,
              lit(null).cast(df.schema(srcIn(df, f)).dataType)))
          def normTok(c: Column): Column = {
            val s = c.cast("string")
            when(s === lit(""), lit(null)).otherwise(s)
          }
          Some(p.join(broadcast(batchParts),
            partFields.map { f =>
              val dt = df.schema(srcIn(df, f)).dataType
              normTok(f.valueOf(p(srcIn(p, f)), dt)) <=>
                normTok(batchParts(f.name))
            }.reduce(_ && _),
            "left_anti"))
        }
      }
    raceHook()
    val gen = writeGeneration(spark, root, df, partFields,
      bloomCols = bloomColsAt(spark, root))
    val entries = genEntries(spark, root, gen)
    validateGeneration(spark, root, gen, entries)
    val plainGen = plainRows.flatMap { r =>
      // align surviving pre-partitioning rows to the batch schema (an
      // evolved table's old plain generation may be narrower); when the
      // anti-join leaves NO survivors, write nothing — a permanent
      // zero-row always-scan entry would tax every later read
      val aligned = r.select(df.schema.map(f =>
        (if (r.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)): _*)
      if (aligned.isEmpty) None
      else Some(writeGeneration(spark, root, aligned, partFields,
        bloomCols = bloomColsAt(spark, root)))
    }
    val plainEntries = plainGen.toSeq.flatMap(g =>
      genEntries(spark, root, g))
    val newEntries = entries ++ plainEntries
    val genStats = genStatsForEntries(spark, root, newEntries, statsCols)
    // PUBLISH WITH PARTITION-DISJOINT REBASE: commits that landed since
    // the base must be append- or replace-partitions-shaped,
    // tombstone-free, and touch only leaves whose tuples avoid this
    // batch's — then the write rebases (carried set recomputed from the
    // tip, which includes the interveners' new disjoint leaves). The
    // conflict check itself is manifest-sized.
    val disjoint = PastIf(i =>
      Set("append", "replace_partitions").contains(i.kind) &&
        dvHeadersOf(i.snap.meta).isEmpty &&
        (i.added ++ i.removed).forall(e =>
          entryTuple(e).exists(t => !tupleSet.contains(t))))
    var replaced = 0
    publish(spark, root, base, gen +: plainGen.toSeq, disjoint) { tip =>
      val (replacedNow, plainNow, leavesNow) = splitDirs(tip.dirs)
      // the plain set the anti-join was computed against must be intact
      // (an intervening append of a tuple-less generation was already a
      // conflict above; this guards the base-era plain carriers too)
      Option.when(plainNow.toSet == plain.toSet) {
        replaced = replacedNow.size
        val carriedNow = leavesNow ++ (if (plainRows.isEmpty) plainNow else Nil)
        (carriedNow ++ newEntries, Map("replace_partitions" -> "true") ++
          carriedStats(tip.meta, carriedNow) ++ propHeadersOf(tip.meta) ++ genStats)
      }
    }.map(p => (p.v, replaced, p.dirs.size - newEntries.size))
  }

  /** DELETE WHERE as MERGE-ON-READ (deletion vectors): instead of
    * rewriting every generation that contains a match ([[deleteWhere]]'s
    * copy-on-write), write only the MATCHED KEYS as a small key-list
    * generation and stamp it into the manifest as a `dv:<dir>=<keyCol>`
    * header; every subsequent read ([[readAt]], [[readAtPruned]],
    * [[readChanges]]) anti-joins the snapshot against the outstanding
    * key lists (a broadcast — DVs are tiny relative to the table). The
    * economics flip from O(touched files rewritten) to O(matched keys
    * written): at 100 TB, erasing one user costs kilobytes of writes at
    * commit time instead of rewriting every file that holds one of their
    * rows — the Delta deletion-vector / Iceberg merge-on-read trade, with
    * the read-side anti-join as the deferred cost. [[compact]] (or
    * [[optimize]]) MATERIALIZES the tombstones: it reads through the DVs,
    * writes survivors, and publishes with no dv: headers — run it when
    * the read tax outweighs the write savings, and to complete a GDPR
    * erasure (tombstoned bytes are still on disk until then; follow with
    * `vacuum` as [[deleteWhere]] documents).
    *
    * SEMANTICS: a deletion vector tombstones a KEY table-wide — the key
    * stays deleted (including rows for it appended LATER) until a
    * compaction materializes the outstanding DVs, or until a same-key
    * row-level operation re-asserts it: [[mergeInto]]/[[applyRowDelta]]
    * FOLD outstanding same-column tombstones (see [[foldDvs]] — written
    * keys become visible with their authoritative new rows, the rest
    * stay deleted), and [[deleteWhere]] composes by reading through
    * them; only mixed-key-column cases still refuse toward compaction.
    * Deletes are data changes: publishes only at
    * base+1, returns None on a concurrency loss. Matching rows that are
    * ALREADY tombstoned add nothing (the predicate runs over the
    * DV-applied snapshot). Returns Some(new version, keys tombstoned).
    */
  def deleteWhereMor(spark: SparkSession, root: String, pred: Column,
      keyCol: String, raceHook: () => Unit = () => ()): Option[(Long, Long)] = {
    val base = snapshot(spark, root, None)
    val keys = readSnapshot(spark, root, base)
      .filter(pred).select(col(keyCol)).distinct()
      // key lists are tombstones EVERY read anti-joins against: land
      // them advisory-sized, not one near-empty file per shuffle task
      .hint("rebalance")
    // ONE table scan: the key-list write's own job counts the keys via
    // an observation (a pre-count would scan the table a second time —
    // at 100 TB the difference between one pass and two; the r18 shape
    // read the written kilobytes BACK, which was still one extra Spark
    // job per delete)
    val morObs = org.apache.spark.sql.Observation()
    val gen = writeGeneration(spark, root,
      keys.observe(morObs, count(lit(1)).as("n"),
        count(when(col(keyCol).isNull, 1)).as("nn")),
      observeWrite = false)
    val genPath = new Path(root, gen)
    val hfs = fs(spark, root)
    val morVals = morObs.get
    val (nKeys, nNullKeys) = (morVals("n").asInstanceOf[Long],
      morVals("nn").asInstanceOf[Long])
    // a NULL key cannot be tombstoned: the read-side equality anti-join
    // never matches NULL, so the rows would be reported deleted yet stay
    // visible forever. Refuse loudly — NULL-keyed rows need the
    // copy-on-write deleteWhere.
    if (nNullKeys > 0) {
      hfs.delete(genPath, true)
      throw new IllegalArgumentException(
        s"deleteWhereMor: matched rows have NULL $keyCol — a key tombstone " +
          "cannot express them; use deleteWhere (copy-on-write) instead")
    }
    if (nKeys == 0) { // no-op: nothing matches, reclaim the empty gen
      hfs.delete(genPath, true)
      return Some((base.v, 0L))
    }
    raceHook()
    publish(spark, root, base, Seq(gen), AtBase)(_ => Some((base.dirs,
      carriedHeaders(base.meta) + (s"dv:$gen" -> keyCol) + ("mor_delete" -> "true"))))
      .map(p => (p.v, nKeys))
  }

  /** EXACTLY-ONCE streaming commit: `foreachBatch` is at-least-once after
    * a restart, so a sink that blindly appends double-writes the replayed
    * micro-batch. Stamping every commit with its (application, batchId)
    * transaction and refusing any batch the log has already absorbed makes
    * the append idempotent — the Delta `txn` contract. Batch ids from one
    * app are monotone, so "already absorbed" is `batchId <= the app's max
    * stamped id`. The check re-runs after every optimistic-concurrency
    * loss, so two racing replays of the same batch cannot both land: the
    * loser re-reads a log that now contains the winner's stamp and skips.
    * Returns (visible version, whether this call committed).
    *
    * `raceHook` is a race-injection seam for specs: it runs after the
    * initial absorbed check and before the publish loop — the window
    * where a racing replay of the SAME batch can land first, which the
    * loop's absorbed re-check must then detect.
    */
  def idempotentCommit(spark: SparkSession, root: String, df: DataFrame,
      appId: String, batchId: Long,
      raceHook: () => Unit = () => ()): (Long, Boolean) = {
    // NEWEST-first with early stop: batch ids from one app are monotone
    // (the documented contract), so the newest manifest stamped by this
    // app carries the app's max absorbed id — one hit answers the
    // question. A streaming sink's own stamp is at or near the log tail,
    // so each micro-batch commit reads O(1) manifests instead of the
    // whole log (the oldest-first `exists` scan was O(V) per commit,
    // O(V²) over a stream's lifetime, re-run on every contention retry).
    def absorbed(vs: Seq[Long]): Boolean =
      vs.reverseIterator
        .map(v => manifestMeta(spark, root, v))
        .collectFirst { case m if m.get("txnApp").contains(appId) =>
          m.get("txnBatch").exists(_.toLong >= batchId)
        }.getOrElse(false)
    val vs0 = versions(spark, root)
    if (absorbed(vs0)) return (vs0.last, false)
    raceHook()
    val base = if (vs0.isEmpty) NoSnapshot else snapshotIn(spark, root, vs0, None)
    requireNoDroppedNames(df, tablePropsOf(base.meta), "idempotentCommit")
    val gen = writeGeneration(spark, root, df,
      partitionFieldsAt(spark, root), bloomCols = bloomColsAt(spark, root))
    val entries = genEntries(spark, root, gen)
    validateGeneration(spark, root, gen, entries)
    val meta = Map("txnApp" -> appId, "txnBatch" -> batchId.toString)
    // a streaming commit is an append (appendOnto); past the base, a
    // racing replay may have won — then this copy must not land
    publish(spark, root, base, Seq(gen), PastAny) { tip =>
      Option.unless(tip.v > base.v && absorbed(versions(spark, root))) {
        val (dirs, carried) = appendOnto(tip, entries)
        (dirs, carried ++ meta)
      }
    }.fold((versions(spark, root).last, false))(p => (p.v, true))
  }

  /** Reclaim storage: delete data generations no RETAINED snapshot
    * references (crash orphans, and — when `keepVersions` trims history —
    * generations only old snapshots used), plus the trimmed manifests
    * and any stale in-flight temp files. Keeping the newest
    * `keepVersions` manifests intact preserves that much time travel;
    * the one data/ listing this format ever does happens here, offline,
    * not on any read path. Returns (generations deleted, manifests
    * deleted).
    *
    * Safe against concurrent WRITERS by the commit order: a writer's
    * generation only becomes referenced when its manifest publishes, so
    * vacuum treats unreferenced dirs younger than the newest manifest as
    * possibly-in-flight and skips them unless `force` (a production
    * vacuum would use an age threshold; this keeps the demo
    * deterministic).
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = Int.MaxValue,
      force: Boolean = false, dryRun: Boolean = false,
      olderThanMicros: Option[Long] = None): (Int, Int) = {
    val hfs = fs(spark, root)
    val vs = versions(spark, root)
    // two independent retention dimensions, both resolved from the
    // manifests alone: COUNT (keep the newest `keepVersions`) and TIME
    // (`olderThanMicros` — drop snapshots PUBLISHED at or before the
    // cutoff, resolved through the same manifest mtimes TIMESTAMP AS OF
    // uses). A version survives only if BOTH rules keep it; the tip
    // always survives. Time-based retention is the production default
    // (Delta's RETAIN n HOURS): age, not count, is what an SLA names.
    // TAGGED versions survive both retention rules (the Iceberg
    // tag-retention contract): a tag exists to make "this exact
    // snapshot" durable, and a vacuum that silently trimmed it would
    // break every VERSION AS OF '<tag>' reader
    val tagged = vs.lastOption.toSeq.flatMap(tip =>
      tablePropsOf(manifestMeta(spark, root, tip)).collect {
        case (k, v) if k.startsWith("ref.") => v.toLong
      }).toSet
    val keep = (vs.takeRight(math.max(1, keepVersions)).filter(v =>
      v == vs.last || olderThanMicros.forall(cut =>
        tsOf(spark, root, v, manifestMeta(spark, root, v)) > cut)) ++
      vs.filter(tagged.contains)).distinct.sorted
    val dropVs = vs.filterNot(keep.contains)
    // a snapshot references its data generations, its deletion-vector
    // key lists (dv: headers — reclaiming a live DV dir would resurrect
    // deleted rows) AND its recorded-CDF dirs (cdf: headers — reclaiming
    // one would break every change-feed read across that commit)
    def refsOf(v: Long): Seq[String] = {
      val meta = manifestMeta(spark, root, v)
      manifestDirs(spark, root, v) ++
        meta.keys.collect {
          case k if k.startsWith("dv:") => k.stripPrefix("dv:")
          case k if k.startsWith("cdf:") => k.stripPrefix("cdf:")
        }
    }
    // BRANCH manifests reference generations too — staged data a
    // fast-forward will publish must survive maintenance on main
    val branchRefs = branches(spark, root).flatMap(b =>
      branchVersions(spark, root, b).flatMap { bv =>
        val (bDirs, bMeta) = branchManifestOf(spark, root, b, bv)
        bDirs ++ bMeta.keys.collect {
          case k if k.startsWith("dv:") => k.stripPrefix("dv:")
          case k if k.startsWith("cdf:") => k.stripPrefix("cdf:")
        }
      })
    val referenced = keep.flatMap(refsOf).toSet ++ branchRefs
    val dataRoot = new Path(root, "data")
    // reclaim units are what manifests REFERENCE: plain generation dirs,
    // or — for partition-routed generations — their `__p_` leaf dirs. A
    // generation whose leaves are only partly referenced (an UPDATE
    // rewrote one partition, siblings carried) keeps the live leaves and
    // reclaims the dead ones.
    def leavesOf(rel: String): Seq[String] = {
      val subs = hfs.listStatus(new Path(root, rel)).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(PartPrefix))
      if (subs.isEmpty) Seq(rel)
      else subs.flatMap(st => leavesOf(s"$rel/${st.getPath.getName}"))
    }
    val deadDirs =
      if (!hfs.exists(dataRoot)) Seq.empty
      else hfs.listStatus(dataRoot).toSeq
        .flatMap(st => leavesOf(s"data/${st.getPath.getName}"))
        .filterNot(referenced.contains)
    // in-flight protection (see Scaladoc): without force, only reclaim a
    // dir that a DROPPED manifest provably owned; never-referenced dirs
    // might be a concurrent writer's not-yet-published generation
    val droppedRefs = dropVs.flatMap(refsOf).toSet
    val deletable = deadDirs.filter(d => force || droppedRefs.contains(d))
    // DRY RUN: report what WOULD be reclaimed without touching anything —
    // the look-before-you-leap every destructive maintenance verb owes
    // (vacuum is the ONE operation here that destroys history)
    if (dryRun) return (deletable.size, dropVs.size)
    deletable.foreach(d => hfs.delete(new Path(root, d), true))
    // deleting a routed generation's last leaf leaves its skeleton dir
    // behind — reclaim parents THIS vacuum emptied itself (never a dir
    // that still holds files or a referenced leaf)
    deletable.map(genPrefixOf).distinct.filterNot(deletable.contains)
      .foreach { g =>
        val gp = new Path(root, g)
        if (hfs.exists(gp) && !hasPartFiles(spark, root, g) &&
            !referenced.contains(g) &&
            !referenced.exists(_.startsWith(g + "/")))
          hfs.delete(gp, true)
      }
    dropVs.foreach(v => hfs.delete(new Path(root, s"_log/$v.commit"), false))
    if (force && hfs.exists(new Path(root, "_log")))
      hfs.listStatus(new Path(root, "_log")).toSeq
        .filter(_.getPath.getName.startsWith(".tmp-"))
        .foreach(st => hfs.delete(st.getPath, false))
    (deletable.size, dropVs.size)
  }

  /** ORPHAN-FILE GC (the Iceberg `remove_orphan_files` / Delta-VACUUM-
    * untracked-side maintenance verb): reclaim GENERATION dirs under
    * `data/` that NO manifest references — main log, every branch, dv:
    * key lists and cdf: recorded-CDF dirs all count as references — and
    * whose directory mtime is at or before `olderThanMicros` (epoch
    * micros; the safety cutoff that protects a CONCURRENT writer's
    * not-yet-published generation — pick an age comfortably above any
    * plausible write duration, days not minutes). These dirs exist only
    * when a writer died between writing its generation and its publish
    * loop (the abort paths reclaim their own); `vacuum` can never touch
    * them because it only reclaims what a DROPPED manifest provably
    * owned. Granularity is the whole generation dir: a generation with
    * ANY referenced leaf is never a candidate. `dryRun` lists without
    * deleting. Returns (dir, bytes, deleted) per orphan.
    */
  def removeOrphans(spark: SparkSession, root: String,
      olderThanMicros: Long,
      dryRun: Boolean = false): Seq[(String, Long, Boolean)] = {
    val hfs = fs(spark, root)
    val refGens: Set[String] = (
      versions(spark, root).flatMap { v =>
        val (dirs, meta) = manifestOf(spark, root, v)
        dirs ++ meta.keys.collect {
          case k if k.startsWith("dv:") => k.stripPrefix("dv:")
          case k if k.startsWith("cdf:") => k.stripPrefix("cdf:")
        }
      } ++
      branches(spark, root).flatMap(b =>
        branchVersions(spark, root, b).flatMap { bv =>
          val (bDirs, bMeta) = branchManifestOf(spark, root, b, bv)
          bDirs ++ bMeta.keys.collect {
            case k if k.startsWith("dv:") => k.stripPrefix("dv:")
            case k if k.startsWith("cdf:") => k.stripPrefix("cdf:")
          }
        })
    ).map(genPrefixOf).toSet
    val dataRoot = new Path(root, "data")
    if (!hfs.exists(dataRoot)) return Nil
    hfs.listStatus(dataRoot).toSeq
      .filter(_.isDirectory)
      .map(st => (s"data/${st.getPath.getName}", st))
      .filter { case (g, st) =>
        !refGens.contains(g) &&
          st.getModificationTime * 1000L <= olderThanMicros
      }
      .map { case (g, _) =>
        val bytes =
          try hfs.getContentSummary(new Path(root, g)).getLength
          catch { case _: java.io.FileNotFoundException => 0L }
        val deleted = !dryRun && hfs.delete(new Path(root, g), true)
        (g, bytes, deleted)
      }
  }

  /** Snapshot-isolated read of version `v` (latest when None): loads
    * exactly the manifest's directories — never a data/ listing.
    */
  def readAt(spark: SparkSession, root: String, v: Option[Long] = None): DataFrame =
    readSnapshot(spark, root, snapshot(spark, root, v))

  /** CDC / incremental consumption: the rows ADDED between two committed
    * versions, read as exactly the data generations the intervening
    * commits appended — for append-only histories the change feed is
    * O(delta) with NO diffing and no snapshot scan (the point of keeping a
    * commit log). The walk is COMMIT-BY-COMMIT so REWRITE commits
    * (compaction, `#rewrite=true`) contribute nothing: they change layout,
    * not content, and a feed that surfaced their generations would
    * double-deliver every compacted row to downstream consumers. An
    * OVERWRITE commit genuinely breaks the append contract — its manifest
    * drops directories without the rewrite stamp — and a generation-level
    * feed would misreport it, so this refuses loudly and callers fall back
    * to the snapshot diff (q108's v2→v3 row, the q65 shape).
    */
  def readChanges(spark: SparkSession, root: String,
      vFrom: Long, vTo: Long): DataFrame = {
    val vs = versions(spark, root)
    require(vs.contains(vFrom) && vs.contains(vTo) && vFrom < vTo,
      s"readChanges: need committed vFrom < vTo, got $vFrom, $vTo in $vs")
    val steps = vs.filter(v => v > vFrom && v <= vTo)
    val added = steps.flatMap { v =>
      if (isRewrite(spark, root, v)) Seq.empty // layout-only: no data change
      else {
        val prev = vs.filter(_ < v).last
        val before = manifestDirs(spark, root, prev)
        val after = manifestDirs(spark, root, v)
        require(before.forall(after.contains),
          s"readChanges: commit v$v is an overwrite (dropped generations) " +
            "— use snapshot diff for non-append histories")
        // a merge-on-read delete RETAINS every generation but changes
        // content by adding a dv: header — a generation-level feed cannot
        // express row removal, so refuse loudly (the overwrite rule's
        // twin). Rewrites are exempt above: compaction APPLIES the DVs it
        // clears, so content across it is unchanged.
        require(dvHeadersOf(manifestMeta(spark, root, v)) ==
            dvHeadersOf(manifestMeta(spark, root, prev)),
          s"readChanges: commit v$v changed deletion vectors (row removal)" +
            " — use snapshot diff for merge-on-read histories")
        after.filterNot(before.contains)
      }
    }
    // a window whose every commit is a rewrite (vacuum/compact cycle with
    // no intervening appends) legitimately changed NOTHING — incremental
    // consumers get an empty, correctly-schema'd feed, not a failure
    if (added.isEmpty) readAt(spark, root, Some(vTo)).limit(0)
    // vTo's outstanding deletion vectors apply to the feed exactly as
    // they apply to snapshots: a key tombstoned before this window's
    // appends stays deleted, so an appended row carrying a tombstoned
    // key is hidden from both — feed + base still reconstructs readAt
    else {
      val toMeta = manifestMeta(spark, root, vTo)
      applyDvs(spark, root, toMeta,
        readDirs(spark, root, added, toMeta))
    }
  }

  /** PARTITION-SUBSCRIBED change feed across (vFrom, vTo]: the plain
    * [[readChanges]] for a consumer that follows ONE partition.
    * `partSpec` is `field=token` over a declared partition FIELD's
    * rendered leaf token (`yr=1995`, `ts_day=2026-08-15`, a bucket
    * number). Appends deliver their added generations RESTRICTED to
    * the subscription (leaves of other partitions are skipped at the
    * manifest — the feed inherits partition pruning's economics), and
    * a `replace_partitions` commit whose touched leaves PROVABLY avoid
    * the subscribed partition delivers nothing instead of failing the
    * feed — a tenant-subscribed consumer doesn't care that another
    * tenant's day was re-loaded. Everything that COULD have changed
    * the subscribed partition still refuses loudly (the loud-by-default
    * rule — a silently skipped mutation would corrupt the consumer's
    * view): an overlapping or tuple-less replace, merge/update/delete,
    * MoR tombstones, overwrite/restore. Appended rows are re-filtered
    * by the transform value, so an unrouted (plain) appended
    * generation still delivers exactly the subscribed rows.
    */
  // parse + bind a `field=token` subscription against a snapshot's
  // declared partition fields
  private def boundPartSpec(meta: Map[String, String],
      partSpec: String): (PartField, String) = {
    val (fname, token) = partSpec.split("=", 2) match {
      case Array(f, t) if f.trim.nonEmpty && t.trim.nonEmpty =>
        (f.trim, t.trim)
      case _ => throw new IllegalArgumentException(
        s"graft-vtable: partition filter must be 'field=token', got '$partSpec'")
    }
    // current fields first, then historical eras — a consumer
    // subscribed to a pre-evolution field keeps its feed (the transform
    // still re-computes row membership; only the routing changed)
    val field = allPartitionFieldsOf(tablePropsOf(meta))
      .find(_.name.equalsIgnoreCase(fname))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-vtable: '$fname' is not a declared partition field of " +
          "this table (current or historical spec)"))
    (field, token)
  }

  // the subscribed rows of a frame: re-apply the transform (pruning is
  // generation-level; an unrouted generation still needs the row filter)
  private def partitionRows(df: DataFrame, field: PartField,
      token: String): DataFrame =
    df.columns.find(_.equalsIgnoreCase(field.source)) match {
      case None => df.limit(0) // generations predate the source column
      case Some(src) =>
        df.filter(field.valueOf(col(src), df.schema(src).dataType)
          .cast("string") === lit(token))
    }

  /** SHOW PARTITIONS for the versioned table: one row per partition
    * TUPLE present in snapshot `v` — manifest entries grouped by their
    * rendered `field=token` path (unescaped), with entry counts and
    * on-disk bytes. The grouping is manifest-driven (no data read, no
    * listing); bytes cost one FS content summary per entry — a
    * maintenance/inspection verb, not a hot path. Tuple-less (plain)
    * entries report under the empty string — pre-partitioning history
    * and schema carriers are part of the honest answer. Returns
    * (partition, n_entries, bytes) sorted by partition.
    */
  def partitionSummary(spark: SparkSession, root: String,
      v: Option[Long] = None): Seq[(String, Int, Long)] = {
    val Snapshot(_, dirs, meta) = snapshot(spark, root, v)
    // render under EVERY era's fields: after a spec evolution the
    // pre-evolution leaves still report their own tuples, not ''
    val fields = allPartitionFieldsOf(tablePropsOf(meta))
    val hfs = fs(spark, root)
    dirs.groupBy { e =>
      fields.flatMap { f =>
        e.split('/').find(_.startsWith(s"$PartPrefix${f.name}="))
          .map(seg => unescapePathToken(seg.stripPrefix(PartPrefix)))
      }.mkString("/")
    }.toSeq.map { case (tok, es) =>
      (tok, es.size,
        es.map(e => hfs.getContentSummary(new Path(root, e)).getLength).sum)
    }.sortBy(_._1)
  }

  /** Validate a `field=token` subscription against the table tip —
    * the option-parse-time check, so a typo'd field fails at
    * load()/analysis instead of first on the stream thread.
    */
  def validatePartitionFilter(spark: SparkSession, root: String,
      partSpec: String): Unit = {
    val vs = versions(spark, root)
    if (vs.nonEmpty) {
      boundPartSpec(manifestMeta(spark, root, vs.last), partSpec)
      ()
    }
  }

  /** The subscribed partition's rows of one snapshot — leaf entries of
    * other partitions never enter the plan (one manifest read decides),
    * and the rows are re-filtered by the transform value so unrouted
    * generations stay correct. The initial-load twin of
    * [[readChangesPartition]].
    */
  def readAtPartition(spark: SparkSession, root: String, v: Option[Long],
      partSpec: String): DataFrame = {
    val snap = snapshot(spark, root, v)
    val (field, token) = boundPartSpec(snap.meta, partSpec)
    val (df, _, _) = readPruned(spark, root, snap, Nil,
      Seq(field.name -> ((t: Option[String]) => t.contains(token))))
    partitionRows(df, field, token)
  }

  def readChangesPartition(spark: SparkSession, root: String,
      vFrom: Long, vTo: Long, partSpec: String): DataFrame = {
    val vs = versions(spark, root)
    require(vs.contains(vFrom) && vs.contains(vTo) && vFrom < vTo,
      s"readChangesPartition: need committed vFrom < vTo, got $vFrom, $vTo in $vs")
    val (_, toMeta) = manifestOf(spark, root, vTo)
    val (field, token) = boundPartSpec(toMeta, partSpec)
    val steps = vs.filter(v => v > vFrom && v <= vTo)
    val added = steps.flatMap { v =>
      if (isRewrite(spark, root, v)) Seq.empty
      else {
        val prev = vs.filter(_ < v).last
        val before = manifestDirs(spark, root, prev)
        val after = manifestDirs(spark, root, v)
        val kind = kindOf(Some(before), after, manifestMeta(spark, root, v))
          .stripSuffix("+txn")
        if (kind == "replace_partitions") {
          val delta = after.filterNot(before.contains) ++
            before.filterNot(after.contains)
          require(delta.forall(e =>
              partValueOf(e, field.name).exists(_ != Some(token))),
            s"readChangesPartition: commit v$v replaced partitions that " +
              s"touch (or cannot be proven disjoint from) ${field.name}=$token " +
              "— resync the subscribed partition from a snapshot")
          Seq.empty // provably disjoint: nothing for this subscription
        } else {
          require(before.forall(after.contains),
            s"readChangesPartition: commit v$v is an overwrite (dropped " +
              "generations) — use snapshot diff for non-append histories")
          require(dvHeadersOf(manifestMeta(spark, root, v)) ==
            dvHeadersOf(manifestMeta(spark, root, prev)),
            s"readChangesPartition: commit v$v changed deletion vectors " +
              "(row removal) — use snapshot diff")
          // keep only leaves of the subscribed partition; entries
          // without the segment must be read (then row-filtered)
          after.filterNot(before.contains)
            .filter(e => partValueOf(e, field.name)
              .forall(_ == Some(token)))
        }
      }
    }
    val base = readAt(spark, root, Some(vTo)).limit(0)
    if (added.isEmpty) base
    else partitionRows(applyDvs(spark, root, toMeta,
      readDirs(spark, root, added, toMeta)), field, token)
  }

  /** Appends-only lenient feed across (vFrom, vTo]: deliver the
    * generations added by append-shaped commits and SILENTLY SKIP
    * data-changing ones (merge/update/delete/MoR/overwrite/restore) —
    * the Delta `skipChangeCommits` semantics, for consumers that only
    * care about arrivals and accept missing the mutations (an
    * append-only downstream index, a notification fan-out). Unlike
    * [[readChanges]] this NEVER refuses; unlike [[tableChanges]] it
    * reports no removals. vTo's outstanding tombstones still apply to
    * what IS delivered.
    */
  def readAppends(spark: SparkSession, root: String,
      vFrom: Long, vTo: Long): DataFrame = {
    val vs = versions(spark, root)
    require(vs.contains(vFrom) && vs.contains(vTo) && vFrom < vTo,
      s"readAppends: need committed vFrom < vTo, got $vFrom, $vTo in $vs")
    val steps = vs.filter(v => v > vFrom && v <= vTo)
    val added = steps.flatMap { v =>
      val prev = vs.filter(_ < v).last
      val before = manifestDirs(spark, root, prev)
      val (after, meta) = manifestOf(spark, root, v)
      val kind = kindOf(Some(before), after, meta).stripSuffix("+txn")
      // wap_publish is append-shaped by construction (fastForward only
      // ADDS the branch's staged generations): the lenient appends feed
      // must deliver WAP-published rows like any other arrival
      if ((kind == "append" || kind == "add_columns" ||
            kind == "wap_publish") &&
          before.forall(after.contains))
        after.filterNot(before.contains)
      else Seq.empty // not an append: skipped by request
    }
    if (added.isEmpty) readAt(spark, root, Some(vTo)).limit(0)
    else {
      val toMeta = manifestMeta(spark, root, vTo)
      applyDvs(spark, root, toMeta,
        readDirs(spark, root, added, toMeta))
    }
  }

  /** CHANGE DATA FEED — row-level changes across (vFrom, vTo] with
    * `_change_type` (`insert` / `delete` / `update_preimage` /
    * `update_postimage`) and `_commit_version` columns, the Delta CDF /
    * Iceberg changelog surface. Where [[readChanges]] delivers appended
    * GENERATIONS (and refuses data-changing commits), this reconstructs
    * per-ROW changes for every commit kind the log can express:
    *
    *  - `create`/`append`/`add_columns`: added generations → `insert`
    *    (the commit's outstanding tombstones applied — a row appended
    *    already-deleted was never visible, so it never changed).
    *  - `rewrite` (compact/optimize), `set_properties`, `tag`,
    *    `set_partition_spec`, `rename_column`: no content change →
    *    nothing. `wap_publish` is append-shaped by construction
    *    (fastForward only adds staged generations; branch commits never
    *    add DVs) → its added generations feed as `insert`.
    *  - `merge`/`update`/`delete` (generation-granular copy-on-write):
    *    the EXACT multiset row diff of the touched generations —
    *    removed-side rows minus added-side rows are preimages, the
    *    reverse are postimages (a rewritten-but-identical neighbor row
    *    nets to zero and is correctly absent). Computed in ONE pass:
    *    both sides tagged ±1 and net-counted per full row (one shuffle
    *    on the changed rows only), then — with a declared row-id (`key`
    *    table property) — paired by key into
    *    `update_preimage`/`update_postimage` via a key-partitioned
    *    window; unpaired (or NULL-key) rows classify as
    *    `delete`/`insert`, and without row identity everything stays
    *    `delete`+`insert` (the honest unkeyed semantics).
    *  - `mor_delete`: the commit's NEW tombstone key lists, joined back
    *    against the prior snapshot for full row images → `delete`.
    *  - `overwrite`/`restore`: refused loudly — no row identity exists
    *    across a wholesale replacement; consumers resync from a
    *    snapshot (the [[readChanges]] rule).
    *
    * Cost is O(changed data), not O(table): appends read only their new
    * generations, CoW diffs read only the touched+rewritten generations
    * (untouched carries never enter the plan), and the only full-scan
    * case is materializing MoR delete images (the tombstoned rows live
    * in unknown generations — one semi-join scan per MoR commit).
    * `vFrom = 0` means "since table creation". Mixed-schema histories
    * align by name (missing columns read NULL, the [[readAt]] rule).
    */
  def tableChanges(spark: SparkSession, root: String,
      vFrom: Long, vTo: Long): DataFrame = {
    val vs = versions(spark, root)
    require((vFrom == 0L || vs.contains(vFrom)) && vs.contains(vTo) &&
        vFrom < vTo,
      s"tableChanges: need committed (or 0) vFrom < vTo, got $vFrom, $vTo in $vs")
    val keyCol = tableProperties(spark, root, Some(vTo)).get("key")
    def tag(df: DataFrame, ct: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(ct))
        .withColumn("_commit_version", lit(v))
    // align two touched-generation sides to one by-name schema (and one
    // set of types) so the net-count diff groups across widened histories
    def aligned(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
      val u = a.limit(0).unionByName(b.limit(0), allowMissingColumns = true)
        .schema
      def fit(df: DataFrame) = df.select(u.map(f =>
        (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)): _*)
      (fit(a), fit(b))
    }
    val parts = vs.filter(v => v > vFrom && v <= vTo).flatMap { v =>
      val (curDirs, curMeta) = manifestOf(spark, root, v)
      lazy val prev = vs.filter(_ < v).last
      lazy val prevDirs = manifestDirs(spark, root, prev)
      val kind = kindOf(vs.find(_ < v).map(_ => prevDirs), curDirs, curMeta)
        .stripSuffix("+txn")
      // RECORDED CDF wins over shape-diffing: the writer that attached
      // `cdf:` headers (or the `cdf_none` no-row-changes marker) knew
      // its exact row-level delta at commit time — serve it verbatim.
      // This is what makes an MV refresh (overwrite-shaped) expressible
      // to a downstream MV at O(changed groups) instead of a refusal.
      val recordedCdf = curMeta.keys
        .collect { case k if k.startsWith("cdf:") => k.stripPrefix("cdf:") }
        .toSeq.sorted
      if (curMeta.get("cdf_none").contains("true")) Nil
      else if (recordedCdf.nonEmpty)
        Seq(readDirs(spark, root, recordedCdf, curMeta)
          .withColumn("_commit_version", lit(v)))
      else kind match {
        case "create" =>
          Seq(tag(applyDvs(spark, root, curMeta,
            readDirs(spark, root, curDirs, curMeta)),
            "insert", v))
        // wap_publish is append-shaped by construction (fastForward only
        // adds the branch's staged generations to the tip's dirs)
        case "append" | "add_columns" | "wap_publish" =>
          val added = curDirs.filterNot(prevDirs.contains)
          if (added.isEmpty) Nil
          else Seq(tag(applyDvs(spark, root, curMeta,
            readDirs(spark, root, added, curMeta)),
            "insert", v))
        // tag/spec-evolution commits are pure metadata (dirs identical
        // by construction) — an incremental consumer must see an empty
        // delta, not a refusal, or tagging a release would force every
        // downstream MV into a full recompute
        case "rewrite" | "set_properties" | "rename_column" |
            "widen_column" | "tag" | "set_partition_spec" => Nil
        case "mor_delete" =>
          val prevDvs = dvHeadersOf(manifestMeta(spark, root, prev)).keySet
          dvHeadersOf(curMeta).toSeq
            .collect { case (k, kc) if !prevDvs.contains(k) =>
              val keys = readDirs(spark, root, Seq(k.stripPrefix("dv:")))
                .select(col(kc)).distinct()
              tag(readAt(spark, root, Some(prev))
                .join(broadcast(keys), Seq(kc), "left_semi"), "delete", v)
            }
        case "merge" | "update" | "delete" | "replace_partitions" =>
          val removed = prevDirs.filterNot(curDirs.contains)
          val added = curDirs.filterNot(prevDirs.contains)
          // each side through ITS OWN version's tombstones: a fold-over-DV
          // merge rewrites generations whose only copy of a key was
          // hidden — the raw removed rows include rows that were never
          // VISIBLE at prev, and a diff without the DV view would emit
          // phantom deletes for them (symmetrically for added)
          val addedRows = applyDvs(spark, root, curMeta,
            readDirs(spark, root, added, curMeta))
          val removedRows =
            if (removed.isEmpty) addedRows.limit(0)
            else applyDvs(spark, root, manifestMeta(spark, root, prev),
              readDirs(spark, root, removed, curMeta))
          val (rem, add) = aligned(removedRows, addedRows)
          // ONE pass over the changed rows: net-count each full row
          // across the two sides (negative net = preimage copies,
          // positive = postimage copies; identical rewrites net to 0)
          val dataCols = rem.columns.toIndexedSeq
          val net = rem.withColumn("_side", lit(-1L))
            .unionByName(add.withColumn("_side", lit(1L)))
            .groupBy(dataCols.map(col): _*)
            .agg(sum(col("_side")).as("_net"))
            .filter(col("_net") =!= 0L)
          val classified = keyCol.filter(dataCols.contains) match {
            case Some(k) =>
              // a key seen on both sides is an update pair; NULL keys
              // carry no identity and never pair
              val w = Window.partitionBy(col(k))
              net
                .withColumn("_pre",
                  max(when(col("_net") < 0, 1).otherwise(0)).over(w))
                .withColumn("_post",
                  max(when(col("_net") > 0, 1).otherwise(0)).over(w))
                .withColumn("_change_type",
                  when(col("_net") < 0,
                    when(col(k).isNotNull && col("_post") === 1,
                      "update_preimage").otherwise("delete"))
                  .otherwise(
                    when(col(k).isNotNull && col("_pre") === 1,
                      "update_postimage").otherwise("insert")))
            case None =>
              net.withColumn("_change_type",
                when(col("_net") < 0, "delete").otherwise("insert"))
          }
          // restore multiset multiplicity (|net| copies of each row)
          Seq(classified
            .withColumn("_dup",
              explode(sequence(lit(1L), abs(col("_net")))))
            .withColumn("_commit_version", lit(v))
            .select((dataCols :+ "_change_type" :+ "_commit_version")
              .map(col): _*))
        case other =>
          throw new IllegalArgumentException(
            s"tableChanges: commit v$v is a $other — row changes across " +
              "it are not expressible; resync from a snapshot")
      }
    }
    val base = tag(readAt(spark, root, Some(vTo)).limit(0), "", 0L).limit(0)
    parts.foldLeft(base)(_.unionByName(_, allowMissingColumns = true))
  }

  // per-invocation fresh root under one shutdown-hook-cleaned temp tree
  // (the q106 convention)
  private lazy val tmpRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_vtable")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        java.nio.file.Files.walk(d)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      } catch { case scala.util.control.NonFatal(_) => () }))
    d
  }
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // fresh per-invocation table root; reclaims stale runs so repeated
  // benches in one JVM hold a bounded number of staging copies
  private def freshRunRoot(): String = {
    val seq = runSeq.incrementAndGet()
    Q.reclaimOldRuns(tmpRoot, seq)
    tmpRoot.resolve(s"run_$seq").toString
  }

  /** q108: TIME TRAVEL — three commits build a version history over the
    * orders table (v1 = 1995 orders, v2 = append 1996, v3 = overwrite
    * with 1996–1997), then every snapshot is read BACK through its
    * manifest and summarized, plus a v2→v3 reconciliation (the q65 diff
    * shape) computed entirely from time-travel reads. The oracle replays
    * the same change log as filters over the base table and never sees
    * the format — so the hash match proves each manifest read returns
    * exactly its committed snapshot, append really unions, overwrite
    * really replaces, and old versions stay readable after later commits.
    */
  val q108TimeTravel: Q = Q(
    "q108_time_travel",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yrs: Seq[Int]) = orders.filter(col("yr").isin(yrs.map(Integer.valueOf): _*))
      val v1 = commit(s, root, slice(Seq(1995)), overwrite = true)
      val v2 = commit(s, root, slice(Seq(1996)), overwrite = false)
      val v3 = commit(s, root, slice(Seq(1996, 1997)), overwrite = true)
      def summary(v: Long) = readAt(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(Q.dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .select(lit(s"v$v").as("snapshot"), col("n_rows"), col("n_cust"),
          col("revenue"))
      val diff = readAt(s, root, Some(v2)).select(col("o_orderkey"))
        .withColumn("in_old", lit(1))
        .join(readAt(s, root, Some(v3)).select(col("o_orderkey"))
          .withColumn("in_new", lit(1)), Seq("o_orderkey"), "full")
        .agg(
          sum(when(col("in_old").isNull, 1L).otherwise(0L)).as("n_rows"),
          sum(when(col("in_new").isNull, 1L).otherwise(0L)).as("n_cust"))
        .select(lit("diff_v2_v3").as("snapshot"),
          col("n_rows"), // keys added by the v3 overwrite
          col("n_cust"), // keys removed by the v3 overwrite
          lit(null).cast("double").as("revenue"))
      summary(v1).unionByName(summary(v2)).unionByName(summary(v3))
        .unionByName(diff)
        .orderBy(col("snapshot"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
          year(o_orderdate) AS yr
        FROM orders),
      v1 AS (SELECT * FROM o WHERE yr IN (1995)),
      v2 AS (SELECT * FROM o WHERE yr IN (1995, 1996)),
      v3 AS (SELECT * FROM o WHERE yr IN (1996, 1997))
      SELECT 'v1' AS snapshot, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM v1
      UNION ALL
      SELECT 'v2', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v2
      UNION ALL
      SELECT 'v3', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v3
      UNION ALL
      SELECT 'diff_v2_v3',
        CAST((SELECT count(*) FROM v3 WHERE o_orderkey NOT IN
          (SELECT o_orderkey FROM v2)) AS BIGINT),
        CAST((SELECT count(*) FROM v2 WHERE o_orderkey NOT IN
          (SELECT o_orderkey FROM v3)) AS BIGINT),
        CAST(NULL AS DOUBLE)
      ORDER BY snapshot"""))

  /** q110: CDC CHANGE FEED — an append-only version history (base 1995,
    * append 1996, append 1997) consumed INCREMENTALLY: each
    * [[readChanges]] step reads only the generations its target manifest
    * added (O(delta), no diffing, no snapshot scan), and the final
    * snapshot read proves feed + base reconstructs the table. The oracle
    * replays the same change log as year filters and never sees the
    * format, so the hash match proves each feed step returned exactly the
    * rows its commit appended — the downstream-materialized-view refresh
    * pattern every lakehouse consumer runs.
    */
  val q110CdcFeed: Q = Q(
    "q110_cdc_feed",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      val v1 = commit(s, root, slice(1995), overwrite = true)
      val v2 = commit(s, root, slice(1996), overwrite = false)
      val v3 = commit(s, root, slice(1997), overwrite = false)
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(Q.dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      summary("changes_v1_v2", readChanges(s, root, v1, v2))
        .unionByName(summary("changes_v2_v3", readChanges(s, root, v2, v3)))
        .unionByName(summary("snapshot_v3", readAt(s, root, Some(v3))))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
          year(o_orderdate) AS yr
        FROM orders)
      SELECT 'changes_v1_v2' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM o WHERE yr = 1996
      UNION ALL
      SELECT 'changes_v2_v3', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr = 1997
      UNION ALL
      SELECT 'snapshot_v3', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      ORDER BY step"""))

  /** q111: CDC FEED ACROSS COMPACTION — the history interleaves a
    * [[compact]] rewrite with appends (v1 base 1995, v2 append 1996,
    * v3 COMPACT, v4 append 1997) and consumes it incrementally. The feed
    * must (a) skip the rewrite entirely — v3 changed layout, not content,
    * and surfacing its generation would double-deliver every compacted
    * row downstream; (b) return an EMPTY feed, not a failure, for the
    * compaction-only window v2→v3 — "nothing changed" is a legitimate
    * result an incremental consumer must survive; (c) still deliver the
    * post-compaction append v3→v4 and the full span v1→v4 as exactly the
    * appended rows. The `gen_audit` row pins the format invariant through
    * the driver gate: the v2 manifest holds 2 generations, the compacted
    * v3 manifest holds 1. The oracle replays the change log as year
    * filters and never sees the format — compaction is invisible to it,
    * which is precisely the claim under test.
    */
  val q111CompactedFeed: Q = Q(
    "q111_compacted_feed",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      val v1 = commit(s, root, slice(1995), overwrite = true)
      val v2 = commit(s, root, slice(1996), overwrite = false)
      val v3 = compact(s, root)
        .getOrElse(sys.error("q111: compaction lost a race on a private table"))
      val v4 = commit(s, root, slice(1997), overwrite = false)
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(Q.dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      val genAudit = s.range(1).select(lit("gen_audit").as("step"),
        lit(manifestDirs(s, root, v2).size.toLong).as("n_rows"),
        lit(manifestDirs(s, root, v3).size.toLong).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      summary("changes_v1_v2", readChanges(s, root, v1, v2))
        .unionByName(summary("changes_v2_v3", readChanges(s, root, v2, v3)))
        .unionByName(summary("changes_v3_v4", readChanges(s, root, v3, v4)))
        .unionByName(summary("changes_v1_v4", readChanges(s, root, v1, v4)))
        .unionByName(summary("snapshot_v4", readAt(s, root, Some(v4))))
        .unionByName(genAudit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
          year(o_orderdate) AS yr
        FROM orders)
      SELECT 'changes_v1_v2' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM o WHERE yr = 1996
      UNION ALL
      SELECT 'changes_v2_v3', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE FALSE
      UNION ALL
      SELECT 'changes_v3_v4', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr = 1997
      UNION ALL
      SELECT 'changes_v1_v4', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1996, 1997)
      UNION ALL
      SELECT 'snapshot_v4', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      UNION ALL
      SELECT 'gen_audit', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
        CAST(NULL AS DOUBLE)
      ORDER BY step"""))

  /** q112: VERSIONED MERGE (upsert) — [[mergeInto]] copy-on-write over a
    * three-generation history: v1 = 1995 even keys, v2 = append 1995 odd
    * keys, v3 = append 1996. The source updates every 1996 order with
    * key % 10 = 0 (price + 10.00) and inserts the matching slice of 1997
    * — so ONLY the 1996 generation contains matched keys, and the merge
    * must rewrite that one generation while carrying the two 1995
    * generations into the v4 manifest verbatim (`gen_audit`: 1 touched,
    * 2 carried). `time_travel_pre` re-reads v3 AFTER the merge and must
    * equal `pre_merge` — copy-on-write never disturbs a published
    * snapshot. The oracle replays the merge as a CASE over the base
    * table; the hash match proves matched rows updated, unmatched
    * survived, inserts landed, and nothing was delivered twice.
    */
  val q112VersionedMerge: Q = Q(
    "q112_versioned_merge",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"),
          year(col("o_orderdate")).as("yr"))
      val v1 = commit(s, root,
        orders.filter(col("yr") === 1995 && col("o_orderkey") % 2 === 0),
        overwrite = true)
      commit(s, root,
        orders.filter(col("yr") === 1995 && col("o_orderkey") % 2 === 1),
        overwrite = false)
      val v3 = commit(s, root, orders.filter(col("yr") === 1996),
        overwrite = false)
      require(v1 == 1L && v3 == 3L, "q112: private table, linear history")
      val updates = orders
        .filter(col("yr") === 1996 && col("o_orderkey") % 10 === 0)
        .withColumn("price",
          (col("price") + lit(BigDecimal("10.00")))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      val inserts = orders
        .filter(col("yr") === 1997 && col("o_orderkey") % 10 === 0)
      val (v4, touched, carried) =
        mergeInto(s, root, updates.unionByName(inserts), "o_orderkey")
          .getOrElse(sys.error("q112: merge lost a race on a private table"))
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(col("price")).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      val post = readAt(s, root, Some(v4))
      val genAudit = s.range(1).select(lit("gen_audit").as("step"),
        lit(touched.toLong).as("n_rows"), lit(carried.toLong).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      summary("pre_merge", readAt(s, root, Some(v3)))
        .unionByName(summary("post_merge", post))
        .unionByName(summary("time_travel_pre", readAt(s, root, Some(v3))))
        .unionByName(summary("updated_rows",
          post.filter(col("yr") === 1996 && col("o_orderkey") % 10 === 0)))
        .unionByName(summary("inserted_rows", post.filter(col("yr") === 1997)))
        .unionByName(genAudit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      pre AS (SELECT * FROM o WHERE yr IN (1995, 1996)),
      post AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN yr = 1996 AND o_orderkey % 10 = 0
            THEN CAST(price + 10.00 AS DECIMAL(18,2)) ELSE price END AS price,
          yr
        FROM pre
        UNION ALL
        SELECT o_orderkey, o_custkey, price, yr FROM o
        WHERE yr = 1997 AND o_orderkey % 10 = 0)
      SELECT 'pre_merge' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(price) AS DOUBLE) AS revenue FROM pre
      UNION ALL
      SELECT 'post_merge', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM post
      UNION ALL
      SELECT 'time_travel_pre', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM pre
      UNION ALL
      SELECT 'updated_rows', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM post
      WHERE yr = 1996 AND o_orderkey % 10 = 0
      UNION ALL
      SELECT 'inserted_rows', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM post WHERE yr = 1997
      UNION ALL
      SELECT 'gen_audit', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
        CAST(NULL AS DOUBLE)
      ORDER BY step"""))

  /** q113: EXACTLY-ONCE SINK — replays the at-least-once delivery
    * schedule a restarted `foreachBatch` sink produces (batch 0, batch 1,
    * batch 1 REPLAYED, batch 2, batch 0 REPLAYED) through
    * [[idempotentCommit]]. Each attempt's committed/skipped outcome is a
    * result row, so the driver gate hash-pins the txn-stamp contract
    * itself: fresh batches land (1), replays are absorbed (0) no matter
    * how much later they arrive, and the final table holds every batch's
    * rows exactly once — the Delta `txn` exactly-once guarantee that
    * turns Structured Streaming's at-least-once `foreachBatch` into an
    * exactly-once pipeline (the `streaming/StreamingUpsert` scenario,
    * here at the table-format layer).
    */
  val q113ExactlyOnceSink: Q = Q(
    "q113_exactly_once_sink",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      // the delivery schedule after two simulated restarts: replays of
      // b1 (immediately) and b0 (long after newer batches committed)
      val attempts = Seq(
        ("b0", 1995, 0L), ("b1", 1996, 1L), ("b1_replay", 1996, 1L),
        ("b2", 1997, 2L), ("b0_replay", 1995, 0L))
      val flags = attempts.map { case (nm, yr, bid) =>
        val (_, committed) = idempotentCommit(s, root, slice(yr), "etl_app", bid)
        s.range(1).select(lit(s"attempt_$nm").as("step"),
          lit(if (committed) 1L else 0L).as("n_rows"),
          lit(0L).as("n_cust"), lit(null).cast("double").as("revenue"))
      }.reduce(_ unionByName _)
      val finalTable = readAt(s, root)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(Q.dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .select(lit("final_table").as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      flags.unionByName(finalTable).orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr
        FROM orders)
      SELECT 'attempt_b0' AS step, CAST(1 AS BIGINT) AS n_rows,
        CAST(0 AS BIGINT) AS n_cust, CAST(NULL AS DOUBLE) AS revenue
      UNION ALL
      SELECT 'attempt_b1', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'attempt_b1_replay', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'attempt_b2', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'attempt_b0_replay', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'final_table', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      ORDER BY step"""))

  /** q114: SCHEMA EVOLUTION on the versioned table — the v2 append
    * carries a column (`priority`) the v1 base generation never wrote.
    * [[readDirs]] aligns generations BY NAME, so the v2 snapshot reads
    * v1's rows with NULL priority (counted by `n_with_priority` = only
    * the 1996 rows), v1 itself keeps its own narrower schema, and the
    * change feed delivers the widened generation with its full schema.
    * The oracle replays the history over the base table where the column
    * always existed — the hash match proves widening a table NEVER
    * changes, drops, or misassigns existing data (what a positional or
    * sampled-schema parquet read of mixed generations would get wrong).
    */
  val q114SchemaEvolution: Q = Q(
    "q114_schema_evolution",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
      val base = orders.filter(year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"))
      val widened = orders.filter(year(col("o_orderdate")) === 1996)
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"),
          col("o_orderpriority").as("priority"))
      val v1 = commit(s, root, base, overwrite = true)
      val v2 = commit(s, root, widened, overwrite = false)
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          count(col("priority")).as("n_with_priority"),
          sum(col("price")).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"),
          col("n_with_priority"), col("revenue"))
      // v1 still reads with its OWN narrower schema — no phantom column
      val v1Summary = readAt(s, root, Some(v1))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("double").as("revenue"))
        .select(lit("snapshot_v1").as("step"), col("n_rows"),
          lit(0L).as("n_with_priority"), col("revenue"))
      v1Summary
        .unionByName(summary("snapshot_v2", readAt(s, root, Some(v2))))
        .unionByName(summary("changes_v1_v2", readChanges(s, root, v1, v2)))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders)
      SELECT 'snapshot_v1' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(0 AS BIGINT) AS n_with_priority,
        CAST(sum(price) AS DOUBLE) AS revenue
      FROM o WHERE yr = 1995
      UNION ALL
      SELECT 'snapshot_v2', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996)
      UNION ALL
      SELECT 'changes_v1_v2', CAST(count(*) AS BIGINT),
        CAST(count(*) AS BIGINT), CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = 1996
      ORDER BY step"""))

  /** q115: DATA SKIPPING — a time-partitioned append history (one
    * generation per year, each committed with `statsCol = yr` bounds in
    * the manifest) queried for one year through [[readAtPruned]]. The
    * `prune_audit` row pins the scan economics through the driver gate:
    * 1 of 3 generations read — the decision made from ONE manifest, no
    * file listing, no footers — which at 100 TB is the difference
    * between an O(window) and an O(table) scan for every time-bounded
    * query. The pruned result must still hash-match an oracle computed
    * over the FULL table with a row filter: pruning may only skip
    * generations the predicate provably cannot touch.
    */
  val q115DataSkipping: Q = Q(
    "q115_data_skipping",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      commit(s, root, slice(1995), overwrite = true, statsCol = Some("yr"))
      commit(s, root, slice(1996), overwrite = false, statsCol = Some("yr"))
      commit(s, root, slice(1997), overwrite = false, statsCol = Some("yr"))
      val (pruned, read, total) = readAtPruned(s, root, None,
        Seq(("yr", 1997L, 1997L)))
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(Q.dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      // pruning is generation-level; the row predicate still applies
      val audit = s.range(1).select(lit("prune_audit").as("step"),
        lit(read.toLong).as("n_rows"), lit(total.toLong).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      summary("pruned_1997", pruned.filter(col("yr") === 1997))
        .unionByName(audit)
        .unionByName(summary("snapshot", readAt(s, root)))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr
        FROM orders)
      SELECT 'pruned_1997' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM o WHERE yr = 1997
      UNION ALL
      SELECT 'prune_audit', CAST(1 AS BIGINT), CAST(3 AS BIGINT),
        CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'snapshot', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      ORDER BY step"""))

  /** q116: VERSIONED DELETE (erasure) — [[deleteWhere]] copy-on-write
    * over a customer-keyed ingest layout (three generations by
    * `o_custkey % 3`). Erasing the consent-revoked cohort
    * `o_custkey % 51 = 0` (51 = 3·17, so every cohort member lives in
    * the `% 3 = 0` generation) must rewrite exactly ONE generation and
    * carry the other two verbatim — the `gen_audit` row pins 1 touched /
    * 2 carried, and its `revenue` column carries the engine's own
    * deleted-row count against an oracle that counts the cohort
    * independently. `post_delete` hash-matches the table minus the
    * cohort; `time_travel_pre` proves the pre-delete snapshot still
    * reads intact (which is why a COMPLETED erasure must then `vacuum`
    * the old versions — the Scaladoc contract).
    */
  val q116VersionedDelete: Q = Q(
    "q116_versioned_delete",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"))
      (0 to 2).foreach { m =>
        commit(s, root, orders.filter(col("o_custkey") % 3 === m),
          overwrite = m == 0)
      }
      val vPre = versions(s, root).last
      val (vPost, nDeleted, touched, carried) =
        deleteWhere(s, root, col("o_custkey") % 51 === 0)
          .getOrElse(sys.error("q116: delete lost a race on a private table"))
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(col("price")).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      val genAudit = s.range(1).select(lit("gen_audit").as("step"),
        lit(touched.toLong).as("n_rows"), lit(carried.toLong).as("n_cust"),
        lit(nDeleted).cast("double").as("revenue"))
      summary("pre_delete", readAt(s, root, Some(vPre)))
        .unionByName(summary("post_delete", readAt(s, root, Some(vPost))))
        .unionByName(summary("time_travel_pre", readAt(s, root, Some(vPre))))
        .unionByName(genAudit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders)
      SELECT 'pre_delete' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(price) AS DOUBLE) AS revenue FROM o
      UNION ALL
      SELECT 'post_delete', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM o WHERE o_custkey % 51 <> 0
      UNION ALL
      SELECT 'time_travel_pre', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM o
      UNION ALL
      SELECT 'gen_audit', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
        CAST((SELECT count(*) FROM o WHERE o_custkey % 51 = 0) AS DOUBLE)
      ORDER BY step"""))

  /** q117: the PUBLIC DataSource surface — the same versioned history
    * driven entirely through `format("graft-vtable")`
    * ([[graft.sources.VTableSource]]): SaveMode.Overwrite/Append writes
    * become commits (with `statsCol` bounds recorded), `versionAsOf`
    * time-travels, and a `pruneCol` read under a year filter goes
    * through manifest-stats generation pruning before the row filter.
    * The oracle replays year filters over the base table, so the hash
    * match proves the reader/writer API round-trips the format with the
    * exact semantics the library-level calls have — what a user who only
    * speaks `spark.read`/`spark.write` actually gets.
    */
  val q117VTableConnector: Q = Q(
    "q117_vtable_connector",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def put(yr: Int, mode: String): Unit = orders
        .filter(col("yr") === yr)
        .write.format("graft-vtable")
        .option("path", root).option("statsCol", "yr")
        .mode(mode).save()
      put(1995, "overwrite"); put(1996, "append"); put(1997, "append")
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(Q.dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      val pruned = s.read.format("graft-vtable")
        .option("path", root).option("pruneCol", "yr").load()
        .filter(col("yr") === 1996)
      val asOf1 = s.read.format("graft-vtable")
        .option("path", root).option("versionAsOf", "1").load()
      val snapshot = s.read.format("graft-vtable").option("path", root).load()
      summary("pruned_1996", pruned)
        .unionByName(summary("time_travel_v1", asOf1))
        .unionByName(summary("snapshot", snapshot))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr
        FROM orders)
      SELECT 'pruned_1996' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM o WHERE yr = 1996
      UNION ALL
      SELECT 'time_travel_v1', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr = 1995
      UNION ALL
      SELECT 'snapshot', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      ORDER BY step"""))

  /** q118: SQL TIME TRAVEL — the same year-sliced history queried purely
    * through SQL against [[graft.sources.VTableCatalog]]: `VERSION AS OF`
    * resolves a log version, `TIMESTAMP AS OF` resolves through manifest
    * PUBLISH times (the atomic rename is the commit point, so its mtime
    * is the commit timestamp — the probe instant sits strictly between
    * v2's and v3's publishes and must see exactly v2), and a filtered
    * read runs the DSv2 pushdown → V1 fallback → generation-pruning
    * path (`pruneCol = yr`). A fresh catalog NAME per invocation works
    * around the CatalogManager instance cache. The oracle replays year
    * filters over the base table — catalog resolution, time travel, and
    * pruning must all be invisible to the result.
    */
  val q118SqlTimeTravel: Q = Q(
    "q118_sql_time_travel",
    (s, dir) => {
      val root = freshRunRoot()
      val table = s"$root/main/orders_v"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      commit(s, table, slice(1995), overwrite = true, statsCol = Some("yr"))
      commit(s, table, slice(1996), overwrite = false, statsCol = Some("yr"))
      commit(s, table, slice(1997), overwrite = false, statsCol = Some("yr"))
      val cat = "vtq118_" + new Path(root).getName.stripPrefix("run_")
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.pruneCol", "yr")
      val t2 = commitTimestamp(s, table, 2L)
      val t3 = commitTimestamp(s, table, 3L)
      require(t3 > t2, "q118: v2/v3 publish times must be distinguishable")
      val mid = t2 + (t3 - t2) / 2
      val midLit = java.time.Instant
        .ofEpochSecond(mid / 1000000L, (mid % 1000000L) * 1000L).toString
      def summarize(step: String, suffix: String) = s.sql(
        s"SELECT '$step' AS step, CAST(count(*) AS BIGINT) AS n_rows, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
          s"FROM $cat.main.orders_v $suffix")
      summarize("sql_v1", "VERSION AS OF 1")
        .unionByName(summarize("sql_ts_v2", s"TIMESTAMP AS OF '$midLit'"))
        .unionByName(summarize("sql_filtered", "WHERE yr = 1997"))
        .unionByName(summarize("sql_latest", ""))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr
        FROM orders)
      SELECT 'sql_v1' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM o WHERE yr = 1995
      UNION ALL
      SELECT 'sql_ts_v2', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996)
      UNION ALL
      SELECT 'sql_filtered', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr = 1997
      UNION ALL
      SELECT 'sql_latest', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      ORDER BY step"""))

  /** q119: RESTORE — the undo button for a bad load. History v1 = 1995,
    * v2 = append 1996, v3 = append 1997 (the "bad" commit); [[restore]]
    * to v2 publishes v4 whose manifest COPIES v2's — no data movement
    * (restoring a 100 TB table writes one bytes-sized manifest), history
    * preserved (`bad_tip_v3` proves the rolled-back state still time
    * travels), pre-restore feeds still replay (`feed_v1_v2`), and the
    * `restore_audit` row pins the commit mechanics through the driver
    * gate: v4 holds exactly v2's 2 generations, is stamped
    * `#restore=2`, and sits at version 4 — rollback as an auditable
    * commit, not a destructive reset. The oracle replays year filters
    * and never sees the format: a restore must be indistinguishable from
    * having never loaded the bad data.
    */
  val q119Restore: Q = Q(
    "q119_restore",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      val v1 = commit(s, root, slice(1995), overwrite = true)
      val v2 = commit(s, root, slice(1996), overwrite = false)
      val v3 = commit(s, root, slice(1997), overwrite = false)
      val v4 = restore(s, root, v2)
        .getOrElse(sys.error("q119: restore lost a race on a private table"))
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(Q.dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      val audit = s.range(1).select(lit("restore_audit").as("step"),
        lit(manifestDirs(s, root, v4).size.toLong).as("n_rows"),
        lit(manifestMeta(s, root, v4)("restore").toLong).as("n_cust"),
        lit(v4.toDouble).as("revenue"))
      summary("snapshot_after_restore", readAt(s, root))
        .unionByName(summary("bad_tip_v3", readAt(s, root, Some(v3))))
        .unionByName(summary("feed_v1_v2", readChanges(s, root, v1, v2)))
        .unionByName(audit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr
        FROM orders)
      SELECT 'snapshot_after_restore' AS step,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM o WHERE yr IN (1995, 1996)
      UNION ALL
      SELECT 'bad_tip_v3', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      UNION ALL
      SELECT 'feed_v1_v2', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr = 1996
      UNION ALL
      SELECT 'restore_audit', CAST(2 AS BIGINT), CAST(2 AS BIGINT),
        CAST(4 AS DOUBLE)
      ORDER BY step"""))

  /** q120: DELETION VECTORS (merge-on-read delete) — the same
    * customer-keyed erasure as q116, with flipped economics:
    * [[deleteWhereMor]] tombstones the cohort's KEYS in a kilobyte
    * key-list generation instead of rewriting every file that holds a
    * cohort row. The `dv_audit` row pins the write-side claim through
    * the driver gate: v4 still holds all 3 DATA generations untouched
    * (0 files rewritten), one dv: header, and the engine's own tombstone
    * count matches an oracle that counts the cohort independently.
    * `snapshot_after_append` pins the TOMBSTONE semantics: cohort rows
    * re-appended at v5 stay hidden — a tombstoned key is deleted
    * table-wide until materialized. [[compact]] at v6 then MATERIALIZES
    * the deletes (reads through the DVs, writes survivors, clears the
    * headers — `compact_audit`: 1 generation, 0 dv headers), after which
    * the snapshot is bit-identical to the merge-on-read view. The oracle
    * only ever filters the base table: merge-on-read vs copy-on-write
    * must be invisible to every reader.
    */
  val q120DeletionVectors: Q = Q(
    "q120_deletion_vectors",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"))
      (0 to 2).foreach { m =>
        commit(s, root, orders.filter(col("o_custkey") % 3 === m),
          overwrite = m == 0)
      }
      val vPre = versions(s, root).last
      val (v4, nKeys) =
        deleteWhereMor(s, root, col("o_custkey") % 51 === 0, "o_custkey")
          .getOrElse(sys.error("q120: MoR delete lost a race on a private table"))
      // re-append the cohort's rows: every key is tombstoned, so the
      // snapshot must not change until a compaction clears the DVs
      commit(s, root, orders.filter(col("o_custkey") % 51 === 0),
        overwrite = false)
      val afterAppend = versions(s, root).last
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(col("price")).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      val postDelete = summary("post_delete", readAt(s, root, Some(v4)))
      val postAppend =
        summary("snapshot_after_append", readAt(s, root, Some(afterAppend)))
      val dvAudit = s.range(1).select(lit("dv_audit").as("step"),
        lit(manifestDirs(s, root, v4).size.toLong).as("n_rows"),
        lit(dvHeadersOf(manifestMeta(s, root, v4)).size.toLong).as("n_cust"),
        lit(nKeys).cast("double").as("revenue"))
      val v6 = compact(s, root)
        .getOrElse(sys.error("q120: compaction lost a race on a private table"))
      val compactAudit = s.range(1).select(lit("compact_audit").as("step"),
        lit(manifestDirs(s, root, v6).size.toLong).as("n_rows"),
        lit(dvHeadersOf(manifestMeta(s, root, v6)).size.toLong).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      postDelete
        .unionByName(postAppend)
        .unionByName(summary("time_travel_pre", readAt(s, root, Some(vPre))))
        .unionByName(summary("post_compact", readAt(s, root, Some(v6))))
        .unionByName(dvAudit)
        .unionByName(compactAudit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders),
      live AS (SELECT * FROM o WHERE o_custkey % 51 <> 0)
      SELECT 'post_delete' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(price) AS DOUBLE) AS revenue FROM live
      UNION ALL
      SELECT 'snapshot_after_append', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM live
      UNION ALL
      SELECT 'time_travel_pre', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM o
      UNION ALL
      SELECT 'post_compact', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE) FROM live
      UNION ALL
      SELECT 'dv_audit', CAST(3 AS BIGINT), CAST(1 AS BIGINT),
        CAST((SELECT count(DISTINCT o_custkey) FROM o
          WHERE o_custkey % 51 = 0) AS DOUBLE)
      UNION ALL
      SELECT 'compact_audit', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        CAST(NULL AS DOUBLE)
      ORDER BY step"""))

  /** q121: NATIVE STREAMING SINK — `writeStream.format("graft-vtable")`
    * driven end-to-end by THREE REAL Structured Streaming runs: a
    * file-source inbox receives one year slice before each
    * `Trigger.AvailableNow` run, all three share one checkpoint, and
    * every micro-batch lands through [[graft.sources.VTableSink]] →
    * [[idempotentCommit]] with the stream's (txnAppId, batchId) stamp.
    * The per-run snapshots prove each restart consumed exactly the new
    * file; `replay_audit` then REDELIVERS the last stamped batch the way
    * an at-least-once restart would (same appId, same batchId read back
    * from the tip manifest) and pins that the log absorbs it — 0
    * committed, version count unchanged. The oracle replays year filters
    * over the base table: exactly-once must mean the streamed table is
    * indistinguishable from a batch load, no matter how many times a
    * batch is delivered.
    */
  val q121StreamSink: Q = Q(
    "q121_stream_sink",
    (s, dir) => {
      val run = freshRunRoot()
      val table = s"$run/table"
      val inbox = s"$run/inbox"
      val hfs = fs(s, run)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      hfs.mkdirs(new Path(inbox))
      def stage(i: Int, yr: Int): Unit = {
        val tmp = s"$run/stage$i"
        slice(yr).coalesce(1).write.parquet(tmp)
        val part = hfs.listStatus(new Path(tmp))
          .map(_.getPath).find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"q121: no part file staged for $yr"))
        hfs.rename(part, new Path(inbox, s"batch$i.parquet"))
        ()
      }
      def streamRun(): Long = {
        s.readStream.schema(orders.schema).parquet(inbox)
          .writeStream.format("graft-vtable")
          .option("path", table).option("txnAppId", "q121_app")
          .option("checkpointLocation", s"$run/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
        versions(s, table).last
      }
      stage(1, 1995); val vRun1 = streamRun()
      stage(2, 1996); val vRun2 = streamRun()
      stage(3, 1997); val vRun3 = streamRun()
      // an at-least-once redelivery of the LAST stamped batch: same app,
      // same batch id (read back from the tip manifest) — must be absorbed
      val lastBatch = manifestMeta(s, table, vRun3)("txnBatch").toLong
      val (vReplay, committed) =
        idempotentCommit(s, table, slice(1997), "q121_app", lastBatch)
      def summary(step: String, df: DataFrame) = df
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(Q.dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .select(lit(step).as("step"), col("n_rows"), col("n_cust"),
          col("revenue"))
      val audit = s.range(1).select(lit("replay_audit").as("step"),
        lit(if (committed) 1L else 0L).as("n_rows"),
        lit(if (vReplay == vRun3) 1L else 0L).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      summary("stream_run1", readAt(s, table, Some(vRun1)))
        .unionByName(summary("stream_run2", readAt(s, table, Some(vRun2))))
        .unionByName(summary("stream_run3", readAt(s, table, Some(vRun3))))
        .unionByName(audit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr
        FROM orders)
      SELECT 'replay_audit' AS step, CAST(0 AS BIGINT) AS n_rows,
        CAST(1 AS BIGINT) AS n_cust, CAST(NULL AS DOUBLE) AS revenue
      UNION ALL
      SELECT 'stream_run1', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr = 1995
      UNION ALL
      SELECT 'stream_run2', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996)
      UNION ALL
      SELECT 'stream_run3', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      ORDER BY step"""))

  /** q122: SQL WRITES — the table is created and mutated purely through
    * SQL against [[graft.sources.VTableCatalog]]: `CREATE TABLE … AS
    * SELECT` (version 1 = the empty schema-bearing commit, version 2 =
    * the CTAS data as an append), `INSERT INTO` (append commit, v3),
    * `INSERT OVERWRITE` (overwrite commit, v4) — every statement one
    * atomic manifest publish through the V1Write bridge. `sql_empty_v1`
    * pins the create semantics (the pre-CTAS table is readable and
    * empty), `sql_pre_overwrite` time-travels to v3 proving the
    * overwrite replaced rather than appended AND that the replaced
    * snapshot survives, and `write_audit` pins the commit ledger: 3
    * versions before the overwrite, 4 after. The oracle replays year
    * filters over the base table — four SQL statements must leave
    * exactly the state the equivalent batch commits would.
    */
  val q122SqlWrites: Q = Q(
    "q122_sql_writes",
    (s, dir) => {
      val root = freshRunRoot()
      val tag = new Path(root).getName.stripPrefix("run_")
      val cat = s"vtq122_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val view = s"q122_orders_$tag"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
        .createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.main.orders_v AS " +
        s"SELECT * FROM $view WHERE yr = 1995")
      s.sql(s"INSERT INTO $cat.main.orders_v " +
        s"SELECT * FROM $view WHERE yr = 1996")
      val table = s"$root/main/orders_v"
      val vPre = versions(s, table).last
      s.sql(s"INSERT OVERWRITE $cat.main.orders_v " +
        s"SELECT * FROM $view WHERE yr = 1997")
      val vPost = versions(s, table).last
      def summarize(step: String, suffix: String) = s.sql(
        s"SELECT '$step' AS step, CAST(count(*) AS BIGINT) AS n_rows, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
          s"FROM $cat.main.orders_v $suffix")
      val audit = s.range(1).select(lit("write_audit").as("step"),
        lit(vPre).as("n_rows"), lit(vPost).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      summarize("sql_empty_v1", "VERSION AS OF 1")
        .unionByName(summarize("sql_pre_overwrite", s"VERSION AS OF $vPre"))
        .unionByName(summarize("sql_latest", ""))
        .unionByName(audit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, o_totalprice, year(o_orderdate) AS yr
        FROM orders)
      SELECT 'sql_empty_v1' AS step, CAST(0 AS BIGINT) AS n_rows,
        CAST(0 AS BIGINT) AS n_cust, CAST(NULL AS DOUBLE) AS revenue
      UNION ALL
      SELECT 'sql_pre_overwrite', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996)
      UNION ALL
      SELECT 'sql_latest', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE yr = 1997
      UNION ALL
      SELECT 'write_audit', CAST(3 AS BIGINT), CAST(4 AS BIGINT),
        CAST(NULL AS DOUBLE)
      ORDER BY step"""))

  // q123's erasure cohort, as an IN list BOTH engines interpolate: SQL
  // DELETE only reaches the catalog when every predicate translates to a
  // source Filter, and `o_custkey % 51 = 0` is an expression, not a
  // Filter — the enumerated multiples (covering custkeys well past sf1's
  // key space) ARE translatable, with identical semantics
  private val q123Cohort: String = (1 to 392).map(_ * 51).mkString(", ")

  /** q123: SQL DELETE — `DELETE FROM cat.main.t WHERE o_custkey IN
    * (…)` lands as the copy-on-write [[deleteWhere]] commit through the
    * DSv2 `SupportsDelete` path: Spark translates the predicate to source
    * Filters, the catalog re-assembles and executes the erasure, and the
    * statement leaves one `#delete=true` commit. `sql_post_delete` must
    * hash-match the oracle's anti-filter over the base table,
    * `sql_time_travel_pre` proves the pre-delete snapshot still reads
    * (erasure completes with vacuum — the q116 contract, now reachable
    * from SQL), and `delete_audit` pins the ledger: exactly one commit
    * for the statement (v2 CTAS data → v3 delete).
    */
  val q123SqlDelete: Q = Q(
    "q123_sql_delete",
    (s, dir) => {
      val root = freshRunRoot()
      val tag = new Path(root).getName.stripPrefix("run_")
      val cat = s"vtq123_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val view = s"q123_orders_$tag"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.main.orders_v AS SELECT * FROM $view")
      val table = s"$root/main/orders_v"
      val vPre = versions(s, table).last
      s.sql(s"DELETE FROM $cat.main.orders_v " +
        s"WHERE o_custkey IN ($q123Cohort)")
      val vPost = versions(s, table).last
      def summarize(step: String, suffix: String) = s.sql(
        s"SELECT '$step' AS step, CAST(count(*) AS BIGINT) AS n_rows, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
          s"FROM $cat.main.orders_v $suffix")
      val audit = s.range(1).select(lit("delete_audit").as("step"),
        lit(vPre).as("n_rows"), lit(vPost).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      summarize("sql_post_delete", "")
        .unionByName(summarize("sql_time_travel_pre", s"VERSION AS OF $vPre"))
        .unionByName(audit)
        .orderBy(col("step"))
    },
    Some(s"""
      WITH o AS (
        SELECT o_custkey, o_totalprice FROM orders)
      SELECT 'delete_audit' AS step, CAST(2 AS BIGINT) AS n_rows,
        CAST(3 AS BIGINT) AS n_cust, CAST(NULL AS DOUBLE) AS revenue
      UNION ALL
      SELECT 'sql_post_delete', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o WHERE o_custkey NOT IN ($q123Cohort)
      UNION ALL
      SELECT 'sql_time_travel_pre', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM o
      ORDER BY step"""))

  /** q124: TABLE HISTORY (DESCRIBE HISTORY) — a history that exercises
    * EVERY commit kind (create, append, rewrite, merge, delete,
    * mor_delete, restore, txn-stamped append, overwrite) read back
    * through [[history]], which classifies each commit from its manifest
    * headers and directory diffs alone — the log is the audit trail, no
    * extra bookkeeping. The oracle is the literal expected ledger, so
    * the hash match pins the classification rules AND the generation/DV
    * counts every operation leaves behind: merge and delete carry one
    * untouched generation (copy-on-write), the MoR delete adds a DV
    * without touching data generations, compaction clears it, restore
    * re-references v2's two generations, and the streaming commit stamps
    * txn. Everything derives from bytes-sized manifest reads — at 100 TB
    * this query never opens a data file.
    */
  val q124TableHistory: Q = Q(
    "q124_table_history",
    (s, dir) => {
      val root = freshRunRoot()
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      def slice(m: Int) = o.filter(col("o_custkey") % 3 === m)
      commit(s, root, slice(0), overwrite = true) // v1 create
      commit(s, root, slice(1), overwrite = false) // v2 append
      compact(s, root).getOrElse(sys.error("q124: compact lost a race")) // v3
      commit(s, root, slice(2), overwrite = false) // v4 append
      // source keys live only in the compacted generation (51 = 3*17,
      // so %51=0 implies %3=0): 1 touched + 1 carried
      mergeInto(s, root, o.filter(col("o_custkey") % 51 === 0), "o_orderkey")
        .getOrElse(sys.error("q124: merge lost a race")) // v5 merge
      deleteWhere(s, root, col("o_custkey") % 51 === 0)
        .getOrElse(sys.error("q124: delete lost a race")) // v6 delete
      deleteWhereMor(s, root, col("o_custkey") % 39 === 0, "o_custkey")
        .getOrElse(sys.error("q124: MoR delete lost a race")) // v7
      compact(s, root).getOrElse(sys.error("q124: compact2 lost a race")) // v8
      restore(s, root, 2L)
        .getOrElse(sys.error("q124: restore lost a race")) // v9
      idempotentCommit(s, root, slice(2), "q124_app", 0L) // v10 append+txn
      commit(s, root, slice(0), overwrite = true) // v11 overwrite
      history(s, root)
        .select(col("version"), col("kind"),
          col("n_generations").cast("long").as("n_generations"),
          col("n_dvs").cast("long").as("n_dvs"))
        .orderBy(col("version"))
    },
    Some("""
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'create',     CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(2 AS BIGINT), 'append',     CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(3 AS BIGINT), 'rewrite',    CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(4 AS BIGINT), 'append',     CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(5 AS BIGINT), 'merge',      CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(6 AS BIGINT), 'delete',     CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(7 AS BIGINT), 'mor_delete', CAST(2 AS BIGINT), CAST(1 AS BIGINT)),
        (CAST(8 AS BIGINT), 'rewrite',    CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(9 AS BIGINT), 'restore',    CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(10 AS BIGINT), 'append+txn', CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(11 AS BIGINT), 'overwrite',  CAST(1 AS BIGINT), CAST(0 AS BIGINT))
      ) AS t(version, kind, n_generations, n_dvs)
      ORDER BY version"""))

  /** q125: SQL MERGE INTO — the full three-clause statement (matched
    * UPDATE, matched DELETE, not-matched INSERT) running natively
    * against the catalog through Spark's delta-based row-level contract
    * ([[graft.sources.VTableRowOp]]): Catalyst joins the target's own
    * pushdown scan against the source, executor tasks stage one
    * delete/insert operation per affected row as parquet (no driver
    * collection), and [[applyRowDelta]] publishes ONE copy-on-write
    * commit at generation granularity. `merge_audit` pins the scale
    * posture in-query: exactly one version advance, and the CTAS's empty
    * v1 generation CARRIES (only the generation holding matched keys
    * rewrites). Time travel pins the pre-merge snapshot intact. The
    * oracle recomputes the post-merge state relationally from `orders` —
    * the statement must leave exactly the state the algebra demands.
    */
  val q125SqlMerge: Q = Q(
    "q125_sql_merge",
    (s, dir) => {
      val root = freshRunRoot()
      val tag = new Path(root).getName.stripPrefix("run_")
      val cat = s"vtq125_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val view = s"q125_orders_$tag"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
        .createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.main.orders_v " +
        "TBLPROPERTIES ('key'='o_orderkey') AS " +
        s"SELECT * FROM $view WHERE yr = 1995")
      val table = s"$root/main/orders_v"
      val vPre = versions(s, table).last
      // disjoint custkey classes make the source's action sets disjoint
      // by key: price bump for %7=0, erasure for %7=1, and 1996's %7=2
      // rows as inserts (1996 keys never match 1995 rows)
      s.sql(
        s"""MERGE INTO $cat.main.orders_v AS tgt
           |USING (
           |  SELECT o_orderkey, o_custkey, o_totalprice + 100 AS o_totalprice,
           |         yr, 'U' AS action
           |  FROM $view WHERE yr = 1995 AND o_custkey % 7 = 0
           |  UNION ALL
           |  SELECT o_orderkey, o_custkey, o_totalprice, yr, 'D'
           |  FROM $view WHERE yr = 1995 AND o_custkey % 7 = 1
           |  UNION ALL
           |  SELECT o_orderkey, o_custkey, o_totalprice, yr, 'I'
           |  FROM $view WHERE yr = 1996 AND o_custkey % 7 = 2
           |) AS src ON tgt.o_orderkey = src.o_orderkey
           |WHEN MATCHED AND src.action = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice, yr)
           |  VALUES (src.o_orderkey, src.o_custkey, src.o_totalprice, src.yr)
           |""".stripMargin)
      val vPost = versions(s, table).last
      val carried = manifestDirs(s, table, vPre)
        .count(manifestDirs(s, table, vPost).contains)
      def summarize(step: String, suffix: String, where: String) = s.sql(
        s"SELECT '$step' AS step, CAST(count(*) AS BIGINT) AS n_rows, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
          s"FROM $cat.main.orders_v $suffix $where")
      val audit = s.range(1).select(
        concat(lit("merge_audit_"),
          lit(commitKind(s, table, vPost))).as("step"),
        lit(vPost - vPre).as("n_rows"), lit(carried.toLong).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      summarize("merged_updated", "", "WHERE o_custkey % 7 = 0")
        .unionByName(summarize("merged_rest", "",
          "WHERE yr = 1995 AND o_custkey % 7 >= 2"))
        .unionByName(summarize("merged_inserted", "", "WHERE yr = 1996"))
        .unionByName(summarize("time_travel_pre", s"VERSION AS OF $vPre", ""))
        .unionByName(audit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders)
      SELECT 'merge_audit_merge' AS step, CAST(1 AS BIGINT) AS n_rows,
        CAST(1 AS BIGINT) AS n_cust, CAST(NULL AS DOUBLE) AS revenue
      UNION ALL
      SELECT 'merged_inserted', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = 1996 AND o_custkey % 7 = 2
      UNION ALL
      SELECT 'merged_rest', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = 1995 AND o_custkey % 7 >= 2
      UNION ALL
      SELECT 'merged_updated', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price + 100) AS DOUBLE)
      FROM o WHERE yr = 1995 AND o_custkey % 7 = 0
      UNION ALL
      SELECT 'time_travel_pre', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = 1995
      ORDER BY step"""))

  /** q126: SQL UPDATE — a native UPDATE statement against the catalog,
    * through the same delta-based row-level path as q125 (each affected
    * row becomes a staged delete of its row id plus an insert of its new
    * image; one copy-on-write commit). The cohort lives entirely in the
    * 1996 generation, so `update_audit` pins that the OTHER three
    * generations (the CTAS's empty v1, 1995, 1997) carry verbatim —
    * UPDATE cost scales with the touched fraction of the table. The
    * updated rows move to yr=2096, so the post-state groups are
    * disjoint; the oracle recomputes each from `orders`.
    */
  val q126SqlUpdate: Q = Q(
    "q126_sql_update",
    (s, dir) => {
      val root = freshRunRoot()
      val tag = new Path(root).getName.stripPrefix("run_")
      val cat = s"vtq126_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val view = s"q126_orders_$tag"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
        .createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.main.orders_v " +
        "TBLPROPERTIES ('key'='o_orderkey') AS " +
        s"SELECT * FROM $view WHERE yr = 1995")
      s.sql(s"INSERT INTO $cat.main.orders_v SELECT * FROM $view WHERE yr = 1996")
      s.sql(s"INSERT INTO $cat.main.orders_v SELECT * FROM $view WHERE yr = 1997")
      val table = s"$root/main/orders_v"
      val vPre = versions(s, table).last
      s.sql(s"UPDATE $cat.main.orders_v " +
        "SET o_totalprice = o_totalprice + 10, yr = yr + 100 " +
        "WHERE yr = 1996 AND o_custkey % 3 = 0")
      val vPost = versions(s, table).last
      val carried = manifestDirs(s, table, vPre)
        .count(manifestDirs(s, table, vPost).contains)
      def summarize(step: String, suffix: String, where: String) = s.sql(
        s"SELECT '$step' AS step, CAST(count(*) AS BIGINT) AS n_rows, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
          s"FROM $cat.main.orders_v $suffix $where")
      val audit = s.range(1).select(
        concat(lit("update_audit_"),
          lit(commitKind(s, table, vPost))).as("step"),
        lit(vPost - vPre).as("n_rows"), lit(carried.toLong).as("n_cust"),
        lit(null).cast("double").as("revenue"))
      summarize("updated_cohort", "", "WHERE yr = 2096")
        .unionByName(summarize("remaining_1996", "", "WHERE yr = 1996"))
        .unionByName(summarize("time_travel_pre", s"VERSION AS OF $vPre",
          "WHERE yr = 1996"))
        .unionByName(audit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders)
      SELECT 'remaining_1996' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(price) AS DOUBLE) AS revenue
      FROM o WHERE yr = 1996 AND o_custkey % 3 <> 0
      UNION ALL
      SELECT 'time_travel_pre', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = 1996
      UNION ALL
      SELECT 'update_audit_update', CAST(1 AS BIGINT), CAST(3 AS BIGINT),
        CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'updated_cohort', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price + 10) AS DOUBLE)
      FROM o WHERE yr = 1996 AND o_custkey % 3 = 0
      ORDER BY step"""))

  /** q127: SQL MAINTENANCE via `CALL` — the full lifecycle a SQL-only
    * operator runs, through [[graft.sources.VTableProcedures]] (Spark
    * 4's DSv2 `ProcedureCatalog`): CTAS + INSERT build a 3-generation
    * table, `CALL compact` rewrites it to one generation (v4, a
    * `#rewrite=true` commit feeds skip), an INSERT lands on the
    * compacted base (v5), `CALL restore` rolls back to the compacted
    * snapshot as a bytes-sized commit (v6 — the 1997 load is undone but
    * still time-travels), and `CALL vacuum(keep_versions=1)` reclaims
    * everything unreferenced: exactly 4 generations (the CTAS's empty
    * v1, 1995, 1996, the rolled-back 1997) and 5 manifests. Every CALL's
    * result row is part of the output, so the oracle pins the whole
    * ledger — version numbers, reclaim counts, and the post-vacuum
    * history — plus the content before and after. Each step is manifest
    * arithmetic; only compact touches data, once.
    */
  val q127SqlMaintenance: Q = Q(
    "q127_sql_maintenance",
    (s, dir) => {
      val root = freshRunRoot()
      val tag = new Path(root).getName.stripPrefix("run_")
      val cat = s"vtq127_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val view = s"q127_orders_$tag"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
        .createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.main.orders_v AS " +
        s"SELECT * FROM $view WHERE yr = 1995")               // v1 + v2
      s.sql(s"INSERT INTO $cat.main.orders_v " +
        s"SELECT * FROM $view WHERE yr = 1996")               // v3
      val rCompact = s.sql(
        s"CALL $cat.system.compact(table => 'main.orders_v')").head() // v4
      s.sql(s"INSERT INTO $cat.main.orders_v " +
        s"SELECT * FROM $view WHERE yr = 1997")               // v5
      val rRestore = s.sql(
        s"CALL $cat.system.restore('main.orders_v', ${rCompact.getLong(0)})")
        .head()                                               // v6
      val ttPre = s.sql(
        "SELECT CAST(count(*) AS BIGINT) AS a, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS b, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS c " +
          s"FROM $cat.main.orders_v VERSION AS OF 5").head()
      val rVacuum = s.sql(
        s"CALL $cat.system.vacuum('main.orders_v', " +
          "keep_versions => 1, force => true)").head()
      val hist = s.sql(s"CALL $cat.system.history('main.orders_v')")
        .select(col("version"), col("kind")).collect().toSeq
      def out(step: String, a: Long, b: Long, c: Option[Double]) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"),
          c.map(lit(_)).getOrElse(lit(null)).cast("double").as("c"))
      val content = s.sql(
        "SELECT 'final_content' AS step, CAST(count(*) AS BIGINT) AS a, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS b, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS c " +
          s"FROM $cat.main.orders_v")
      content
        .unionByName(out("pre_vacuum_1997_tt", ttPre.getLong(0),
          ttPre.getLong(1), Some(ttPre.getDouble(2))))
        .unionByName(out("compact_call", rCompact.getLong(0),
          if (rCompact.getBoolean(1)) 1L else 0L, None))
        .unionByName(out("restore_call", rRestore.getLong(0),
          rRestore.getLong(1), None))
        .unionByName(out("vacuum_call", rVacuum.getInt(0).toLong,
          rVacuum.getInt(1).toLong, None))
        .unionByName(out(
          s"post_vacuum_history_${hist.map(_.getString(1)).mkString(",")}",
          hist.map(_.getLong(0)).max, hist.size.toLong, None))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders)
      SELECT 'compact_call' AS step, CAST(4 AS BIGINT) AS a,
        CAST(1 AS BIGINT) AS b, CAST(NULL AS DOUBLE) AS c
      UNION ALL
      SELECT 'final_content', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT), CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996)
      UNION ALL
      SELECT 'post_vacuum_history_restore', CAST(6 AS BIGINT),
        CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'pre_vacuum_1997_tt', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT), CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr IN (1995, 1996, 1997)
      UNION ALL
      SELECT 'restore_call', CAST(4 AS BIGINT), CAST(6 AS BIGINT),
        CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'vacuum_call', CAST(4 AS BIGINT), CAST(5 AS BIGINT),
        CAST(NULL AS DOUBLE)
      ORDER BY step"""))

  /** q128: SQL SCHEMA EVOLUTION — `ALTER TABLE ADD COLUMNS` as a
    * widened empty-generation commit ([[addColumns]]), driven end to end
    * through SQL. CTAS loads 1995 orders narrow (v1 create + v2 append),
    * ALTER adds `o_priority` (v3 — one empty footer-bearing parquet file
    * + one manifest publish, no data movement at any table size), INSERT
    * lands 1996 orders WITH the new column (v4). The final snapshot
    * groups by the evolved column — 1995 rows read NULL (no backfill),
    * 1996 rows carry real values; time travel pins the narrow 4-column
    * schema at v2 and the widened-but-all-NULL column at v3; the history
    * row pins the `add_columns` commit kind in the ledger. The oracle
    * replays the two loads as filters over the base table and never sees
    * the format — the hash match proves evolution changed no committed
    * row on either side of the ALTER.
    */
  val q128SqlEvolution: Q = Q(
    "q128_sql_evolution",
    (s, dir) => {
      val root = freshRunRoot()
      val tag = new Path(root).getName.stripPrefix("run_")
      val cat = s"vtq128_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val view = s"q128_orders_$tag"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
        .createOrReplaceTempView(view)
      s.sql(s"CREATE TABLE $cat.main.orders_v AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice, yr " +
        s"FROM $view WHERE yr = 1995")                          // v1 + v2
      s.sql(s"ALTER TABLE $cat.main.orders_v " +
        "ADD COLUMNS (o_priority STRING)")                      // v3
      s.sql(s"INSERT INTO $cat.main.orders_v " +
        "SELECT o_orderkey, o_custkey, o_totalprice, yr, o_orderpriority " +
        s"FROM $view WHERE yr = 1996")                          // v4
      val byPrio = s.sql(
        "SELECT concat('prio_', coalesce(o_priority, 'none')) AS step, " +
          "CAST(count(*) AS BIGINT) AS a, " +
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS b, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS c " +
          s"FROM $cat.main.orders_v GROUP BY 1")
      val pre = s.sql(s"SELECT * FROM $cat.main.orders_v VERSION AS OF 2")
      val post = s.sql(s"SELECT * FROM $cat.main.orders_v VERSION AS OF 3")
      val postStat = post.agg(count(lit(1)), count(col("o_priority"))).head()
      val table = s"$root/main/orders_v"
      val kinds = versions(s, table).map(commitKind(s, table, _))
      def out(step: String, a: Long, b: Long, c: Option[Double]) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"),
          c.map(lit(_)).getOrElse(lit(null)).cast("double").as("c"))
      byPrio
        .unionByName(out("pre_alter_tt",
          pre.count(), pre.columns.length.toLong, None))
        .unionByName(out("post_alter_tt", postStat.getLong(0),
          post.columns.length.toLong, Some(postStat.getLong(1).toDouble)))
        .unionByName(out(s"history_${kinds.mkString(",")}",
          kinds.size.toLong, kinds.count(_ == "add_columns").toLong, None))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr, o_orderpriority AS prio
        FROM orders)
      SELECT concat('prio_', prio) AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(price) AS DOUBLE) AS c
      FROM o WHERE yr = 1996 GROUP BY prio
      UNION ALL
      SELECT 'prio_none', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = 1995
      UNION ALL
      SELECT 'pre_alter_tt', CAST(count(*) AS BIGINT), CAST(4 AS BIGINT),
        CAST(NULL AS DOUBLE)
      FROM o WHERE yr = 1995
      UNION ALL
      SELECT 'post_alter_tt', CAST(count(*) AS BIGINT), CAST(5 AS BIGINT),
        CAST(0 AS DOUBLE)
      FROM o WHERE yr = 1995
      UNION ALL
      SELECT 'history_create,append,add_columns,append', CAST(4 AS BIGINT),
        CAST(1 AS BIGINT), CAST(NULL AS DOUBLE)
      ORDER BY step"""))

  /** q129: CHANGE DATA FEED — [[tableChanges]] over a history exercising
    * every row-changing commit kind: create (1995 load), append (1996),
    * generation-granular MERGE (price bump for custkey%7=0), copy-on-
    * write DELETE (custkey%7=1), merge-on-read DELETE (custkey%7=2).
    * The feed's per-(change type, commit) aggregate must reproduce what
    * the oracle computes from the base table alone: inserts are the two
    * loads verbatim, the merge yields PAIRED update_preimage (old
    * prices) / update_postimage (+100) rows for exactly the matched
    * cohort — rewritten-but-unchanged generation neighbors cancel out of
    * the EXCEPT ALL diff and appear nowhere — and both delete flavors
    * surface full row images (the MoR images joined back from tombstone
    * keys). Hash-exact means the log's row-level audit trail is
    * faithful: nothing phantom, nothing lost, preimages exact.
    */
  val q129ChangeDataFeed: Q = Q(
    "q129_change_data_feed",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      require(createIfAbsent(s, root, slice(1995),
        Map("key" -> "o_orderkey")), "fresh root must create")     // v1
      commit(s, root, slice(1996), overwrite = false)              // v2
      val bumped = slice(1995).filter(col("o_custkey") % 7 === 0)
        .withColumn("o_totalprice",
          Q.dec2(col("o_totalprice") + 100))
      require(mergeInto(s, root, bumped, "o_orderkey").isDefined)  // v3
      require(deleteWhere(s, root,
        col("o_custkey") % 7 === 1).isDefined)                     // v4
      require(deleteWhereMor(s, root, col("o_custkey") % 7 === 2,
        "o_orderkey").isDefined)                                   // v5
      tableChanges(s, root, 0L, 5L)
        .groupBy(concat(col("_change_type"), lit("_v"),
          col("_commit_version")).as("step"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_cust"),
          sum(col("o_totalprice")).cast("double").as("revenue"))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders WHERE year(o_orderdate) IN (1995, 1996))
      SELECT 'insert_v1' AS step, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        CAST(sum(price) AS DOUBLE) AS revenue
      FROM o WHERE yr = 1995
      UNION ALL
      SELECT 'insert_v2', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = 1996
      UNION ALL
      SELECT 'update_preimage_v3', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = 1995 AND o_custkey % 7 = 0
      UNION ALL
      SELECT 'update_postimage_v3', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price + 100) AS DOUBLE)
      FROM o WHERE yr = 1995 AND o_custkey % 7 = 0
      UNION ALL
      SELECT 'delete_v4', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE o_custkey % 7 = 1
      UNION ALL
      SELECT 'delete_v5', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE o_custkey % 7 = 2
      ORDER BY step"""))

  /** q130: CHECK CONSTRAINTS — writer-side data-quality gates in the
    * table's own log (`constraint.<name>` properties, the Delta idiom).
    * The scenario proves all four behaviors: a violating batch ABORTS
    * WHOLE (one negative price poisons the entire 1997 append — nothing
    * partial lands, the version count is unchanged), adding a
    * constraint validates EXISTING data (an `yr = 1995` constraint is
    * refused because 1996 rows already violate it), conforming writes
    * land under multiple active constraints, and the final state is
    * exactly the conforming loads — which is what the oracle recomputes
    * relationally. At 100 TB enforcement costs one short-circuiting
    * scan of each NEW generation (never the table), and ADD costs one
    * scan of the table at declaration time — the price of a constraint
    * readers can then trust unconditionally.
    */
  val q130CheckConstraints: Q = Q(
    "q130_check_constraints",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      def rejects(body: => Any): Long =
        try { body; 0L } catch { case _: IllegalArgumentException => 1L }
      require(createIfAbsent(s, root, slice(1995),
        Map("constraint.positive_price" -> "o_totalprice > 0")))   // v1
      commit(s, root, slice(1996), overwrite = false)              // v2
      // one poisoned row per 100 customers fails the WHOLE 1997 batch
      val badCommits = rejects(commit(s, root,
        slice(1997).withColumn("o_totalprice",
          Q.dec2(when(col("o_custkey") % 100 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))),
        overwrite = false))
      setProperties(s, root,                                       // v3
        Map("constraint.known_years" -> "yr IN (1995, 1996, 1998)"))
      val badAdds = rejects(setProperties(s, root,
        Map("constraint.early" -> "yr = 1995")))
      commit(s, root, slice(1998), overwrite = false)              // v4
      val lateCommits = rejects(commit(s, root, slice(1997),
        overwrite = false))
      val tipV = versions(s, root).last
      val nConstraints = tableProperties(s, root)
        .count(_._1.startsWith("constraint."))
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(tipV).as("a"),
        lit(badCommits + lateCommits).as("b"),
        lit(badAdds + nConstraints).cast("double").as("c"))
      readAt(s, root)
        .groupBy(concat(lit("yr_"), col("yr")).as("step"))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("o_custkey")).as("b"),
          sum(col("o_totalprice")).cast("double").as("c"))
        .unionByName(audit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders WHERE year(o_orderdate) IN (1995, 1996, 1998))
      SELECT concat('yr_', yr) AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(price) AS DOUBLE) AS c
      FROM o GROUP BY yr
      UNION ALL
      SELECT 'audit', CAST(4 AS BIGINT), CAST(2 AS BIGINT),
        CAST(3 AS DOUBLE)
      ORDER BY step"""))

  /** q131: CDF-DRIVEN INCREMENTAL VIEW MAINTENANCE — the canonical
    * change-data-feed consumer: a gold aggregate (per customer-bucket
    * order count + revenue) maintained purely from [[tableChanges]]
    * windows as the source table evolves through append, MERGE,
    * copy-on-write DELETE and merge-on-read DELETE. Each refresh costs
    * O(that commit's changes): signed deltas (+1 for
    * insert/update_postimage, -1 for delete/update_preimage) aggregate
    * per bucket and fold into the running gold state with a full-outer
    * merge — the source table is never rescanned after the bootstrap.
    * The in-query audit compares the incrementally-maintained state
    * against a from-scratch recompute of the final snapshot: zero
    * mismatched buckets, pinned by the oracle alongside the bucket rows
    * themselves. This is what the CDF is FOR — at 100 TB a nightly gold
    * refresh reads the day's deltas, not the table.
    */
  val q131CdfIncrementalRefresh: Q = Q(
    "q131_cdf_incremental_refresh",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      def slice(yr: Int) = orders.filter(col("yr") === yr)
      require(createIfAbsent(s, root, slice(1995),
        Map("key" -> "o_orderkey")), "fresh root must create")     // v1
      // bootstrap: ONE full aggregate of the initial snapshot
      def fullAgg(df: DataFrame) = df
        .groupBy((col("o_custkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")).as("revenue"))
      var gold = Q.materialized(fullAgg(readAt(s, root, Some(1L))))
      // the source evolves through every row-changing commit kind
      commit(s, root, slice(1996), overwrite = false)              // v2
      require(mergeInto(s, root,
        slice(1995).filter(col("o_custkey") % 7 === 0)
          .withColumn("o_totalprice", Q.dec2(col("o_totalprice") + 100)),
        "o_orderkey").isDefined)                                   // v3
      require(deleteWhere(s, root,
        col("o_custkey") % 7 === 1).isDefined)                     // v4
      require(deleteWhereMor(s, root, col("o_custkey") % 7 === 2,
        "o_orderkey").isDefined)                                   // v5
      // incremental refreshes: each reads ONLY its commit's delta
      (1L to 4L).foreach { v =>
        val delta = tableChanges(s, root, v, v + 1)
          .withColumn("sign",
            when(col("_change_type").isin("insert", "update_postimage"),
              lit(1L)).otherwise(lit(-1L)))
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(sum(col("sign")).as("dn"),
            sum(Q.dec2(col("o_totalprice") * col("sign"))).as("drev"))
        gold = Q.materialized(
          gold.join(delta, Seq("bucket"), "full")
            .select(col("bucket"),
              (coalesce(col("n"), lit(0L)) +
                coalesce(col("dn"), lit(0L))).as("n"),
              Q.dec2(coalesce(col("revenue"), lit(0)) +
                coalesce(col("drev"), lit(0))).as("revenue"))
            .filter(col("n") > 0),
          gold)
      }
      // audit: the maintained state vs a from-scratch recompute — a
      // bucket row matches iff (bucket, n, revenue) appears on BOTH sides
      val recomputed = fullAgg(readAt(s, root, Some(5L)))
      val mism = gold.withColumn("src", lit("inc"))
        .unionByName(recomputed.withColumn("src", lit("full")))
        .groupBy(col("bucket"), col("n"), col("revenue"))
        .agg(countDistinct(col("src")).as("k"))
        .filter(col("k") =!= 2).count()
      val out = gold
        .select(concat(lit("bucket_"), col("bucket")).as("step"),
          col("n").as("a"),
          col("revenue").cast("double").as("b"))
        .unionByName(s.range(1).select(lit("audit_mismatches").as("step"),
          lit(mism).as("a"), lit(null).cast("double").as("b")))
        .orderBy(col("step"))
      Q.materialized(out, gold)
    },
    Some("""
      WITH o AS (
        SELECT o_custkey % 10 AS bucket,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr, o_custkey % 7 AS c7
        FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
      survivors AS (
        SELECT bucket,
          CASE WHEN yr = 1995 AND c7 = 0 THEN price + 100 ELSE price END
            AS price
        FROM o WHERE c7 NOT IN (1, 2))
      SELECT concat('bucket_', bucket) AS step,
        CAST(count(*) AS BIGINT) AS a, CAST(sum(price) AS DOUBLE) AS b
      FROM survivors GROUP BY bucket
      UNION ALL
      SELECT 'audit_mismatches', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
      ORDER BY step"""))

  /** q132: MULTI-COLUMN DATA SKIPPING — the two-dimensional prune a
    * time-partitioned multi-tenant table lives on. Four generations land
    * along a (year × customer-range) grid, each commit recording
    * [min,max] stats for BOTH columns in one agg pass
    * (`statsCols = Seq("yr","o_custkey")`). A conjunctive window
    * (yr = 1996 AND custkey ≤ median) keeps exactly 1 of 4 generations
    * where the year window alone keeps 2 — both ratios pinned as audit
    * rows, and the pruned frame's filtered aggregate is hash-checked
    * against the full-table oracle (pruning can never change results;
    * it only skips data the predicate cannot touch). At 100 TB this is
    * the difference between O(tenant-window) and O(time-window) scans —
    * each predicate alone keeps many generations, the conjunction keeps
    * few, and the whole decision still reads ONE manifest.
    */
  val q132MultiSkipping: Q = Q(
    "q132_multi_skipping",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      val mid = orders.agg(max(col("o_custkey")).cast("long"))
        .head().getLong(0) / 2
      def part(y: Int, low: Boolean) = orders.filter(col("yr") === y &&
        (if (low) col("o_custkey") <= mid else col("o_custkey") > mid))
      Seq(1995 -> true, 1995 -> false, 1996 -> true, 1996 -> false)
        .zipWithIndex.foreach { case ((y, low), i) =>
          commit(s, root, part(y, low), overwrite = i == 0,
            statsCols = Seq("yr", "o_custkey"))
        }
      val (multi, keptM, totM) = readAtPruned(s, root, None,
        Seq(("yr", 1996L, 1996L), ("o_custkey", 1L, mid)))
      val (_, keptS, totS) = readAtPruned(s, root, None,
        Seq(("yr", 1996L, 1996L)))
      def audit(step: String, a: Long, b: Long) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"), lit(null).cast("double").as("c"))
      multi
        .filter(col("yr") === 1996 && col("o_custkey") <= mid)
        .agg(count(lit(1)).as("a"),
          countDistinct(col("o_custkey")).as("b"),
          sum(col("o_totalprice")).cast("double").as("c"))
        .select(lit("pruned_content").as("step"), col("a"), col("b"),
          col("c"))
        .unionByName(audit("prune_multi", keptM.toLong, totM.toLong))
        .unionByName(audit("prune_single", keptS.toLong, totS.toLong))
        .orderBy(col("step"))
    },
    Some("""
      WITH m AS (
        SELECT CAST(CAST(max(o_custkey) AS BIGINT) // 2 AS BIGINT) AS mid
        FROM orders),
      o AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders)
      SELECT 'pruned_content' AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(price) AS DOUBLE) AS c
      FROM o, m WHERE yr = 1996 AND o_custkey <= mid
      UNION ALL
      SELECT 'prune_multi', CAST(1 AS BIGINT), CAST(4 AS BIGINT),
        CAST(NULL AS DOUBLE)
      UNION ALL
      SELECT 'prune_single', CAST(2 AS BIGINT), CAST(4 AS BIGINT),
        CAST(NULL AS DOUBLE)
      ORDER BY step"""))

  /** q133: PARTITIONED BY on the versioned table — the reference's own
    * layout is directory-partitioned (spotifytransform.py:102-105 writes
    * run-keyed CSV subtrees; Readme.MD:113-123 documents the landed
    * tree), and this closes the categorical-pruning gap stats windows
    * cannot express. The whole surface runs through SQL: CREATE TABLE …
    * PARTITIONED BY (yr), two INSERT INTO … SELECT loads that each route
    * into hive-style `__p_yr=<v>` LEAF dirs the manifest lists, then a
    * `yr = 1996` read whose pushed equality prunes at the MANIFEST level
    * (no listing, no footers — kept/total pinned by `prune_eq`, with an
    * IN-list twin `prune_in`). The content row is the catalog read
    * itself, so the hash gate proves pruning never changes results; the
    * audits derive expected keep counts from the data's own distinct
    * years (engine and oracle independently), so the pin holds at every
    * scale factor. The audit rows' `c` pins that DESCRIBE surfaces
    * the `# Partition Information` section (1 = shown).
    * At 100 TB: a tenant/day/region predicate keeps
    * O(partition) leaf dirs out of O(table) from one bytes-sized
    * manifest read — the categorical complement of q115/q132's range
    * skipping, composed with it by [[readAtPruned]].
    */
  val q133PartitionedVtable: Q = Q(
    "q133_partitioned_vtable",
    (s, dir) => {
      val root = freshRunRoot()
      val table = s"$root/main/orders_p"
      val cat = "vtq133_" + new Path(root).getName.stripPrefix("run_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.pruneCol", "o_custkey")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      src.createOrReplaceTempView("q133_orders_src")
      // every literal derives from the data's own year range, so the
      // pins hold at any scale factor (the synthetic orders span a
      // different year window than canonical TPC-H)
      val y1 = src.agg(min(col("yr"))).head().getInt(0) + 1
      s.sql(s"CREATE TABLE $cat.main.orders_p (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DECIMAL(18,2), yr INT) " +
        "PARTITIONED BY (yr)")
      // a parity split keeps BOTH loads non-empty (an empty insert would
      // land an extra plain always-scan generation and move the ratios)
      s.sql(s"INSERT INTO $cat.main.orders_p " +
        "SELECT * FROM q133_orders_src WHERE yr % 2 = 0")
      s.sql(s"INSERT INTO $cat.main.orders_p " +
        "SELECT * FROM q133_orders_src WHERE yr % 2 = 1")
      // the content row IS the partition-pruned catalog read: the pushed
      // yr equality prunes leaf entries at the manifest before the scan
      val content = s.sql(s"SELECT 'content_y1' AS step, " +
        "CAST(count(*) AS BIGINT) AS a, " +
        "CAST(count(DISTINCT o_custkey) AS BIGINT) AS b, " +
        "CAST(sum(o_totalprice) AS DOUBLE) AS c " +
        s"FROM $cat.main.orders_p WHERE yr = $y1")
      // audit the kept/total entry counts the reader's pruning used —
      // expected values derive from the data's own year spread (create's
      // plain empty generation always scans; each insert contributes one
      // leaf per distinct year it loaded)
      val (_, keptEq, total) = readAtPruned(s, table, None, Nil,
        Seq("yr" -> Set(Option(y1.toString)).contains))
      val (_, keptIn, _) = readAtPruned(s, table, None, Nil,
        Seq("yr" -> Set(Option((y1 - 1).toString), Option((y1 + 1).toString)).contains))
      val partitioned = s.sql(s"DESCRIBE TABLE $cat.main.orders_p")
        .collect().map(_.getString(0))
        .count(_ == "# Partition Information").toLong
      def audit(step: String, a: Long, b: Long, c: Long) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"), lit(c).cast("double").as("c"))
      content
        .unionByName(audit("prune_eq", keptEq.toLong, total.toLong,
          partitioned))
        .unionByName(audit("prune_in", keptIn.toLong, total.toLong,
          partitioned))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) + 1 AS y1 FROM o),
      yrs AS (SELECT DISTINCT yr FROM o)
      SELECT 'content_y1' AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(price) AS DOUBLE) AS c
      FROM o, y WHERE yr = y1
      UNION ALL
      SELECT 'prune_eq',
        CAST(1 + (SELECT count(*) FROM yrs, y WHERE yr = y1) AS BIGINT),
        CAST(1 + (SELECT count(*) FROM yrs) AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'prune_in',
        CAST(1 + (SELECT count(*) FROM yrs, y
          WHERE yr IN (y1 - 1, y1 + 1)) AS BIGINT),
        CAST(1 + (SELECT count(*) FROM yrs) AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q134: DYNAMIC PARTITION OVERWRITE — the everyday production write
    * for a partitioned table: re-load ONE year's orders with corrected
    * prices (+5.00 each) in a single atomic commit that replaces exactly
    * that year's leaf and carries every other partition verbatim
    * ([[overwritePartitions]] — Spark's `partitionOverwriteMode=dynamic`
    * / Iceberg ReplacePartitions semantics, vs the two-commit
    * delete+append with its non-atomic window, or the O(table) full
    * overwrite). The per-year aggregate over the post-replace snapshot
    * is the hash gate (only the re-loaded year's revenue moves);
    * `replace_audit` pins the 1-replaced / (years−1)-carried mechanics
    * plus the `replace_partitions` history kind, and `time_travel` pins
    * the pre-replace snapshot intact — counts derived from the data's
    * own year spread in both engines, so the pin holds at every scale
    * factor. At 100 TB: the nightly partition re-load costs O(that
    * partition), the other ~365 days of leaves never enter the commit.
    */
  val q134PartitionOverwrite: Q = Q(
    "q134_partition_overwrite",
    (s, dir) => {
      val root = freshRunRoot()
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      val y1 = src.agg(min(col("yr"))).head().getInt(0) + 1
      require(createIfAbsent(s, root, src, Map("partition" -> "yr")),
        "q134: private table must create")                         // v1
      val reload = src.filter(col("yr") === y1)
        .withColumn("o_totalprice",
          Q.dec2(col("o_totalprice") + lit(5)))
      val (v2, replaced, carried) = overwritePartitions(s, root, reload)
        .getOrElse(sys.error("q134: replace lost a race on a private table"))
      val kindOk =
        if (commitKind(s, root, v2) == "replace_partitions") 1L else 0L
      def agg(step: Column, df: DataFrame) = df
        .groupBy(step.as("step"))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("o_custkey")).as("b"),
          sum(col("o_totalprice")).cast("double").as("c"))
      agg(concat(lit("yr_"), col("yr")), readAt(s, root))
        .unionByName(s.range(1).select(lit("replace_audit").as("step"),
          lit(replaced.toLong).as("a"), lit(carried.toLong).as("b"),
          lit(kindOk.toDouble).as("c")))
        .unionByName(agg(lit("time_travel"),
          readAt(s, root, Some(1L)).filter(col("yr") === y1)))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) + 1 AS y1 FROM o),
      adj AS (
        SELECT o_custkey, yr,
          CASE WHEN yr = (SELECT y1 FROM y)
            THEN CAST(price + 5 AS DECIMAL(18,2)) ELSE price END AS price
        FROM o)
      SELECT concat('yr_', yr) AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(price) AS DOUBLE) AS c
      FROM adj GROUP BY yr
      UNION ALL
      SELECT 'replace_audit', CAST(1 AS BIGINT),
        CAST((SELECT count(DISTINCT yr) FROM o) - 1 AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'time_travel', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM o WHERE yr = (SELECT y1 FROM y)
      ORDER BY step"""))

  /** q135: HIDDEN PARTITIONING — a DERIVED transform (`months(
    * o_orderdate)`) declared in the partition property: every routed
    * write COMPUTES the month inside the existing one-pass partitionBy
    * (the user's frame carries only base columns), and a plain
    * DATE-RANGE predicate on `o_orderdate` prunes month leaves at the
    * manifest without the query ever naming the derived field — the
    * Iceberg hidden-partitioning semantics ([[PartFields]]), closing
    * the gap q133's identity layout left (a time-range layout needed a
    * hand-materialized year column). The window is a 12-month span
    * derived from the data's own min date, month-aligned so engine and
    * oracle agree row-for-row at every scale factor. `prune_range`
    * pins kept/total leaf counts (one leaf per distinct month — the
    * create routed the whole load); `replace_audit` pins that a
    * dynamic overwrite of ONE month's re-load (prices +5) replaced
    * exactly one leaf and carried the rest; `content` reads the
    * post-replace window THROUGH the relation's pushed filters, so the
    * hash gate proves range pruning and derived-value routing never
    * change results. At 100 TB: the production default layout —
    * `days(ts)`/`months(ts)` — without asking every writer to
    * materialize (and every query to remember) a derived column.
    */
  val q135HiddenPartitioning: Q = Q(
    "q135_hidden_partitioning",
    (s, dir) => {
      val root = freshRunRoot()
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"),
          col("o_orderdate").cast("date").as("o_orderdate"))
      require(createIfAbsent(s, root, src,
        Map("partition" -> "months(o_orderdate)")),
        "q135: private table must create")                          // v1
      // a month-aligned 12-month window derived from the data itself:
      // [first-of-month(min)+6mo, first-of-month(min)+18mo)
      val d0 = src.agg(min(col("o_orderdate"))).head()
        .getDate(0).toLocalDate.withDayOfMonth(1)
      val lo = java.sql.Date.valueOf(d0.plusMonths(6))
      val hi = java.sql.Date.valueOf(d0.plusMonths(18).minusDays(1))
      // re-load the window's FIRST month with corrected prices: the
      // transform computes the replaced month from the batch's dates
      val reload = src
        .filter(col("o_orderdate").between(lo,
          java.sql.Date.valueOf(d0.plusMonths(7).minusDays(1))))
        .withColumn("price", Q.dec2(col("price") + lit(5)))
      val (_, replaced, carried) = overwritePartitions(s, root, reload)
        .getOrElse(sys.error("q135: replace lost a race on a private table"))
      // the content read goes THROUGH the relation so the date range is
      // pushed, translated to month-token pruning, and re-applied
      val rel = s.read.format("graft-vtable").option("path", root).load()
      val content = rel.filter(col("o_orderdate").between(lo, hi))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("o_custkey")).as("b"),
          sum(col("price")).cast("double").as("c"))
        .select(lit("content").as("step"), col("a"), col("b"), col("c"))
      // audit the manifest-level decision the read used
      val fields = partitionFieldsOf(tableProperties(s, root))
      val (_, kept, total) = readAtPruned(s, root, None, Nil,
        PartFields.prunePredicates(fields, Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderdate", lo),
          org.apache.spark.sql.sources.LessThanOrEqual("o_orderdate", hi))))
      def audit(step: String, a: Long, b: Long, c: Double) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"), lit(c).cast("double").as("c"))
      content
        .unionByName(audit("prune_range", kept.toLong, total.toLong, 1.0))
        .unionByName(audit("replace_audit", replaced.toLong,
          carried.toLong, 1.0))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price, o_orderdate,
          year(o_orderdate) * 12 + month(o_orderdate) AS mi
        FROM orders),
      b AS (SELECT min(mi) AS mi0 FROM o),
      w AS (SELECT o.*,
              CASE WHEN mi = mi0 + 6
                THEN CAST(price + 5 AS DECIMAL(18,2)) ELSE price END
                AS adj
            FROM o, b WHERE mi BETWEEN mi0 + 6 AND mi0 + 17),
      m AS (SELECT DISTINCT mi FROM o)
      SELECT 'content' AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(adj) AS DOUBLE) AS c
      FROM w
      UNION ALL
      SELECT 'prune_range',
        CAST((SELECT count(*) FROM m, b
          WHERE mi BETWEEN mi0 + 6 AND mi0 + 17) AS BIGINT),
        CAST((SELECT count(*) FROM m) AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'replace_audit', CAST(1 AS BIGINT),
        CAST((SELECT count(*) FROM m) - 1 AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q136: RENAME COLUMN — [[renameColumn]]'s name mapping driven
    * end-to-end: v1 loads one year of orders under `o_totalprice`, v2
    * renames it to `revenue` (a metadata-only commit — no file
    * rewritten), v3 appends the NEXT year already under the new name,
    * so the snapshot is a MIXED history (one generation physically
    * carries the old name, one the new) that must read as ONE logical
    * column. The per-year aggregate over `revenue` is the hash gate
    * (old-name generations alias; new-name land verbatim);
    * `time_travel` re-reads v1 under the OLD name — the rename is a
    * version, pre-rename snapshots keep their schema; `audit` pins the
    * `rename_column` history kind and that the rename added NO
    * generations (metadata-only). The oracle replays the rename as
    * column aliases over the base table and never sees the format. At
    * 100 TB: renaming a column costs one bytes-sized manifest publish,
    * not an O(table) rewrite — the Delta column-mapping economics.
    */
  val q136RenameColumn: Q = Q(
    "q136_rename_column",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("o_totalprice"),
          year(col("o_orderdate")).as("yr"))
      val y0 = orders.agg(min(col("yr"))).head().getInt(0)
      val v1 = commit(s, root, orders.filter(col("yr") === y0),
        overwrite = true)
      val v2 = renameColumn(s, root, "o_totalprice", "revenue")
      val v3 = commit(s, root,
        orders.filter(col("yr") === y0 + 1)
          .withColumnRenamed("o_totalprice", "revenue"),
        overwrite = false)
      val post = readAt(s, root, Some(v3))
      val perYear = post.groupBy(col("yr"))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("o_custkey")).as("b"),
          sum(col("revenue")).cast("double").as("c"))
        .select(concat(lit("yr_"), col("yr")).as("step"), col("a"),
          col("b"), col("c"))
      val tt = readAt(s, root, Some(v1))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("o_custkey")).as("b"),
          sum(col("o_totalprice")).cast("double").as("c"))
        .select(lit("time_travel").as("step"), col("a"), col("b"),
          col("c"))
      val kindOk = if (commitKind(s, root, v2) == "rename_column") 1L else 0L
      val metadataOnly =
        if (manifestDirs(s, root, v2) == manifestDirs(s, root, v1)) 1L
        else 0L
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(kindOk).as("a"), lit(metadataOnly).as("b"),
        lit(1.0).as("c"))
      perYear.unionByName(tt).unionByName(audit).orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS revenue,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) AS y0 FROM o)
      SELECT concat('yr_', yr) AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(revenue) AS DOUBLE) AS c
      FROM o, y WHERE yr IN (y0, y0 + 1) GROUP BY yr
      UNION ALL
      SELECT 'time_travel', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(revenue) AS DOUBLE)
      FROM o, y WHERE yr = y0
      UNION ALL
      SELECT 'audit', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q138: DROP COLUMN — [[dropColumn]]'s metadata-only logical drop and
    * the full re-ADD lifecycle, all oracle-pinned: v1 loads a year of
    * orders WITH `price`, v2 drops it (dirs identical to v1 — pinned:
    * no file rewritten at any table size), v3 appends the next year
    * already narrow. Re-adding `price` immediately REFUSES (old files
    * still carry the bytes — re-add would resurrect them; the refusal
    * is the `audit_readd` pin), a full [[compact]] purges the bytes and
    * CLEARS the tombstone, after which [[addColumns]] re-adds the name
    * cleanly: the `yr_*` rows pin that pre-compact rows read NULL for
    * the re-added column (b = non-null count = 0 — the NO-RESURRECTION
    * pin) while the post-re-add year carries real values again.
    * `time_travel` re-reads v1 WITH the column — the drop is a version.
    * The oracle replays the lifecycle as CASE arithmetic over the base
    * table and never sees the format. At 100 TB: dropping a column
    * costs one bytes-sized manifest publish; the bytes leave at the
    * next scheduled OPTIMIZE — the Delta column-mapping DROP economics.
    */
  val q138DropColumn: Q = Q(
    "q138_drop_column",
    (s, dir) => {
      val root = freshRunRoot()
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"),
          year(col("o_orderdate")).as("yr"))
      val y0 = orders.agg(min(col("yr"))).head().getInt(0)
      def slice(k: Int) = orders.filter(col("yr") === y0 + k)
      val v1 = commit(s, root, slice(0), overwrite = true)
      val v2 = dropColumn(s, root, "price")
      val v3 = commit(s, root, slice(1).drop("price"), overwrite = false)
      val narrowOk =
        if (readAt(s, root, Some(v3)).columns
          .forall(!_.equalsIgnoreCase("price"))) 1L else 0L
      // re-add refused while committed files still carry the bytes
      val refused =
        try {
          addColumns(s, root, Seq(StructField("price",
            org.apache.spark.sql.types.DecimalType(18, 2))))
          0L
        } catch { case _: IllegalArgumentException => 1L }
      // full compact purges the bytes, clears the tombstone, frees the name
      val v4 = compact(s, root).getOrElse(
        sys.error("q138: compact lost a race on a private table"))
      val v5 = addColumns(s, root, Seq(StructField("price",
        org.apache.spark.sql.types.DecimalType(18, 2))))
      val noResurrect =
        if (readAt(s, root, Some(v5)).filter(col("price").isNotNull)
          .isEmpty) 1L else 0L
      val v6 = commit(s, root, slice(2), overwrite = false)
      val perYear = readAt(s, root, Some(v6)).groupBy(col("yr"))
        .agg(count(lit(1)).as("a"), count(col("price")).as("b"),
          sum(coalesce(col("price"),
            lit(0).cast("decimal(18,2)"))).cast("double").as("c"))
        .select(concat(lit("yr_"),
          (col("yr") - lit(y0)).cast("string")).as("step"),
          col("a"), col("b"), col("c"))
      val tt = readAt(s, root, Some(v1))
        .agg(count(lit(1)).as("a"), count(col("price")).as("b"),
          sum(col("price")).cast("double").as("c"))
        .select(lit("time_travel").as("step"), col("a"), col("b"), col("c"))
      def audit(step: String, a: Long, b: Long) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"), lit(1.0).cast("double").as("c"))
      val dropKindOk =
        if (commitKind(s, root, v2) == "drop_column" &&
          manifestDirs(s, root, v2) == manifestDirs(s, root, v1)) 1L else 0L
      perYear.unionByName(tt)
        .unionByName(audit("audit_drop", dropKindOk, narrowOk))
        .unionByName(audit("audit_readd", refused, noResurrect))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) AS y0 FROM o),
      w AS (SELECT o.*, yr - y0 AS k FROM o, y WHERE yr BETWEEN y0 AND y0 + 2)
      SELECT concat('yr_', CAST(k AS VARCHAR)) AS step,
        CAST(count(*) AS BIGINT) AS a,
        CAST(count(CASE WHEN k = 2 THEN price END) AS BIGINT) AS b,
        CAST(sum(CASE WHEN k = 2 THEN price
          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS c
      FROM w GROUP BY k
      UNION ALL
      SELECT 'time_travel', CAST(count(*) AS BIGINT),
        CAST(count(price) AS BIGINT), CAST(sum(price) AS DOUBLE)
      FROM w WHERE k = 0
      UNION ALL
      SELECT 'audit_drop', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'audit_readd', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q139: TAGS, BRANCHES + WRITE-AUDIT-PUBLISH — the named-ref surface
    * driven end-to-end: v1 loads a year, `CALL system.tag('baseline')`
    * names it (metadata-only commit), v3 appends the next year PAST the
    * tag — reading the tip and `VERSION AS OF 'baseline'` side by side
    * pins that the tag is a durable pointer, not a copy. Then the WAP
    * flow: `CALL system.branch('audit')` forks the log, a staged commit
    * lands the third year ON THE BRANCH (shared data tree, separate
    * manifest file main readers cannot see — the `audit_staged` row
    * pins main-invisible + branch-visible simultaneously), the audit
    * read validates the staged rows, and `CALL system.fast_forward`
    * publishes the branch tip as ONE atomic main commit (kind
    * `wap_publish` — the `audit_publish` row pins the kind and that
    * exactly one version landed). The oracle replays the lifecycle as
    * year arithmetic over the base table. At 100 TB: tagging, branching
    * and publishing are all bytes-sized manifest operations — staged
    * data is written once and made visible by a rename, the
    * Iceberg/Nessie WAP economics.
    */
  val q139BranchWap: Q = Q(
    "q139_branch_wap",
    (s, dir) => {
      val root = freshRunRoot()
      val runTag = new Path(root).getName.stripPrefix("run_")
      val cat = s"vtq139_$runTag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val tbl = s"$root/main/t"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"),
          year(col("o_orderdate")).as("yr"))
      val y0 = orders.agg(min(col("yr"))).head().getInt(0)
      def slice(k: Int) = orders.filter(col("yr") === y0 + k)
      commit(s, tbl, slice(0), overwrite = true)                   // v1
      s.sql(s"CALL $cat.system.tag('main.t', 'baseline')")         // v2
      commit(s, tbl, slice(1), overwrite = false)                  // v3
      // WAP: fork, stage, audit, publish
      s.sql(s"CALL $cat.system.branch('main.t', 'audit')")
      commitToBranch(s, tbl, "audit", slice(2))
      val mainBefore = readAt(s, tbl).count()
      val branchView = s.read.format("graft-vtable")
        .option("path", tbl).option("branch", "audit").load()
      val stagedSeen = branchView.count()
      val n01 = slice(0).count() + slice(1).count()
      val n2 = slice(2).count()
      val auditPass = branchView.filter(col("yr") === y0 + 2)
        .agg(min(col("price"))).head().getDecimal(0)
        .compareTo(java.math.BigDecimal.ZERO) > 0 // the "audit" gate
      require(auditPass, "q139: staged rows failed the audit gate")
      val vsBefore = versions(s, tbl).size
      s.sql(s"CALL $cat.system.fast_forward('main.t', 'audit')")
      val tip = versions(s, tbl).last
      val publishOk =
        if (commitKind(s, tbl, tip) == "wap_publish" &&
          versions(s, tbl).size == vsBefore + 1 &&
          branches(s, tbl).isEmpty) 1L else 0L
      val perYear = s.sql(
        s"""SELECT concat('yr_', CAST(yr - $y0 AS STRING)) AS step,
            CAST(count(*) AS BIGINT) AS a,
            CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
            CAST(sum(price) AS DOUBLE) AS c
          FROM $cat.main.t GROUP BY yr""")
      val tagRead = s.sql(
        s"""SELECT 'tag_read' AS step, CAST(count(*) AS BIGINT) AS a,
            CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
            CAST(sum(price) AS DOUBLE) AS c
          FROM $cat.main.t VERSION AS OF 'baseline'""")
      def audit(step: String, a: Long, b: Long) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"), lit(1.0).cast("double").as("c"))
      perYear.unionByName(tagRead)
        .unionByName(audit("audit_staged",
          if (mainBefore == n01) 1L else 0L,
          if (stagedSeen == n01 + n2) 1L else 0L))
        .unionByName(audit("audit_publish", publishOk, 1L))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) AS y0 FROM o),
      w AS (SELECT o.*, yr - y0 AS k FROM o, y WHERE yr BETWEEN y0 AND y0 + 2)
      SELECT concat('yr_', CAST(k AS VARCHAR)) AS step,
        CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(price) AS DOUBLE) AS c
      FROM w GROUP BY k
      UNION ALL
      SELECT 'tag_read', CAST(count(*) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT),
        CAST(sum(price) AS DOUBLE)
      FROM w WHERE k = 0
      UNION ALL
      SELECT 'audit_staged', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'audit_publish', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q140: CATALOG VIEWS — SQL view definitions persisted beside the
    * table roots and resolved at read ([[graft.sources.VTableViews]]):
    * `CALL system.create_view` stores the SQL (analyzed at create — a
    * typo refuses immediately), `SELECT … FROM cat.ns.view` is then
    * native SQL through the catalog's loadTable resolution, and the
    * schema derives at read so it can never go stale. Pinned here: an
    * AGGREGATE view over the versioned table (yr rows), a view over
    * TIME TRAVEL (`VERSION AS OF 1` frozen inside the definition — the
    * `tt_` row keeps reading the first year after later appends),
    * CREATE OR REPLACE re-definition (the `replaced` row shows the new
    * definition serving), and the show_views/drop_view ledger (audit
    * row). The oracle replays every definition as plain SQL over the
    * base table. DDL rides the procedure surface because OSS Spark 4.1
    * has no v2 CREATE VIEW execution path (nothing in the analyzer
    * references ViewCatalog — verified against the shipped jars).
    */
  val q140CatalogView: Q = Q(
    "q140_catalog_view",
    (s, dir) => {
      val root = freshRunRoot()
      val runTag = new Path(root).getName.stripPrefix("run_")
      val cat = s"vtq140_$runTag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val tbl = s"$root/main/t"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"),
          year(col("o_orderdate")).as("yr"))
      val y0 = orders.agg(min(col("yr"))).head().getInt(0)
      commit(s, tbl, orders.filter(col("yr") === y0), overwrite = true)
      commit(s, tbl, orders.filter(col("yr") === y0 + 1), overwrite = false)
      def esc(sql: String) = sql.replace("'", "''")
      val aggSql = s"SELECT yr, CAST(count(*) AS BIGINT) AS a, " +
        s"CAST(count(DISTINCT o_custkey) AS BIGINT) AS b, " +
        s"CAST(sum(price) AS DOUBLE) AS c FROM $cat.main.t GROUP BY yr"
      s.sql(s"CALL $cat.system.create_view('main.rev', '${esc(aggSql)}')")
      val ttSql = s"SELECT yr, CAST(count(*) AS BIGINT) AS a, " +
        s"CAST(count(DISTINCT o_custkey) AS BIGINT) AS b, " +
        s"CAST(sum(price) AS DOUBLE) AS c " +
        s"FROM $cat.main.t VERSION AS OF 1 GROUP BY yr"
      s.sql(s"CALL $cat.system.create_view('main.first_year', '${esc(ttSql)}')")
      val perYear = s.sql(s"SELECT concat('yr_', CAST(yr - $y0 AS STRING))" +
        s" AS step, a, b, c FROM $cat.main.rev")
      val tt = s.sql(s"SELECT concat('tt_yr_', CAST(yr - $y0 AS STRING))" +
        s" AS step, a, b, c FROM $cat.main.first_year")
      // CREATE OR REPLACE: the new definition serves immediately
      s.sql(s"CALL $cat.system.create_view('main.rev', " +
        s"'${esc(aggSql + s" HAVING yr = $y0 + 1")}', replace => true)")
      val replaced = s.sql("SELECT 'replaced' AS step, a, b, c " +
        s"FROM $cat.main.rev")
      val listed = s.sql(s"CALL $cat.system.show_views('main')").count()
      s.sql(s"CALL $cat.system.drop_view('main.first_year')")
      val listedAfter = s.sql(s"CALL $cat.system.show_views('main')").count()
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(listed).as("a"), lit(listedAfter).as("b"),
        lit(1.0).cast("double").as("c"))
      perYear.unionByName(tt).unionByName(replaced).unionByName(audit)
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) AS y0 FROM o),
      w AS (SELECT o.*, yr - y0 AS k FROM o, y WHERE yr BETWEEN y0 AND y0 + 1),
      agg AS (SELECT k, CAST(count(*) AS BIGINT) AS a,
          CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
          CAST(sum(price) AS DOUBLE) AS c
        FROM w GROUP BY k)
      SELECT concat('yr_', CAST(k AS VARCHAR)) AS step, a, b, c FROM agg
      UNION ALL
      SELECT 'tt_yr_0', a, b, c FROM agg WHERE k = 0
      UNION ALL
      SELECT 'replaced', a, b, c FROM agg WHERE k = 1
      UNION ALL
      SELECT 'audit', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q137: PARTITION SPEC EVOLUTION — [[evolvePartitionSpec]] driven
    * end-to-end through the canonical days→months story: v1 loads three
    * months of orders as a `days(o_orderdate)` layout (one leaf per
    * day), v2 evolves the spec to `months(o_orderdate)` (a METADATA-ONLY
    * commit — dirs identical, pinned), v3 appends the next three months
    * routed under the NEW spec, so the snapshot is a mixed-era layout.
    * One base-column date range then prunes BOTH eras, each under ITS
    * OWN transform: day leaves by ISO day tokens, month leaves by
    * `yyyy-MM` tokens — the per-era kept/total counts are re-derived
    * independently from the partition ledger ([[partitionSummary]]) and
    * oracle-pinned against the data's own day/month spread. Finally a
    * dynamic overwrite re-loads one PRE-EVOLUTION month: its day leaves
    * drop by days→months REFINEMENT ([[PartFields.refineToken]] — a day
    * leaf belongs wholly to one month), so the replace stays O(batch)
    * instead of rewriting the whole day era; replaced/carried counts
    * are oracle-pinned, and the content read goes THROUGH the
    * relation's pushed filters so the mixed-era prune path serves the
    * rows. At 100 TB: changing a table's layout costs one bytes-sized
    * manifest publish, historical data keeps its layout AND its
    * pruning, and the everyday partition-replacing write keeps working
    * across the era boundary — the Iceberg spec-evolution economics.
    */
  val q137SpecEvolution: Q = Q(
    "q137_spec_evolution",
    (s, dir) => {
      val root = freshRunRoot()
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          Q.dec2(col("o_totalprice")).as("price"),
          col("o_orderdate").cast("date").as("o_orderdate"))
      val d0 = src.agg(min(col("o_orderdate"))).head()
        .getDate(0).toLocalDate.withDayOfMonth(1)
      val mi0 = d0.getYear * 12 + d0.getMonthValue
      def mStart(k: Int) = java.sql.Date.valueOf(d0.plusMonths(k))
      def mEnd(k: Int) = java.sql.Date.valueOf(d0.plusMonths(k + 1).minusDays(1))
      require(createIfAbsent(s, root,
        src.filter(col("o_orderdate") < mStart(3)),
        Map("partition" -> "days(o_orderdate)")),
        "q137: private table must create")                          // v1
      val v2 = evolvePartitionSpec(s, root, "months(o_orderdate)")
      val v3 = commit(s, root,
        src.filter(col("o_orderdate").between(mStart(3), mEnd(5))),
        overwrite = false)
      // one base-column range over both eras, translated per era
      val loD = mStart(1); val hiD = mEnd(4)
      val fields = allPartitionFieldsOf(tableProperties(s, root, Some(v3)))
      val (_, kept, total) = readAtPruned(s, root, Some(v3), Nil,
        PartFields.prunePredicates(fields, Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderdate", loD),
          org.apache.spark.sql.sources.LessThanOrEqual("o_orderdate", hiD))))
      // independent per-era classification from the partition ledger
      // (ISO tokens sort chronologically — string compares ARE the
      // date compares); reconciled against the engine's own decision
      val sum3 = partitionSummary(s, root, Some(v3))
      val dayToks = sum3.map(_._1).filter(_.startsWith("o_orderdate_day="))
        .map(_.stripPrefix("o_orderdate_day="))
      val monToks = sum3.map(_._1).filter(_.startsWith("o_orderdate_month="))
        .map(_.stripPrefix("o_orderdate_month="))
      val dayKept = dayToks.count(t2 => t2 >= loD.toString && t2 <= hiD.toString)
      val monKept = monToks.count(t2 =>
        t2 >= loD.toString.take(7) && t2 <= hiD.toString.take(7))
      require(kept == dayKept + monKept &&
          total == dayToks.size + monToks.size,
        s"q137: engine prune ($kept/$total) disagrees with the ledger " +
          s"($dayKept+$monKept/${dayToks.size}+${monToks.size})")
      // dynamic overwrite of one PRE-EVOLUTION month: day leaves drop
      // by refinement, the batch lands as one month leaf
      val reload = src
        .filter(col("o_orderdate").between(mStart(1), mEnd(1)))
        .withColumn("price", Q.dec2(col("price") + lit(5)))
      val (_, replaced, carried) = overwritePartitions(s, root, reload)
        .getOrElse(sys.error("q137: replace lost a race on a private table"))
      val rel = s.read.format("graft-vtable").option("path", root).load()
      val content = rel.filter(col("o_orderdate").between(loD, hiD))
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
          - lit(mi0)).as("k"))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("o_custkey")).as("b"),
          sum(col("price")).cast("double").as("c"))
        .select(concat(lit("m_"), col("k").cast("string")).as("step"),
          col("a"), col("b"), col("c"))
      def audit(step: String, a: Long, b: Long) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"), lit(1.0).cast("double").as("c"))
      val evolveOk =
        if (commitKind(s, root, v2) == "set_partition_spec" &&
          manifestDirs(s, root, v2) == manifestDirs(s, root, 1L)) 1L else 0L
      content
        .unionByName(audit("prune_day_era", dayKept.toLong, dayToks.size.toLong))
        .unionByName(audit("prune_month_era", monKept.toLong, monToks.size.toLong))
        .unionByName(audit("evolve_audit", evolveOk, 1L))
        .unionByName(audit("replace_audit", replaced.toLong, carried.toLong))
        .orderBy(col("step"))
    },
    Some("""
      WITH o AS (
        SELECT o_orderkey, o_custkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price, o_orderdate,
          year(o_orderdate) * 12 + month(o_orderdate) AS mi
        FROM orders),
      b AS (SELECT min(mi) AS mi0 FROM o),
      w AS (SELECT o.*, mi - mi0 AS k,
              CASE WHEN mi = mi0 + 1
                THEN CAST(price + 5 AS DECIMAL(18,2)) ELSE price END AS adj
            FROM o, b WHERE mi BETWEEN mi0 + 1 AND mi0 + 4)
      SELECT concat('m_', CAST(k AS VARCHAR)) AS step,
        CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS b,
        CAST(sum(adj) AS DOUBLE) AS c
      FROM w GROUP BY k
      UNION ALL
      SELECT 'prune_day_era',
        CAST((SELECT count(DISTINCT o_orderdate) FROM o, b
          WHERE mi BETWEEN mi0 + 1 AND mi0 + 2) AS BIGINT),
        CAST((SELECT count(DISTINCT o_orderdate) FROM o, b
          WHERE mi <= mi0 + 2) AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'prune_month_era',
        CAST((SELECT count(DISTINCT mi) FROM o, b
          WHERE mi BETWEEN mi0 + 3 AND mi0 + 4) AS BIGINT),
        CAST((SELECT count(DISTINCT mi) FROM o, b
          WHERE mi BETWEEN mi0 + 3 AND mi0 + 5) AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'evolve_audit', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'replace_audit',
        CAST((SELECT count(DISTINCT o_orderdate) FROM o, b
          WHERE mi = mi0 + 1) AS BIGINT),
        CAST((SELECT count(DISTINCT o_orderdate) FROM o, b
          WHERE mi <= mi0 + 2 AND mi <> mi0 + 1) AS BIGINT)
          + CAST((SELECT count(DISTINCT mi) FROM o, b
              WHERE mi BETWEEN mi0 + 3 AND mi0 + 5) AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q141: MATERIALIZED VIEW with INCREMENTAL REFRESH
    * ([[graft.ops.MaterializedView]], surfaced as `CALL create_mview /
    * refresh_mview / mview_status`): a grouped aggregate of the
    * versioned table materialized as its own versioned table, kept
    * fresh by folding the source's change feed — O(changes since last
    * refresh), never O(source). Pinned here: create over the first
    * year's orders; a second-year append, a mid-window release TAG
    * (metadata-only — must NOT force a full recompute) and a
    * copy-on-write DELETE that erases one whole group; ONE incremental
    * refresh folds all of it (`changed_groups` oracle-pinned from the
    * data's own group spread; the retracted-to-zero group vanishes from
    * the content — hash-pinned by its absence); a second refresh is a
    * `noop`; the staleness ledger flips across the refresh; and the
    * final MV content hash-matches the oracle's full re-aggregate. Sums
    * stage in DECIMAL so the incremental fold is bit-identical to the
    * recompute. At 100 TB: the hourly dashboard aggregate costs the
    * hour's changes plus the (aggregate-sized) fold — the reference's
    * recompute-every-run extracts (`spotifytransform.py:96-143`) are
    * exactly the cost shape this removes.
    */
  val q141MaterializedView: Q = Q(
    "q141_materialized_view",
    (s, dir) => {
      val root = freshRunRoot()
      val src = s"$root/src"; val mv = s"$root/mv"
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_custkey"), lit(7L)).as("cgrp"),
          Q.dec2(col("o_totalprice")).as("price"),
          year(col("o_orderdate")).as("yr"))
      val y0 = base.agg(min(col("yr"))).head().getInt(0)
      commit(s, src, base.filter(col("yr") === y0), overwrite = true,
        meta = Map("prop:key" -> "k"))                               // v1
      require(MaterializedView.create(s, mv, src, Seq("cgrp"),
        "cnt:count, rev:sum(price)"), "q141: private mv must create")
      val (_, _, freshAtCreate) = MaterializedView.status(s, mv)
      commit(s, src, base.filter(col("yr") === y0 + 1),
        overwrite = false)                                           // v2
      tagVersion(s, src, "rel1")                                     // v3
      deleteWhere(s, src, col("cgrp") === 3L)                        // v4
      val (_, _, staleBefore) = MaterializedView.status(s, mv)
      val r1 = MaterializedView.refresh(s, mv)
      val r2 = MaterializedView.refresh(s, mv)
      val (_, _, staleAfter) = MaterializedView.status(s, mv)
      val flags = (if (r1.mode == "incremental") 1L else 0L) +
        (if (r2.mode == "noop") 2L else 0L) +
        (if (staleBefore) 4L else 0L) +
        (if (!staleAfter && !freshAtCreate) 8L else 0L)
      val content = readAt(s, mv).select(
        concat(lit("g_"), col("cgrp").cast("string")).as("step"),
        col("cnt").as("a"), col("cgrp").cast("long").as("b"),
        col("rev").cast("double").as("c"))
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(flags).as("a"), lit(r1.changedGroups).as("b"),
        lit(1.0).cast("double").as("c"))
      content.unionByName(audit).orderBy(col("step"))
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey AS k, o_custkey % 7 AS cgrp,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) AS y0 FROM base),
      w AS (SELECT base.*, yr - y0 AS kk FROM base, y
            WHERE yr BETWEEN y0 AND y0 + 1),
      content AS (
        SELECT cgrp, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(coalesce(price, 0)) AS DOUBLE) AS rev
        FROM w WHERE cgrp <> 3 GROUP BY cgrp),
      chg AS (
        -- changed groups: every group the year-1 append touches, plus
        -- group 3 iff it HAS year-0 rows — a group inserted and fully
        -- deleted inside one window nets to exactly zero and folds as
        -- a no-op (so 3 only counts via its retracted year-0 rows)
        SELECT CAST(count(DISTINCT cgrp) AS BIGINT) AS n FROM w
        WHERE (kk = 1 AND cgrp <> 3) OR (cgrp = 3 AND kk = 0))
      SELECT concat('g_', CAST(cgrp AS VARCHAR)) AS step, cnt AS a,
        CAST(cgrp AS BIGINT) AS b, rev AS c FROM content
      UNION ALL
      SELECT 'audit', CAST(15 AS BIGINT), (SELECT n FROM chg),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q142: TYPE WIDENING — [[widenColumnType]] (SQL `ALTER TABLE …
    * ALTER COLUMN … TYPE`) driven through the canonical mixed-era
    * story: v1 loads the first year with NARROW types (int customer
    * key, decimal(10,2) price), two metadata-only ALTERs widen them
    * (int→bigint, decimal(10,2)→(14,2) — dirs pinned identical, kind
    * pinned `widen_column`, change feeds pinned empty across them), v2
    * appends the second year PHYSICALLY WIDE — so the snapshot mixes
    * narrow and wide parquet eras and every read serves ONE logical
    * type via per-generation casts ([[readDirs]]). The per-year
    * aggregate reads THROUGH the mixed eras and hash-matches the
    * oracle's plain re-aggregate; time travel before the ALTER serves
    * the original narrow type (flag-pinned). At 100 TB: outgrowing an
    * int key costs one bytes-sized manifest publish instead of a
    * table rewrite, and the history keeps reading — the Iceberg
    * type-promotion economics.
    */
  val q142TypeWidening: Q = Q(
    "q142_type_widening",
    (s, dir) => {
      val root = freshRunRoot()
      val narrow = t(s, dir, "orders")
        .select(col("o_custkey").cast("int").as("cust"),
          col("o_totalprice").cast("decimal(10,2)").as("price"),
          year(col("o_orderdate")).as("yr"))
      val y0 = narrow.agg(min(col("yr"))).head().getInt(0)
      val v1 = commit(s, root, narrow.filter(col("yr") === y0),
        overwrite = true)
      val v2 = widenColumnType(s, root, "cust",
        org.apache.spark.sql.types.LongType)
      val v3 = widenColumnType(s, root, "price",
        org.apache.spark.sql.types.DecimalType(14, 2))
      commit(s, root, narrow.filter(col("yr") === y0 + 1)
          .withColumn("cust", col("cust").cast("bigint"))
          .withColumn("price", col("price").cast("decimal(14,2)")),
        overwrite = false)                                 // wide era
      val tipSchema = readAt(s, root).schema
      val flags =
        (if (commitKind(s, root, v2) == "widen_column") 1L else 0L) +
        (if (manifestDirs(s, root, v2) == manifestDirs(s, root, v1)) 2L
         else 0L) +
        (if (readAt(s, root, Some(v1)).schema("cust").dataType ==
            org.apache.spark.sql.types.IntegerType) 4L else 0L) +
        (if (tipSchema("cust").dataType ==
            org.apache.spark.sql.types.LongType &&
            tipSchema("price").dataType ==
              org.apache.spark.sql.types.DecimalType(14, 2)) 8L else 0L) +
        (if (tableChanges(s, root, v1, v3).count() == 0L) 16L else 0L)
      val perYear = readAt(s, root).groupBy(col("yr"))
        .agg(count(lit(1)).as("a"), sum(col("cust")).as("b"),
          sum(col("price")).cast("double").as("c"))
        .select(concat(lit("yr_"), (col("yr") - y0).cast("string"))
          .as("step"), col("a"), col("b"), col("c"))
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(flags).as("a"), lit(1L).as("b"), lit(1.0).cast("double").as("c"))
      perYear.unionByName(audit).orderBy(col("step"))
    },
    Some("""
      WITH base AS (
        SELECT o_custkey AS cust,
          CAST(o_totalprice AS DECIMAL(10,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) AS y0 FROM base),
      w AS (SELECT base.*, yr - y0 AS k FROM base, y
            WHERE yr BETWEEN y0 AND y0 + 1)
      SELECT concat('yr_', CAST(k AS VARCHAR)) AS step,
        CAST(count(*) AS BIGINT) AS a,
        CAST(sum(cust) AS BIGINT) AS b,
        CAST(sum(price) AS DOUBLE) AS c
      FROM w GROUP BY k
      UNION ALL
      SELECT 'audit', CAST(31 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q143: METADATA-ONLY AGGREGATE PUSHDOWN — the catalog scan's
    * `SupportsPushDownAggregates` ([[graft.sources.VTableScanBuilder]] →
    * [[graft.sources.VTableAggScan]] → [[FooterStats]]): a global
    * COUNT(*) / COUNT(col) / MIN / MAX over the versioned table is
    * answered from parquet FOOTERS — O(files) column metadata, zero
    * data pages — replacing scan+aggregate with a local one-row scan.
    * Pinned here: a two-era lineitem table (append history, a nullable
    * column with real nulls, long/int/date columns); the pushed query's
    * physical plan carries NO aggregate exec and a LocalTableScan
    * (flag-pinned); a WHERE'd twin must REFUSE pushdown (flag-pinned:
    * its plan aggregates normally) and both hash-match the oracle's
    * recompute from the base table. At 100 TB: `SELECT count(*)` costs
    * a metadata job sized by the file count — the Iceberg
    * manifests-answer-aggregates economics — instead of reading 100 TB.
    */
  val q143AggPushdown: Q = Q(
    "q143_agg_pushdown",
    (s, dir) => {
      val root = freshRunRoot()
      val table = s"$root/main/li"
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("k"),
        col("l_linenumber").cast("int").as("ln"),
        col("l_shipdate").cast("date").as("sd"),
        when(pmod(col("l_suppkey"), lit(7L)) === 0L, lit(null))
          .otherwise(col("l_suppkey")).as("nk"))
      commit(s, table, li.filter(year(col("sd")) <= 1994), overwrite = true)
      commit(s, table, li.filter(year(col("sd")) > 1994), overwrite = false)
      val cat = "vtq143_" + new Path(root).getName.stripPrefix("run_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val pushed = s.sql(
        s"SELECT count(*) AS n, count(nk) AS nn, min(k) AS mnk, " +
          s"max(k) AS mxk, min(ln) AS mnl, max(ln) AS mxl, " +
          s"min(sd) AS mnd, max(sd) AS mxd FROM $cat.main.li")
      val filtered = s.sql(
        s"SELECT count(*) AS n FROM $cat.main.li WHERE ln <= 3")
      val pPlan = pushed.queryExecution.executedPlan.toString
      val fPlan = filtered.queryExecution.executedPlan.toString
      val flags =
        (if (!pPlan.contains("HashAggregate") &&
            !pPlan.contains("SortAggregate")) 1L else 0L) +
        (if (pPlan.contains("LocalTableScan")) 2L else 0L) +
        (if (fPlan.contains("Aggregate")) 4L else 0L)
      val p = pushed.head(); val f = filtered.head()
      val rows = Seq(
        ("counts", p.getLong(0), p.getLong(1), f.getLong(0).toDouble),
        ("minmax_k", p.getLong(2), p.getLong(3),
          (p.getInt(4) + p.getInt(5)).toDouble),
        ("dates",
          p.getDate(6).toLocalDate.toEpochDay,
          p.getDate(7).toLocalDate.toEpochDay, 1.0),
        ("audit", flags, 1L, 1.0))
      import s.implicits._
      rows.toDF("step", "a", "b", "c").orderBy(col("step"))
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey AS k, CAST(l_linenumber AS INT) AS ln,
          CAST(l_shipdate AS DATE) AS sd,
          CASE WHEN l_suppkey % 7 = 0 THEN NULL ELSE l_suppkey END AS nk
        FROM lineitem)
      SELECT 'counts' AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(nk) AS BIGINT) AS b,
        CAST((SELECT count(*) FROM li WHERE ln <= 3) AS DOUBLE) AS c
      FROM li
      UNION ALL
      SELECT 'minmax_k', CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT),
        CAST(min(ln) + max(ln) AS DOUBLE) FROM li
      UNION ALL
      SELECT 'dates', CAST(min(sd) - DATE '1970-01-01' AS BIGINT),
        CAST(max(sd) - DATE '1970-01-01' AS BIGINT), CAST(1 AS DOUBLE)
      FROM li
      UNION ALL
      SELECT 'audit', CAST(7 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q144: MANIFEST-SIZED BROADCAST PLANNING — the catalog scan
    * measures its own bytes from the manifest ([[scanSizeBytes]],
    * surfaced as `SupportsReportStatistics` on the scan and — because
    * Spark's V1ScanWrapper hides that interface from the V1 bridge —
    * delivered to JoinSelection by the
    * [[graft.sources.VTableBroadcastHints]] optimizer rule, which
    * attaches a broadcast JoinHint to join sides whose measured bytes
    * clear the session threshold). Result: a small dimension table
    * plans as a BROADCAST hash join against the fact (flag-pinned from
    * the physical plan) instead of shuffling both sides, and the join
    * result hash-matches the oracle's plain re-join. At 100 TB this is
    * the difference between shipping a megabyte dim to every executor
    * and shuffling the fact table across the cluster — and because the
    * estimate reuses the scan's own pruning decision, a pruned slice of
    * a big table earns the same treatment.
    */
  val q144StatsBroadcast: Q = Q(
    "q144_stats_broadcast",
    (s, dir) => {
      graft.expr.GraftFunctions.register(s) // the broadcast-hint rule
      val root = freshRunRoot()
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("k"),
        pmod(col("l_partkey"), lit(97L)).as("d"),
        Q.dec2(col("l_extendedprice")).as("price"))
      commit(s, s"$root/main/fact", li, overwrite = true)
      val dim = s.range(0, 97).select(col("id").as("d"),
        concat(lit("seg_"), pmod(col("id"), lit(5L)).cast("string"))
          .as("seg"))
      commit(s, s"$root/main/dim", dim, overwrite = true)
      val cat = "vtq144_" + new Path(root).getName.stripPrefix("run_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val joined = s.sql(
        s"SELECT d.seg AS seg, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(f.price) AS DOUBLE) AS rev " +
          s"FROM $cat.main.fact f JOIN $cat.main.dim d ON f.d = d.d " +
          s"GROUP BY d.seg")
      val flags =
        if (joined.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin")) 1L else 0L
      val audit = s.range(1).select(lit("audit").as("seg"),
        lit(flags).as("n"), lit(1.0).cast("double").as("rev"))
      joined.unionByName(audit).orderBy(col("seg"))
    },
    Some("""
      WITH f AS (
        SELECT l_orderkey AS k, l_partkey % 97 AS d,
          CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        FROM lineitem),
      dim AS (
        SELECT g AS d, concat('seg_', CAST(g % 5 AS VARCHAR)) AS seg
        FROM generate_series(0, 96) AS t(g))
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(price) AS DOUBLE) AS rev
      FROM f JOIN dim ON f.d = dim.d GROUP BY seg
      UNION ALL
      SELECT 'audit', CAST(1 AS BIGINT), CAST(1 AS DOUBLE)
      ORDER BY seg"""))

  /** q145: GROUP-BY-PARTITION METADATA AGGREGATES — [[FooterStats
    * .aggregateByPartition]] through the same `SupportsPushDownAggregates`
    * surface: `SELECT yr, count(*), min(k), max(k), count(nk) … GROUP BY
    * yr` over an identity-partitioned table is answered by grouping the
    * manifest's leaf-dir tokens (`__p_yr=<v>` names the group) and
    * folding per-entry FOOTER partials per group — one metadata job, one
    * row per partition, zero data pages (the Iceberg partition-summary
    * economics, reached through plain SQL). Plan flags pin the pushed
    * query to a LocalTableScan with no aggregate exec, and a
    * non-partition GROUP BY twin to the ordinary scan+aggregate. The
    * oracle recomputes both groupings from the base table. At 100 TB:
    * the per-day/per-tenant operational rollup every pipeline dashboard
    * runs hourly costs manifest+footer metadata instead of a table scan.
    */
  val q145PartitionAgg: Q = Q(
    "q145_partition_agg",
    (s, dir) => {
      val root = freshRunRoot()
      val table = s"$root/main/orders_pa"
      val src = t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        year(col("o_orderdate")).as("yr"),
        when(pmod(col("o_custkey"), lit(5L)) === 0L, lit(null))
          .otherwise(col("o_custkey")).as("nk"))
      // two partition-routed loads (append history) — each year lands as
      // its own manifest leaf in both generations (createIfAbsent routes
      // the FIRST commit too; a property passed via commit meta only
      // takes effect from the NEXT commit, which would silently turn
      // this whole query into the exact-scan fallback)
      require(createIfAbsent(s, table,
        src.filter(pmod(col("k"), lit(2L)) === 0L),
        Map("partition" -> "yr")), "q145: fresh root must create")
      commit(s, table, src.filter(pmod(col("k"), lit(2L)) === 1L),
        overwrite = false)
      // pin the metadata path itself: the token-grouped footer engine
      // must PROVE this layout servable (None here = fallback = the
      // query would still be right but the claim wrong)
      require(FooterStats.aggregateByPartition(s, table, None,
          Seq(("yr", org.apache.spark.sql.types.IntegerType)),
          Seq(FooterStats.RowCount)).isDefined,
        "q145: the grouped footer path must serve this layout")
      val cat = "vtq145_" + new Path(root).getName.stripPrefix("run_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val grouped = s.sql(
        s"SELECT yr, count(*) AS n, min(k) AS mn, max(k) AS mx, " +
          s"count(nk) AS nn FROM $cat.main.orders_pa GROUP BY yr")
      val plain = s.sql(
        s"SELECT pmod(nk, 3) AS g, count(*) AS n " +
          s"FROM $cat.main.orders_pa GROUP BY pmod(nk, 3)")
      val gPlan = grouped.queryExecution.executedPlan.toString
      val pPlan = plain.queryExecution.executedPlan.toString
      val flags =
        (if (!gPlan.contains("HashAggregate") &&
            !gPlan.contains("SortAggregate")) 1L else 0L) +
        (if (gPlan.contains("LocalTableScan")) 2L else 0L) +
        (if (pPlan.contains("Aggregate")) 4L else 0L)
      val content = grouped.select(
        concat(lit("yr_"), col("yr").cast("string")).as("step"),
        col("n").as("a"), col("mn").as("b"),
        (col("mx") + col("nn")).cast("double").as("c"))
      val maxPlain = plain.agg(max(col("n"))).head().getLong(0)
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(flags).as("a"), lit(maxPlain).as("b"),
        lit(1.0).cast("double").as("c"))
      content.unionByName(audit).orderBy(col("step"))
    },
    Some("""
      WITH src AS (
        SELECT o_orderkey AS k, year(o_orderdate) AS yr,
          CASE WHEN o_custkey % 5 = 0 THEN NULL ELSE o_custkey END AS nk
        FROM orders)
      SELECT concat('yr_', CAST(yr AS VARCHAR)) AS step,
        CAST(count(*) AS BIGINT) AS a, CAST(min(k) AS BIGINT) AS b,
        CAST(max(k) + count(nk) AS DOUBLE) AS c
      FROM src GROUP BY yr
      UNION ALL
      SELECT 'audit', CAST(7 AS BIGINT),
        (SELECT CAST(max(n) AS BIGINT) FROM
          (SELECT count(*) AS n FROM src GROUP BY nk % 3)),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q146: MATERIALIZED VIEW OVER A JOIN — [[MaterializedView.createJoin]]:
    * the first MV a real dashboard writes is `fact ⋈ dim GROUP BY …`,
    * and this engine maintains it incrementally from BOTH sources'
    * change feeds via the bilinear delta identity Δ(A⋈B) = ΔA⋈B_old ∪
    * A_old⋈ΔB ∪ ΔA⋈ΔB (the q71 algebra, `ops/Relational5.scala`), with
    * joined-row signs the PRODUCT of input signs and BOTH freshness
    * markers committing atomically with content in one manifest
    * publish. Pinned here: a lineitem-year fact ⋈ orders-year dim MV
    * (group by order priority); a fact-side append (ΔA⋈B), a dim-side
    * append that ACTIVATES previously-dangling facts (A⋈ΔB), and a
    * copy-on-write dim DELETE whose retraction erases one whole
    * priority group (sign product −1; `changed_groups` for that window
    * oracle-pinned from the data's own join spread); a final refresh is
    * a `noop` and the content hash-matches the oracle's full re-join.
    * At 100 TB: each refresh costs O(Δfact ⋈ dim) + O(fact ⋈ Δdim) —
    * never a recompute of the join the dashboard sits on.
    */
  val q146JoinMview: Q = Q(
    "q146_join_mview",
    (s, dir) => {
      val root = freshRunRoot()
      val fact = s"$root/fact"; val dim = s"$root/dim"
      val mv = s"$root/mv"
      val f = t(s, dir, "lineitem").select(
        col("l_orderkey").as("fk"), Q.dec2(col("l_quantity")).as("qty"),
        year(col("l_shipdate")).as("fyr"))
      val d = t(s, dir, "orders").select(
        col("o_orderkey").as("dk"), col("o_orderpriority").as("prio"),
        year(col("o_orderdate")).as("dyr"))
      val fy0 = f.agg(min(col("fyr"))).head().getInt(0)
      val dy0 = d.agg(min(col("dyr"))).head().getInt(0)
      commit(s, fact, f.filter(col("fyr") === fy0), overwrite = true) // v1
      commit(s, dim, d.filter(col("dyr") === dy0), overwrite = true)  // v1
      require(MaterializedView.createJoin(s, mv, fact, dim,
        Seq(("fk", "dk")), Seq("prio"), "cnt:count, sq:sum(qty)"),
        "q146: fresh mv root must create")
      commit(s, fact, f.filter(col("fyr") === fy0 + 1), overwrite = false)
      val (_, _, staleBefore) = MaterializedView.status(s, mv)
      val r1 = MaterializedView.refresh(s, mv)   // ΔA ⋈ B_old
      commit(s, dim, d.filter(col("dyr") === dy0 + 1), overwrite = false)
      val r2 = MaterializedView.refresh(s, mv)   // A_old ⋈ ΔB
      deleteWhere(s, dim, col("prio") === "1-URGENT") // CoW retraction
      val r3 = MaterializedView.refresh(s, mv)
      val r4 = MaterializedView.refresh(s, mv)
      val (_, _, staleAfter) = MaterializedView.status(s, mv)
      val flags = (if (r1.mode == "incremental") 1L else 0L) +
        (if (r2.mode == "incremental") 2L else 0L) +
        (if (r3.mode == "incremental") 4L else 0L) +
        (if (r4.mode == "noop") 8L else 0L) +
        (if (staleBefore) 16L else 0L) +
        (if (!staleAfter) 32L else 0L)
      val content = readAt(s, mv).select(
        concat(lit("g_"), col("prio")).as("step"), col("cnt").as("a"),
        (col("sq") * lit(100)).cast("long").as("b"),
        col("sq").cast("double").as("c"))
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(flags).as("a"), lit(r3.changedGroups).as("b"),
        lit(1.0).cast("double").as("c"))
      content.unionByName(audit).orderBy(col("step"))
    },
    Some("""
      WITH f AS (
        SELECT l_orderkey AS fk, CAST(l_quantity AS DECIMAL(18,2)) AS qty,
          year(l_shipdate) AS fyr
        FROM lineitem),
      fy AS (SELECT min(fyr) AS fy0 FROM f),
      d AS (
        SELECT o_orderkey AS dk, o_orderpriority AS prio,
          year(o_orderdate) AS dyr
        FROM orders),
      dy AS (SELECT min(dyr) AS dy0 FROM d),
      fw AS (SELECT f.* FROM f, fy WHERE fyr BETWEEN fy0 AND fy0 + 1),
      dwall AS (SELECT d.* FROM d, dy WHERE dyr BETWEEN dy0 AND dy0 + 1),
      content AS (
        SELECT prio, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(coalesce(qty, 0)) * 100 AS BIGINT) AS sq100,
          CAST(sum(coalesce(qty, 0)) AS DOUBLE) AS sq
        FROM fw JOIN dwall ON fk = dk
        WHERE prio <> '1-URGENT' GROUP BY prio),
      touched AS (
        -- groups the dim-delete window retracts: distinct priorities
        -- among (full fact ⋈ deleted dim rows)
        SELECT CAST(count(DISTINCT prio) AS BIGINT) AS n
        FROM fw JOIN dwall ON fk = dk WHERE prio = '1-URGENT')
      SELECT concat('g_', prio) AS step, cnt AS a, sq100 AS b, sq AS c
      FROM content
      UNION ALL
      SELECT 'audit', CAST(63 AS BIGINT), (SELECT n FROM touched),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q147: MIN/MAX IN MATERIALIZED VIEWS — the HYBRID fold
    * ([[MaterializedView]] r17): min/max are not retractable from a
    * per-group scalar, so the engine folds them incrementally EXACTLY
    * when that is sound (insert-only delta windows: least/greatest of
    * current and inserted values — never a rescan) and recomputes ONLY
    * the retraction-touched groups from the tip source otherwise
    * (O(affected groups), honestly reported as `recomputed_groups`).
    * Pinned here: an orders MV carrying count+min+max per priority; a
    * year-append refresh folds with `recomputed_groups = 0`
    * (flag-pinned); a copy-on-write DELETE of every third order key
    * triggers per-group recomputes whose COUNT is oracle-pinned from
    * the data's own group spread (and equals the window's
    * changed-group count — delete-only window); a final refresh is a
    * noop; the content (count, min·100 exact grid, max) hash-matches
    * the oracle's recompute. At 100 TB: the nightly append keeps
    * dashboard min/max at fold cost; the rare backfill delete pays one
    * scan restricted to exactly its groups.
    */
  val q147MinmaxMview: Q = Q(
    "q147_minmax_mview",
    (s, dir) => {
      val root = freshRunRoot()
      val src = s"$root/src"; val mv = s"$root/mv"
      val base = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("grp"),
        Q.dec2(col("o_totalprice")).as("price"),
        year(col("o_orderdate")).as("yr"))
      val y0 = base.agg(min(col("yr"))).head().getInt(0)
      commit(s, src, base.filter(col("yr") === y0), overwrite = true)
      require(MaterializedView.create(s, mv, src, Seq("grp"),
        "cnt:count, lo:min(price), hi:max(price)"),
        "q147: fresh mv root must create")
      commit(s, src, base.filter(col("yr") === y0 + 1), overwrite = false)
      val r1 = MaterializedView.refresh(s, mv) // append-only: pure fold
      deleteWhere(s, src, pmod(col("k"), lit(3L)) === 0L)
      val r2 = MaterializedView.refresh(s, mv) // retractions: recompute
      val r3 = MaterializedView.refresh(s, mv)
      val flags = (if (r1.mode == "incremental") 1L else 0L) +
        (if (r1.recomputedGroups == 0L) 2L else 0L) +
        (if (r2.mode == "incremental") 4L else 0L) +
        (if (r2.changedGroups == r2.recomputedGroups) 8L else 0L) +
        (if (r3.mode == "noop") 16L else 0L)
      val content = readAt(s, mv).select(
        concat(lit("g_"), col("grp")).as("step"), col("cnt").as("a"),
        (col("lo") * lit(100)).cast("long").as("b"),
        col("hi").cast("double").as("c"))
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(flags).as("a"), lit(r2.recomputedGroups).as("b"),
        lit(1.0).cast("double").as("c"))
      content.unionByName(audit).orderBy(col("step"))
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey AS k, o_orderpriority AS grp,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price,
          year(o_orderdate) AS yr
        FROM orders),
      y AS (SELECT min(yr) AS y0 FROM base),
      w AS (SELECT base.* FROM base, y WHERE yr BETWEEN y0 AND y0 + 1),
      kept AS (SELECT * FROM w WHERE k % 3 <> 0),
      content AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS cnt,
          CAST(min(price) * 100 AS BIGINT) AS lo100,
          CAST(max(price) AS DOUBLE) AS hi
        FROM kept GROUP BY grp),
      recomputed AS (
        -- the delete window's retraction-touched groups
        SELECT CAST(count(DISTINCT grp) AS BIGINT) AS n
        FROM w WHERE k % 3 = 0)
      SELECT concat('g_', grp) AS step, cnt AS a, lo100 AS b, hi AS c
      FROM content
      UNION ALL
      SELECT 'audit', CAST(31 AS BIGINT), (SELECT n FROM recomputed),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q148: `hours(ts)` HIDDEN PARTITIONING — the r17 transform
    * ([[PartHours]]) driven end-to-end over the events stream table:
    * the landing-zone layout for high-volume ingest, where each hour is
    * the replaced unit of the per-micro-batch reload. One routed load
    * lands one leaf per UTC hour present in the data; a plain
    * TIMESTAMP-RANGE predicate on `ts` prunes hour leaves at the
    * manifest (zero-padded ISO-prefix tokens sort chronologically)
    * without the query naming a derived column; a dynamic overwrite
    * re-loads the window's FIRST DAY with corrected values and replaces
    * exactly that day's hour leaves (`replace_audit` — count pinned
    * from the data's own hour spread). `content` reads the post-replace
    * 48-hour window THROUGH the relation's pushed filters, so the hash
    * gate proves hour routing, range pruning and the replace never
    * change results. At 100 TB: the hot ingest window runs hours();
    * spec evolution (q137) ages it to days() in one metadata commit —
    * the pairing that made the transform safe to offer.
    */
  val q148HourlyPartitioning: Q = Q(
    "q148_hourly_partitioning",
    (s, dir) => {
      val root = freshRunRoot()
      val all = t(s, dir, "events").select(
        col("event_id"), col("ts"), col("user_id"),
        Q.dec2(col("value")).as("val"))
      // hour-aligned windows from the data's own min: content window =
      // [h0+24h, h0+72h), reload window = its first day [h0+24h, h0+48h)
      val h0 = all.agg(min(col("ts"))).head().getTimestamp(0)
        .toInstant.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
      def at(hours: Long, backOneMicro: Boolean = false) =
        java.sql.Timestamp.from(
          h0.plusSeconds(hours * 3600L)
            .minusNanos(if (backOneMicro) 1000L else 0L))
      // table = the data's first 10 days (~240 hour leaves) — enough to
      // exercise routing/pruning/replace at every SF without paying the
      // full month's dir fan-out on every bench run
      val src = all.filter(col("ts") < at(240))
      require(createIfAbsent(s, root, src,
        Map("partition" -> "hours(ts)")), "q148: private table must create")
      val lo = at(24); val rHi = at(48, backOneMicro = true)
      val hi = at(72, backOneMicro = true)
      val reload = src.filter(col("ts").between(lo, rHi))
        .withColumn("val", Q.dec2(col("val") + lit(5)))
      val (_, replaced, carried) = overwritePartitions(s, root, reload)
        .getOrElse(sys.error("q148: replace lost a race on a private table"))
      val rel = s.read.format("graft-vtable").option("path", root).load()
      val content = rel.filter(col("ts").between(lo, hi))
        .agg(count(lit(1)).as("a"),
          countDistinct(col("user_id")).as("b"),
          sum(col("val")).cast("double").as("c"))
        .select(lit("content").as("step"), col("a"), col("b"), col("c"))
      val fields = partitionFieldsOf(tableProperties(s, root))
      val (_, kept, total) = readAtPruned(s, root, None, Nil,
        PartFields.prunePredicates(fields, Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual("ts", lo),
          org.apache.spark.sql.sources.LessThanOrEqual("ts", hi))))
      def audit(step: String, a: Long, b: Long, c: Double) =
        s.range(1).select(lit(step).as("step"), lit(a).as("a"),
          lit(b).as("b"), lit(c).cast("double").as("c"))
      content
        .unionByName(audit("prune_range", kept.toLong, total.toLong, 1.0))
        .unionByName(audit("replace_audit", replaced.toLong,
          carried.toLong, 1.0))
        .orderBy(col("step"))
    },
    Some("""
      WITH e0 AS (
        SELECT event_id, user_id, CAST(value AS DECIMAL(18,2)) AS val,
          CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hi
        FROM events),
      b AS (SELECT min(hi) AS h0 FROM e0),
      e AS (SELECT e0.* FROM e0, b WHERE hi < h0 + 240),
      w AS (SELECT e.*,
              CASE WHEN hi BETWEEN h0 + 24 AND h0 + 47
                THEN CAST(val + 5 AS DECIMAL(18,2)) ELSE val END AS adj
            FROM e, b WHERE hi BETWEEN h0 + 24 AND h0 + 71),
      h AS (SELECT DISTINCT hi FROM e)
      SELECT 'content' AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(DISTINCT user_id) AS BIGINT) AS b,
        CAST(sum(adj) AS DOUBLE) AS c
      FROM w
      UNION ALL
      SELECT 'prune_range',
        CAST((SELECT count(*) FROM h, b
          WHERE hi BETWEEN h0 + 24 AND h0 + 71) AS BIGINT),
        CAST((SELECT count(*) FROM h) AS BIGINT),
        CAST(1 AS DOUBLE)
      UNION ALL
      SELECT 'replace_audit',
        CAST((SELECT count(*) FROM h, b
          WHERE hi BETWEEN h0 + 24 AND h0 + 47) AS BIGINT),
        CAST((SELECT count(*) FROM h, b
          WHERE hi NOT BETWEEN h0 + 24 AND h0 + 47) AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q149: FILTERED METADATA AGGREGATES — `SELECT count(*)/MIN/MAX …
    * WHERE <partition predicate>`, the most-typed query on any
    * partitioned 100 TB table, served from parquet FOOTERS of exactly
    * the kept manifest entries. The scan builder ABSORBS pushed filters
    * whose shape is partition-exact (equality / range / IN / IS NULL
    * over one IDENTITY partition column — [[graft.sources
    * .VTableScanBuilder]]), which is what lets Spark offer the
    * aggregate pushdown at all (aggregates are offered only when no
    * residual filter remains); at plan time the manifest's leaf tokens
    * must PROVE the filter decides every entry
    * ([[FooterStats.provableKeptEntries]] — every file-bearing entry
    * carries a parseable `__p_<col>=<token>`, so the token decision
    * equals the row decision under identity partitioning), and the
    * footer job then folds exactly the kept entries. Pinned here: an
    * equality-WHERE and a range-WHERE over a year-partitioned orders
    * table both plan as a LocalTableScan with NO aggregate exec
    * (flag-pinned), while a WHERE on a NON-partition column refuses —
    * its plan aggregates over the ordinary scan (flag-pinned) — and
    * all three hash-match the oracle's recompute from the base table.
    * At 100 TB: the dashboard's `COUNT(*) WHERE day = yesterday` costs
    * one manifest read + footers of one partition instead of a scan.
    */
  val q149FilteredAggPushdown: Q = Q(
    "q149_filtered_agg_pushdown",
    (s, dir) => {
      val root = freshRunRoot()
      val table = s"$root/main/orders_fa"
      val src = t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        year(col("o_orderdate")).as("yr"),
        when(pmod(col("o_custkey"), lit(5L)) === 0L, lit(null))
          .otherwise(col("o_custkey")).as("nk"))
      val y0 = src.agg(min(col("yr"))).head().getInt(0)
      // partition-routed create + append: every year leaf appears in
      // BOTH generations, so the kept-entry set spans generations
      require(createIfAbsent(s, table,
        src.filter(pmod(col("k"), lit(2L)) === 0L),
        Map("partition" -> "yr")), "q149: fresh root must create")
      commit(s, table, src.filter(pmod(col("k"), lit(2L)) === 1L),
        overwrite = false)
      val cat = "vtq149_" + new Path(root).getName.stripPrefix("run_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.VTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val eq = s.sql(
        s"SELECT count(*) AS n, count(nk) AS nn, min(k) AS mn, " +
          s"max(k) AS mx FROM $cat.main.orders_fa WHERE yr = ${y0 + 1}")
      val rng = s.sql(
        s"SELECT count(*) AS n, count(nk) AS nn, min(k) AS mn, " +
          s"max(k) AS mx FROM $cat.main.orders_fa " +
          s"WHERE yr >= ${y0 + 1} AND yr <= ${y0 + 3}")
      val refused = s.sql(
        s"SELECT count(*) AS n FROM $cat.main.orders_fa WHERE nk > 0")
      val ePlan = eq.queryExecution.executedPlan.toString
      val rPlan = rng.queryExecution.executedPlan.toString
      val fPlan = refused.queryExecution.executedPlan.toString
      def pushed(p: String): Boolean =
        !p.contains("HashAggregate") && !p.contains("SortAggregate") &&
          p.contains("LocalTableScan")
      val flags =
        (if (pushed(ePlan)) 1L else 0L) +
        (if (pushed(rPlan)) 2L else 0L) +
        (if (fPlan.contains("Aggregate") &&
            !fPlan.contains("LocalTableScan")) 4L else 0L)
      val e = eq.head(); val r = rng.head(); val fr = refused.head()
      val rows = Seq(
        ("eq", e.getLong(0), e.getLong(1),
          (e.getLong(2) + e.getLong(3)).toDouble),
        ("range", r.getLong(0), r.getLong(1),
          (r.getLong(2) + r.getLong(3)).toDouble),
        ("audit", flags, fr.getLong(0), 1.0))
      import s.implicits._
      rows.toDF("step", "a", "b", "c").orderBy(col("step"))
    },
    Some("""
      WITH src AS (
        SELECT o_orderkey AS k, year(o_orderdate) AS yr,
          CASE WHEN o_custkey % 5 = 0 THEN NULL ELSE o_custkey END AS nk
        FROM orders),
      b AS (SELECT min(yr) AS y0 FROM src)
      SELECT 'eq' AS step, CAST(count(*) AS BIGINT) AS a,
        CAST(count(nk) AS BIGINT) AS b,
        CAST(min(k) + max(k) AS DOUBLE) AS c
      FROM src, b WHERE yr = y0 + 1
      UNION ALL
      SELECT 'range', CAST(count(*) AS BIGINT),
        CAST(count(nk) AS BIGINT), CAST(min(k) + max(k) AS DOUBLE)
      FROM src, b WHERE yr BETWEEN y0 + 1 AND y0 + 3
      UNION ALL
      SELECT 'audit', CAST(7 AS BIGINT),
        (SELECT CAST(count(*) AS BIGINT) FROM src WHERE nk > 0),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q150: CASCADING MATERIALIZED VIEWS — the bronze→silver→gold
    * medallion chain: an MV sourcing ANOTHER MV refreshes incrementally
    * because every [[MaterializedView.refresh]] publish RECORDS its own
    * row-level delta as the commit's CDF (`cdf:` manifest headers — the
    * Delta `_change_data` idea; [[tableChanges]] serves recorded CDF
    * verbatim instead of refusing the overwrite shape). Lifecycle
    * pinned here: base append → both tiers refresh `incremental`; a
    * copy-on-write DELETE (retractions) → both tiers `incremental`; a
    * base RESTORE → tier 1 honestly recomputes (`full` — the source
    * feed is inexpressible across a restore) while tier 2 STAYS
    * `incremental`, because tier 1's full refresh still recorded its
    * old-vs-new content diff. All three phases' tier-2 content
    * hash-matches the oracle's two-level recompute from the base rows.
    * At 100 TB: the gold rollup refreshes at O(changed silver groups)
    * per cycle — never a recompute of the silver tier it reads.
    */
  val q150MviewChain: Q = Q(
    "q150_mview_chain",
    (s, dir) => {
      val root = freshRunRoot()
      val base = s"$root/base"; val mv1 = s"$root/mv1"; val mv2 = s"$root/mv2"
      val src = t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        year(col("o_orderdate")).as("yr"),
        col("o_orderpriority").as("prio"),
        Q.dec2(col("o_totalprice")).as("val"))
      val y0 = src.agg(min(col("yr"))).head().getInt(0)
      commit(s, base, src.filter(col("yr") === y0), overwrite = true) // v1
      require(MaterializedView.create(s, mv1, base, Seq("yr", "prio"),
        "cnt:count, sv:sum(val)"), "q150: mv1 must create")
      require(MaterializedView.create(s, mv2, mv1, Seq("prio"),
        "cnt2:count, sc:sum(cnt), s2:sum(sv)"), "q150: mv2 must create")

      def tier2Content(phase: String): DataFrame =
        readAt(s, mv2).select(
          concat(lit(s"${phase}_"), col("prio")).as("step"),
          col("cnt2").as("a"), col("sc").as("b"),
          col("s2").cast("double").as("c"))

      commit(s, base, src.filter(col("yr") === y0 + 1), overwrite = false)
      val r1a = MaterializedView.refresh(s, mv1)
      val r1b = MaterializedView.refresh(s, mv2)
      val p1 = tier2Content("p1").localCheckpoint(true)

      require(deleteWhere(s, base, pmod(col("k"), lit(3L)) === 0L).isDefined,
        "q150: CoW delete on a private table must not lose a race")
      val r2a = MaterializedView.refresh(s, mv1)
      val r2b = MaterializedView.refresh(s, mv2)
      val p2 = tier2Content("p2").localCheckpoint(true)

      require(restore(s, base, 1L).isDefined,
        "q150: restore on a private table must not lose a race")
      val r3a = MaterializedView.refresh(s, mv1)
      val r3b = MaterializedView.refresh(s, mv2)
      val p3 = tier2Content("p3").localCheckpoint(true)

      val flags =
        (if (r1a.mode == "incremental") 1L else 0L) +
        (if (r1b.mode == "incremental") 2L else 0L) +
        (if (r2a.mode == "incremental") 4L else 0L) +
        (if (r2b.mode == "incremental") 8L else 0L) +
        (if (r3a.mode == "full") 16L else 0L) +
        (if (r3b.mode == "incremental") 32L else 0L)
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(flags).as("a"),
        lit(r1b.changedGroups + r2b.changedGroups).as("b"),
        lit(1.0).cast("double").as("c"))
      p1.unionByName(p2).unionByName(p3).unionByName(audit)
        .orderBy(col("step"))
    },
    Some("""
      WITH src AS (
        SELECT o_orderkey AS k, year(o_orderdate) AS yr,
          o_orderpriority AS prio,
          CAST(o_totalprice AS DECIMAL(18,2)) AS val
        FROM orders),
      b AS (SELECT min(yr) AS y0 FROM src),
      p1 AS (SELECT src.* FROM src, b WHERE yr <= y0 + 1),
      p2 AS (SELECT * FROM p1 WHERE k % 3 != 0),
      p3 AS (SELECT src.* FROM src, b WHERE yr = y0),
      t1 AS (SELECT yr, prio, count(*) AS cnt, sum(val) AS sv
             FROM p1 GROUP BY yr, prio),
      t2 AS (SELECT yr, prio, count(*) AS cnt, sum(val) AS sv
             FROM p2 GROUP BY yr, prio),
      t3 AS (SELECT yr, prio, count(*) AS cnt, sum(val) AS sv
             FROM p3 GROUP BY yr, prio),
      g1 AS (SELECT prio, count(*) AS cnt2, sum(cnt) AS sc,
               sum(sv) AS s2 FROM t1 GROUP BY prio),
      g2 AS (SELECT prio, count(*) AS cnt2, sum(cnt) AS sc,
               sum(sv) AS s2 FROM t2 GROUP BY prio),
      g3 AS (SELECT prio, count(*) AS cnt2, sum(cnt) AS sc,
               sum(sv) AS s2 FROM t3 GROUP BY prio)
      SELECT concat('p1_', prio) AS step, CAST(cnt2 AS BIGINT) AS a,
        CAST(sc AS BIGINT) AS b, CAST(s2 AS DOUBLE) AS c FROM g1
      UNION ALL
      SELECT concat('p2_', prio), CAST(cnt2 AS BIGINT),
        CAST(sc AS BIGINT), CAST(s2 AS DOUBLE) FROM g2
      UNION ALL
      SELECT concat('p3_', prio), CAST(cnt2 AS BIGINT),
        CAST(sc AS BIGINT), CAST(s2 AS DOUBLE) FROM g3
      UNION ALL
      SELECT 'audit', CAST(63 AS BIGINT),
        -- r1b folds the prios the append touched; r2b the prios the
        -- delete touched (every touched group's sum strictly changes,
        -- val being positive, so touched = changed)
        (SELECT CAST(count(DISTINCT prio) AS BIGINT)
           FROM p1, b WHERE yr = y0 + 1) +
        (SELECT CAST(count(DISTINCT prio) AS BIGINT)
           FROM p1 WHERE k % 3 = 0),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))

  /** q151: STAR-JOIN MATERIALIZED VIEW — the engine's own flagship
    * query shape (q03: lineitem ⋈ orders ⋈ customer) as an MV,
    * maintained by [[MaterializedView.createJoinChain]]: the bilinear
    * delta identity folds PAIRWISE down the left-deep chain (Δ(X⋈C) =
    * ΔX⋈C_old ∪ X_old⋈ΔC ∪ ΔX⋈ΔC with X = fact⋈orders), so a commit
    * on ANY of the three sources refreshes at O(Δ⋈rest), never a
    * recompute of the star. Lifecycle pinned here: a fact append
    * (Δfact⋈dims), an orders append that ACTIVATES previously-dangling
    * facts (fact⋈Δorders⋈cust), a customer append (two-deep
    * activation), and a copy-on-write orders DELETE whose retractions
    * erase matched rows (sign products through two joins); every
    * phase's full content is hash-pinned against the oracle's three-way
    * re-join and the final refresh is a `noop`. At 100 TB: the revenue
    * dashboard over the star refreshes at delta cost per cycle on
    * whichever side moved.
    */
  val q151StarMview: Q = Q(
    "q151_star_mview",
    (s, dir) => {
      val root = freshRunRoot()
      val fact = s"$root/fact"; val ord = s"$root/ord"
      val cst = s"$root/cst"; val mv = s"$root/mv"
      val f = t(s, dir, "lineitem").select(
        col("l_orderkey").as("lk"), Q.dec2(col("l_quantity")).as("qty"),
        Q.dec2(col("l_extendedprice")).as("price"),
        year(col("l_shipdate")).as("lyr"))
      val o = t(s, dir, "orders").select(
        col("o_orderkey").as("ok"), col("o_custkey").as("cust"),
        col("o_orderpriority").as("prio"))
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
      val y0 = f.agg(min(col("lyr"))).head().getInt(0)
      commit(s, fact, f.filter(col("lyr") === y0), overwrite = true)
      commit(s, ord, o.filter(pmod(col("ok"), lit(2L)) === 0L),
        overwrite = true)
      commit(s, cst, c.filter(pmod(col("ck"), lit(2L)) === 0L),
        overwrite = true)
      require(MaterializedView.createJoinChain(s, mv, fact,
        Seq((ord, Seq(("lk", "ok"))), (cst, Seq(("cust", "ck")))),
        Seq("seg", "prio"), "cnt:count, sq:sum(qty), sp:sum(price)"),
        "q151: fresh mv root must create")

      def content(phase: String): DataFrame =
        readAt(s, mv).select(
          concat(lit(s"${phase}_"), col("seg"), lit("_"), col("prio"))
            .as("step"),
          col("cnt").as("a"),
          (col("sq") * 100).cast("long").as("b"),
          col("sp").cast("double").as("c"))

      commit(s, fact, f.filter(col("lyr") === y0 + 1), overwrite = false)
      val r1 = MaterializedView.refresh(s, mv)
      val p1 = content("p1").localCheckpoint(true)
      commit(s, ord, o.filter(pmod(col("ok"), lit(2L)) === 1L),
        overwrite = false)
      val r2 = MaterializedView.refresh(s, mv)
      val p2 = content("p2").localCheckpoint(true)
      commit(s, cst, c.filter(pmod(col("ck"), lit(2L)) === 1L),
        overwrite = false)
      val r3 = MaterializedView.refresh(s, mv)
      val p3 = content("p3").localCheckpoint(true)
      require(deleteWhere(s, ord, pmod(col("ok"), lit(5L)) === 0L).isDefined,
        "q151: CoW delete on a private table must not lose a race")
      val r4 = MaterializedView.refresh(s, mv)
      val p4 = content("p4").localCheckpoint(true)
      val r5 = MaterializedView.refresh(s, mv)

      val flags =
        (if (r1.mode == "incremental") 1L else 0L) +
        (if (r2.mode == "incremental") 2L else 0L) +
        (if (r3.mode == "incremental") 4L else 0L) +
        (if (r4.mode == "incremental") 8L else 0L) +
        (if (r5.mode == "noop") 16L else 0L)
      val audit = s.range(1).select(lit("audit").as("step"),
        lit(flags).as("a"), lit(1L).as("b"),
        lit(1.0).cast("double").as("c"))
      p1.unionByName(p2).unionByName(p3).unionByName(p4)
        .unionByName(audit).orderBy(col("step"))
    },
    Some("""
      WITH f AS (
        SELECT l_orderkey AS lk, CAST(l_quantity AS DECIMAL(18,2)) AS qty,
          CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
          year(l_shipdate) AS lyr
        FROM lineitem),
      b AS (SELECT min(lyr) AS y0 FROM f),
      o AS (SELECT o_orderkey AS ok, o_custkey AS cust,
              o_orderpriority AS prio FROM orders),
      c AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer),
      f12 AS (SELECT f.* FROM f, b WHERE lyr <= y0 + 1),
      o_even AS (SELECT * FROM o WHERE ok % 2 = 0),
      c_even AS (SELECT * FROM c WHERE ck % 2 = 0),
      o_del AS (SELECT * FROM o WHERE ok % 5 != 0),
      g1 AS (SELECT seg, prio, count(*) AS cnt, sum(qty) AS sq,
               sum(price) AS sp
             FROM f12 JOIN o_even ON lk = ok JOIN c_even ON cust = ck
             GROUP BY seg, prio),
      g2 AS (SELECT seg, prio, count(*) AS cnt, sum(qty) AS sq,
               sum(price) AS sp
             FROM f12 JOIN o ON lk = ok JOIN c_even ON cust = ck
             GROUP BY seg, prio),
      g3 AS (SELECT seg, prio, count(*) AS cnt, sum(qty) AS sq,
               sum(price) AS sp
             FROM f12 JOIN o ON lk = ok JOIN c ON cust = ck
             GROUP BY seg, prio),
      g4 AS (SELECT seg, prio, count(*) AS cnt, sum(qty) AS sq,
               sum(price) AS sp
             FROM f12 JOIN o_del ON lk = ok JOIN c ON cust = ck
             GROUP BY seg, prio)
      SELECT concat('p1_', seg, '_', prio) AS step,
        CAST(cnt AS BIGINT) AS a,
        CAST(CAST(sq * 100 AS HUGEINT) AS BIGINT) AS b,
        CAST(sp AS DOUBLE) AS c FROM g1
      UNION ALL
      SELECT concat('p2_', seg, '_', prio), CAST(cnt AS BIGINT),
        CAST(CAST(sq * 100 AS HUGEINT) AS BIGINT), CAST(sp AS DOUBLE)
      FROM g2
      UNION ALL
      SELECT concat('p3_', seg, '_', prio), CAST(cnt AS BIGINT),
        CAST(CAST(sq * 100 AS HUGEINT) AS BIGINT), CAST(sp AS DOUBLE)
      FROM g3
      UNION ALL
      SELECT concat('p4_', seg, '_', prio), CAST(cnt AS BIGINT),
        CAST(CAST(sq * 100 AS HUGEINT) AS BIGINT), CAST(sp AS DOUBLE)
      FROM g4
      UNION ALL
      SELECT 'audit', CAST(31 AS BIGINT), CAST(1 AS BIGINT),
        CAST(1 AS DOUBLE)
      ORDER BY step"""))
}
