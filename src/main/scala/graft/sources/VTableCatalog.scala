package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TruncatableTable}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.VersionedTable

/** A DataSource-V2 CATALOG over a directory tree of
  * [[graft.ops.VersionedTable]] roots, so the commit-log format gets the
  * full SQL surface — including Spark's native time-travel syntax:
  *
  * {{{
  *   spark.sql.catalog.vt      = graft.sources.VTableCatalog
  *   spark.sql.catalog.vt.root = /warehouse            // table = root/ns/name
  *
  *   SELECT * FROM vt.main.orders_v                     -- latest snapshot
  *   SELECT * FROM vt.main.orders_v VERSION AS OF 2     -- log version
  *   SELECT * FROM vt.main.orders_v TIMESTAMP AS OF '…' -- publish time
  *   SHOW TABLES IN vt.main / DROP TABLE / ALTER … RENAME
  * }}}
  *
  * `VERSION AS OF` resolves through `loadTable(ident, version)` to a
  * manifest read; `TIMESTAMP AS OF` resolves through the manifest files'
  * publish times ([[VersionedTable.versionAsOfTimestamp]] — the atomic
  * rename IS the commit point, so its mtime is the commit timestamp).
  * Scans go through the [[V1Scan]] fallback to the same
  * [[VTableScans.frame]] the `graft-vtable` relation uses: Spark pushes
  * column pruning and filters down at the DSv2 layer, the frame turns
  * range filters on the catalog's `pruneCol` into manifest-stats
  * GENERATION pruning, and the inner parquet scan gets the translated
  * predicates for row-group pruning. `pushedFilters` reports only the
  * prune-effective subset, and every filter is re-evaluated above the
  * scan, so pruning can never change results.
  *
  * SQL WRITES land as commits through the V1Write bridge (the same
  * dataflow as `format("graft-vtable")` SaveModes): `INSERT INTO` is an
  * append commit, `INSERT OVERWRITE` an overwrite commit, and
  * `CREATE TABLE … AS SELECT` first publishes version 1 as an EMPTY
  * generation carrying the declared schema (a table exists exactly when
  * it has a commit — non-atomic CTAS, Spark drops the table if the
  * subsequent insert fails), then appends the query result. ALTER:
  * `SET/UNSET TBLPROPERTIES` lands as a metadata-only commit,
  * `ADD COLUMNS` as a widened-schema evolution commit, `RENAME COLUMN`
  * as a metadata-only name-mapping commit, `DROP COLUMN` as a logical
  * drop tombstone, `ALTER COLUMN … TYPE` as a lossless type-widening
  * commit; narrowing/reinterpreting retypes are rejected loudly.
  * Virtual metadata tables ride the identifier suffix: `SELECT * FROM
  * cat.ns.t.history` (also `.files`, `.refs`, `.partitions`) serves
  * the operational ledgers from manifests alone. DROP TABLE
  * deletes the table tree; RENAME TO is a directory move
  * (metadata-only, like the lakehouse formats). The catalog's
  * `pruneCol` option takes a comma LIST of stats columns — pushed
  * filters on each prune their own generation dimension conjunctively.
  */
class VTableCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _
  private var pruneCol: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft-vtable catalog '$name': set spark.sql.catalog.$name.root"))
    pruneCol = Option(options.get("pruneCol"))
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active

  private def hfs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathOf(ident: Identifier): String = {
    val parts = ident.namespace().toSeq :+ ident.name()
    require(parts.forall(s => s.nonEmpty && !s.contains("/") && !s.contains("..")),
      s"graft-vtable catalog: illegal identifier $ident")
    parts.foldLeft(new Path(root))((p, s) => new Path(p, s)).toString
  }

  private def isTable(path: String): Boolean =
    VersionedTable.versions(spark, path).nonEmpty

  // a CATALOG VIEW is a SQL definition persisted as `<ident>.view`
  // beside the table roots (see [[VTableViews]]); views resolve at READ
  // through loadTable, so `SELECT … FROM cat.ns.v` is native SQL —
  // the DDL rides the procedure surface (create_view / drop_view /
  // show_views) because OSS Spark has no v2 CREATE VIEW execution
  // (verified: nothing in the 4.1 analyzer/exec references ViewCatalog)
  private def viewFileOf(ident: Identifier): String =
    pathOf(ident) + ".view"

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsPath = namespace.foldLeft(new Path(root))((p, s) => new Path(p, s))
    val fs = hfs(nsPath)
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(namespace)
    val entries = fs.listStatus(nsPath).toSeq
    val tables = entries.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => isTable(new Path(nsPath, n).toString))
    // SHOW TABLES lists views too (the session-catalog convention)
    val views = entries.filter(st => st.isFile &&
        st.getPath.getName.endsWith(".view"))
      .map(_.getPath.getName.stripSuffix(".view"))
    (tables ++ views).sorted.map(n => Identifier.of(namespace, n)).toArray
  }

  // virtual METADATA TABLES (the Iceberg/Delta idiom): `cat.ns.t.history`
  // resolves when `t` is a table and no real table/view shadows the
  // suffix — each serves a bytes-sized operational ledger computed from
  // the manifests (never data)
  private val metaTables: Map[String, String => org.apache.spark.sql.DataFrame] =
    Map(
      "history" -> (p => VersionedTable.history(spark, p)),
      "files" -> (p => VersionedTable.filesSummary(spark, p)),
      "refs" -> (p => VersionedTable.refsSummary(spark, p)),
      "partitions" -> { p =>
        val s = spark
        import s.implicits._
        VersionedTable.partitionSummary(s, p, None)
          .toDF("partition", "n_entries", "bytes")
      })

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) {
      // not a table — maybe a persisted view definition
      VTableViews.readDefinition(spark, viewFileOf(ident)) match {
        case Some(sql) => return new VTableViewTable(ident.toString, sql)
        case None =>
          // ...or a metadata-table suffix of a table one level up
          val ns = ident.namespace()
          if (ns.nonEmpty && metaTables.contains(ident.name())) {
            val parent = Identifier.of(ns.dropRight(1), ns.last)
            val pp = pathOf(parent)
            if (isTable(pp))
              return new VTableMetaTable(ident.toString,
                () => metaTables(ident.name())(pp))
          }
          throw new NoSuchTableException(ident)
      }
    }
    // a table that DECLARES a row-id column (the `key` property) gains
    // the SQL row-level statements — UPDATE / MERGE INTO / row-level
    // DELETE; without the declaration those statements stay refused at
    // analysis (there is no sound per-row identity to key them on)
    VersionedTable.tableProperties(spark, p).get("key") match {
      case Some(k) => new VTableV2TableWithRowOps(p, pruneCol, k)
      case None => new VTableV2Table(p, None, pruneCol)
    }
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    // a non-numeric version string resolves through the table's named
    // refs: VERSION AS OF 'release-2026q3' reads the tagged snapshot
    val v = version.toLongOption
      .orElse(VersionedTable.resolveRef(spark, p, version))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-vtable: VERSION AS OF takes a log version number or a " +
          s"tag name, and '$version' is neither (tags: " +
          VersionedTable.tableProperties(spark, p).keys
            .filter(_.startsWith("ref.")).map(_.stripPrefix("ref."))
            .mkString(", ") + ")"))
    if (!VersionedTable.versions(spark, p).contains(v))
      throw new NoSuchTableException(ident)
    new VTableV2Table(p, Some(v), pruneCol)
  }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val v = VersionedTable.versionAsOfTimestamp(spark, p, timestampMicros)
      .getOrElse(throw new NoSuchTableException(ident))
    new VTableV2Table(p, Some(v), pruneCol)
  }

  // PARTITIONED BY accepts identity columns AND the derived transforms
  // days(ts) / months(ts) / truncate(n, col) / bucket(n, col) — the
  // Iceberg hidden-partitioning set: each commit computes the
  // partition value inside the routed write, the manifest lists the
  // leaf dirs, and predicates on the BASE column prune at the manifest
  // level (see graft.ops.PartFields). The per-transform source-type
  // gate is PartFields.validate — the same gate the API createIfAbsent
  // path runs, so the two creation paths cannot diverge.
  private def partitionFieldsFrom(schema: StructType,
      partitions: Array[Transform]): Seq[graft.ops.PartField] = {
    import graft.ops._
    def colOf(t: Transform): String = {
      require(t.references.length == 1 &&
          t.references.head.fieldNames.length == 1,
        s"graft-vtable: partition transform '$t' must reference exactly " +
          "one top-level column")
      t.references.head.fieldNames.head
    }
    // the transform's int argument (bucket count / truncate width),
    // whichever side of the column it was written on
    def numOf(t: Transform): Int = {
      val nums = t.arguments.toSeq.collect {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value match {
            case i: java.lang.Integer => i.intValue
            case l2: java.lang.Long => l2.intValue
            case other => throw new IllegalArgumentException(
              s"graft-vtable: partition transform '$t' takes an integer " +
                s"argument, got '$other'")
          }
      }
      require(nums.length == 1,
        s"graft-vtable: partition transform '$t' takes exactly one " +
          "integer argument")
      nums.head
    }
    val fields = partitions.toSeq.map { t =>
      t.name.toLowerCase match {
        case "identity" => PartIdentity(colOf(t))
        case "hours" => PartHours(colOf(t))
        case "days" => PartDays(colOf(t))
        case "months" => PartMonths(colOf(t))
        case "years" => PartYears(colOf(t))
        case "truncate" => PartTruncate(numOf(t), colOf(t))
        case "bucket" => PartBucket(numOf(t), colOf(t))
        case other => throw new IllegalArgumentException(
          s"graft-vtable: unsupported partition transform '$other' — " +
            "supported: identity columns, hours(ts), days(ts), " +
            "months(ts), years(ts), truncate(n, col), bucket(n, col); " +
            "use statsCol data skipping / OPTIMIZE clustering for " +
            "other layouts")
      }
    }
    PartFields.validate(fields, schema)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    require(!hfs(new Path(viewFileOf(ident)))
        .exists(new Path(viewFileOf(ident))),
      s"graft-vtable: a VIEW named $ident exists — drop_view it first")
    val partFields = partitionFieldsFrom(schema, partitions)
    val up = userProps(properties)
    require(!up.contains("partition"),
      "graft-vtable: declare partitioning with PARTITIONED BY, not the " +
        "'partition' table property")
    val p = pathOf(ident)
    // a table exists exactly when it has a commit: version 1 is an empty
    // generation carrying the declared schema (what CTAS then appends to).
    // repartition(1) forces one write task, so the 0-row generation still
    // lands one footer-bearing parquet file the readers can infer from.
    // createIfAbsent publishes ONLY at v1, so two racing CREATEs cannot
    // both succeed — the loser gets TableAlreadyExists, never a clobber.
    val created = VersionedTable.createIfAbsent(spark, p,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .repartition(1),
      up ++ (if (partFields.nonEmpty)
        Map("partition" -> partFields.map(_.spec).mkString(","))
      else Map.empty))
    if (!created) throw new TableAlreadyExistsException(ident)
    new VTableV2Table(p, None, pruneCol)
  }

  // TBLPROPERTIES minus the entries Spark itself injects into the create
  // call — those describe the catalog plumbing, not the user's table
  private def userProps(properties: util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL)
    properties.asScala.toMap
      .filter { case (k, _) =>
        !reserved.contains(k) && !k.startsWith(TableCatalog.OPTION_PREFIX)
      }
  }

  // ALTER TABLE … SET/UNSET TBLPROPERTIES — a metadata-only commit (one
  // manifest publish, no data movement) — ALTER TABLE … ADD COLUMNS —
  // a widened-schema evolution commit (an empty generation carrying the
  // new columns; old rows read NULL, old snapshots stay narrow) — and
  // ALTER TABLE … RENAME COLUMN — a metadata-only name-mapping commit
  // (the physical name stays frozen in the files; reads alias). DROP
  // and retype stay refused: each would rewrite or reinterpret
  // committed data.
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val (props, rest) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    val (adds, rest2) = rest.partition(_.isInstanceOf[TableChange.AddColumn])
    val (renames, rest3) = rest2.partition(_.isInstanceOf[TableChange.RenameColumn])
    val (drops, rest4) = rest3.partition(_.isInstanceOf[TableChange.DeleteColumn])
    val (retypes, other) =
      rest4.partition(_.isInstanceOf[TableChange.UpdateColumnType])
    if (other.nonEmpty) throw new UnsupportedOperationException(
      "graft-vtable: only SET/UNSET TBLPROPERTIES, ADD COLUMNS, " +
        "RENAME COLUMN, DROP COLUMN and ALTER COLUMN TYPE (lossless " +
        "widening) are supported")
    retypes.collect { case u: TableChange.UpdateColumnType =>
      require(u.fieldNames().length == 1,
        "graft-vtable: ALTER COLUMN TYPE supports top-level columns " +
          s"only, got ${u.fieldNames().mkString(".")}")
      VersionedTable.widenColumnType(spark, p, u.fieldNames()(0),
        u.newDataType())
    }
    renames.collect { case r: TableChange.RenameColumn =>
      require(r.fieldNames().length == 1,
        "graft-vtable: RENAME COLUMN supports top-level columns only, " +
          s"got ${r.fieldNames().mkString(".")}")
      VersionedTable.renameColumn(spark, p, r.fieldNames()(0), r.newName())
    }
    drops.collect { case d: TableChange.DeleteColumn =>
      require(d.fieldNames().length == 1,
        "graft-vtable: DROP COLUMN supports top-level columns only, " +
          s"got ${d.fieldNames().mkString(".")}")
      VersionedTable.dropColumn(spark, p, d.fieldNames()(0))
    }
    val newCols = adds.collect { case c: TableChange.AddColumn =>
      require(c.fieldNames().length == 1,
        "graft-vtable: ADD COLUMNS supports top-level columns only, got " +
          c.fieldNames().mkString("."))
      require(c.position() == null,
        "graft-vtable: ADD COLUMNS appends at the end — FIRST/AFTER is " +
          "not supported (generation alignment is by name)")
      require(c.isNullable,
        "graft-vtable: new columns must be nullable — existing rows have " +
          "no value for them")
      (StructField(c.fieldNames()(0), c.dataType()),
        // DEFAULT becomes an existence default: pre-ALTER rows read it,
        // post-ALTER rows read what was written (SQL-standard; the
        // constant-expression validation lives in addColumns)
        Option(c.defaultValue()).map(d => c.fieldNames()(0) -> d.getSql))
    }
    if (newCols.nonEmpty) VersionedTable.addColumns(spark, p,
      newCols.map(_._1), newCols.flatMap(_._2).toMap)
    val set = props.collect { case c: TableChange.SetProperty =>
      c.property() -> c.value() }.toMap
    val unset = props.collect { case c: TableChange.RemoveProperty =>
      c.property() }
    if (set.nonEmpty || unset.nonEmpty)
      VersionedTable.setProperties(spark, p, set, unset)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    hfs(p).exists(p) && hfs(p).delete(p, true)
  }

  // SQL `CALL <cat>.system.<proc>(…)` — the maintenance procedures
  // (compact / optimize / restore / vacuum / history), resolved against
  // the fixed `system` namespace like the other lakehouse catalogs
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known = ident.namespace().sameElements(Array("system"))
    (if (known) VTableProcedures.load(ident.name(), root) else None)
      .getOrElse(throw new NoSuchElementException(
        s"graft-vtable: no procedure $ident — known: " +
          VTableProcedures.names.map("system." + _).mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      VTableProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(pathOf(oldIdent))
    val to = new Path(pathOf(newIdent))
    val fs = hfs(from)
    if (!isTable(from.toString)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to),
      s"graft-vtable: rename $from -> $to failed")
  }
}

/** One snapshot (latest or pinned version) as a DSv2 table. */
class VTableV2Table(path: String, version: Option[Long],
    pruneCol: Option[String]) extends Table with SupportsRead
    with SupportsWrite with SupportsDelete with TruncatableTable {

  // exposed for [[VTableBroadcastHints]]' pre-pushdown size estimate
  private[sources] def tablePath: String = path
  private[sources] def tableVersion: Option[Long] = version

  override def name(): String =
    path + version.map(v => s"@v$v").getOrElse("")

  override lazy val schema: StructType =
    VersionedTable.readAt(SparkSession.active, path, version).schema

  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    VersionedTable.tableProperties(SparkSession.active, path, version).asJava
  }

  // DESCRIBE TABLE's "# Partitioning" section — the declared partition
  // transforms, from the manifest-carried `partition` property
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import graft.ops._
    VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(SparkSession.active, path, version))
      .map {
        case PartIdentity(c) => Expressions.identity(c)
        case PartHours(c) => Expressions.hours(c)
        case PartDays(c) => Expressions.days(c)
        case PartMonths(c) => Expressions.months(c)
        case PartYears(c) => Expressions.years(c)
        case PartBucket(n, c) => Expressions.bucket(n, c)
        case PartTruncate(w, c) => Expressions.apply("truncate",
          Expressions.literal(w), Expressions.column(c))
      }.toArray
  }

  override def capabilities(): util.Set[TableCapability] =
    // BATCH_WRITE + OVERWRITE_DYNAMIC advertise the pure-V2 dynamic
    // INSERT OVERWRITE path (TableCapabilityCheck requires both);
    // V1_BATCH_WRITE keeps plain INSERT/OVERWRITE on the V1 bridge —
    // Spark routes by the Write instance the builder returns
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val props = VersionedTable.tableProperties(SparkSession.active, path,
      version)
    new VTableScanBuilder(path, version,
      VTableScans.existingPruneCols(pruneCol, schema.fieldNames.toSeq),
      schema,
      VersionedTable.allPartitionColsOf(props).toSet,
      Some(VTableAggGuard.of(SparkSession.active, path, version, props)),
      VersionedTable.partitionFieldsOf(props)
        .collect { case graft.ops.PartIdentity(c) => c }.toSet)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      "graft-vtable: cannot write to a VERSION/TIMESTAMP AS OF snapshot — " +
        "writes commit to the table tip")
    // record [min,max] stats for the catalog's pruneCol list on every
    // SQL INSERT, so data skipping stays live for SQL-loaded generations
    new VTableWriteBuilder(path,
      VTableScans.pruneColsOf(pruneCol).filter(schema.fieldNames.contains),
      info.schema())
  }

  // SQL `TRUNCATE TABLE t` → an overwrite commit with an empty generation
  // carrying the current schema: the rows are gone from the tip, but like
  // every commit it's one manifest publish and old snapshots still time
  // travel (reclaiming them is vacuum's job)
  override def truncateTable(): Boolean = {
    require(version.isEmpty,
      "graft-vtable: cannot truncate a VERSION/TIMESTAMP AS OF snapshot")
    val s = SparkSession.active
    VersionedTable.commit(s, path,
      VersionedTable.readAt(s, path).limit(0).repartition(1),
      overwrite = true)
    true
  }

  // SQL `DELETE FROM t WHERE …` → the copy-on-write deleteWhere commit:
  // only generations containing a match rewrite, old snapshots keep time
  // traveling, the commit is stamped #delete=true. Spark only offers the
  // delete when every predicate translated to a source Filter; anything
  // untranslatable (or a pinned-version table) is refused at analysis.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && filters.forall(VTableScans.predicateOf(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    // canDeleteWhere gated on full translatability, but never ASSUME the
    // arrays match: a dropped conjunct would WIDEN the delete (silent
    // over-delete), so an untranslatable filter here is a hard error
    val pred = filters.map(f => VTableScans.predicateOf(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-vtable: cannot translate $f for DELETE")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // a concurrency loss means a writer published mid-delete: re-run the
    // predicate against the new snapshot (the delete's intent is
    // state-independent); bounded retries keep a hot table from looping
    var attempt = 0
    while (VersionedTable.deleteWhere(SparkSession.active, path, pred).isEmpty) {
      attempt += 1
      if (attempt > 5) throw new java.io.IOException(
        s"graft-vtable: DELETE lost the publish race $attempt times at $path")
    }
  }
}

/** A snapshot whose table declared a row-id column (`key` property):
  * gains SQL UPDATE / MERGE INTO / arbitrary-predicate DELETE through
  * the delta-based row-level contract (see [[VTableRowOp]]). Kept as a
  * subclass so KEYLESS tables never expose the interface — Spark's
  * analysis rewrites every DELETE through it when present, and without
  * a declared per-row identity the only sound behavior is the existing
  * one (metadata-translatable deletes, loud refusal otherwise).
  */
class VTableV2TableWithRowOps(path: String, pruneCol: Option[String],
    keyCol: String) extends VTableV2Table(path, None, pruneCol)
    with SupportsRowLevelOperations {

  // declaring `key` ASSERTS the column is a non-null unique row id —
  // Spark refuses nullable row-id attributes outright, so the declared
  // schema reflects the assertion. Uniqueness is enforced per statement
  // by the commit's cardinality guard; a NULL key would abort there too.
  override lazy val schema: StructType = {
    val base = VersionedTable.readAt(SparkSession.active, path).schema
    StructType(base.map(f =>
      if (f.name == keyCol) f.copy(nullable = false) else f))
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(schema.fieldNames.contains(keyCol),
      s"graft-vtable: table property key='$keyCol' names no column of " +
        s"${schema.fieldNames.mkString("(", ", ", ")")}")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new VTableRowOp(path,
        keyCol,
        VTableScans.existingPruneCols(pruneCol, schema.fieldNames.toSeq),
        schema,
        info.command())
    }
  }
}

/** SQL writes as commits, through the V1Write bridge (the write twin of
  * the V1Scan fallback): INSERT INTO → append commit, INSERT OVERWRITE
  * (Spark calls `truncate()`) → overwrite commit. Each statement is ONE
  * atomic manifest publish with the format's optimistic-concurrency
  * retry — concurrent SQL writers serialize exactly like API writers.
  */
class VTableWriteBuilder(path: String, statsCols: Seq[String] = Nil,
    writeSchema: StructType = StructType(Nil))
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var overwrite = false
  private var dynamic = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  // INSERT OVERWRITE under spark.sql.sources.partitionOverwriteMode=
  // dynamic on a partitioned table: Spark requests this instead of
  // truncate — replace only the partitions present in the query result
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    if (dynamic)
      // dynamic overwrite has no V1 fallback exec: ship the query result
      // through the generic staged V2 write, commit via the engine's
      // atomic partition-replacing primitive
      new org.apache.spark.sql.connector.write.Write {
        override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
          new VTableStagedBatchWrite(SparkSession.active, path,
            writeSchema, (s, staged) =>
              if (VersionedTable.overwritePartitions(s, path, staged,
                  statsCols = statsCols).isEmpty)
                throw new java.io.IOException(
                  s"graft-vtable: dynamic INSERT OVERWRITE lost the " +
                    s"publish race at $path — re-run the statement"))
      }
    else new V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
              legacyOverwrite: Boolean): Unit = {
            VersionedTable.commit(data.sparkSession, path, data,
              overwrite = overwrite || legacyOverwrite,
              statsCols = statsCols)
            ()
          }
        }
    }
}

/** Plan-time state the metadata-aggregate pushdown decision needs, from
  * the ONE manifest read `newScanBuilder` already pays: outstanding
  * deletion vectors block every aggregate (footer counts include
  * logically-deleted rows); rename/widen/default metadata block MIN/
  * MAX/COUNT(col) on the touched columns only (those reads adapt values
  * per generation in ways footers cannot see). COUNT(*) survives all
  * column-level metadata — row counts are invariant under rename, cast
  * and defaulting.
  */
/** `pinnedVersion` is LAZY (a memoized thunk): it costs a manifest
  * read, and the overwhelming majority of scans never see an aggregate
  * offer — only `pushAggregation` should ever pay it. It resolves the
  * snapshot version ONCE (the given version, or the tip AT PLAN TIME)
  * and checks the DV gate against that pinned version, returning the
  * version the physical scan must serve — so a merge-on-read DELETE
  * committed between `pushAggregation` and `rows()` can never make the
  * footer job silently count logically-deleted rows (the plan answers
  * for the snapshot it was planned against, the snapshot-isolation
  * contract every other read path already honors). None = refuse
  * pushdown (no snapshot, or outstanding DVs at the pinned version).
  */
case class VTableAggGuard(pinnedVersion: () => Option[Long],
    blockedCols: Set[String])

object VTableAggGuard {
  def of(spark: SparkSession, path: String, version: Option[Long],
      props: Map[String, String]): VTableAggGuard = {
    val blocked = props.keys.collect {
      case k if k.startsWith("default.") => Seq(k.stripPrefix("default."))
      case k if k.startsWith("widen.") => Seq(k.stripPrefix("widen."))
      // colmap blocks the LOGICAL name (what a query references) and the
      // physical one (paranoia — it should not be referenceable)
      case k if k.startsWith("colmap.") =>
        Seq(k.stripPrefix("colmap."), props(k))
    }.flatten.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    lazy val pinned: Option[Long] = {
      val vs = VersionedTable.versions(spark, path)
      if (vs.isEmpty) None
      else {
        val ver = version.getOrElse(vs.last)
        if (VersionedTable.hasDeletionVectors(spark, path, Some(ver))) None
        else Some(ver)
      }
    }
    VTableAggGuard(() => pinned, blocked)
  }
}

/** DSv2 pushdown surface: Spark prunes columns and pushes filters here;
  * both feed [[VTableScans.frame]] through the V1 fallback scan. Global
  * COUNT(*)/COUNT(col)/MIN/MAX additionally push into a METADATA-ONLY
  * scan ([[VTableAggScan]] over [[graft.ops.FooterStats]]) when the
  * snapshot state allows exact answers — Spark only offers an
  * aggregation here when every filter was fully absorbed, and this
  * builder absorbs none (all filters come back residual), so pushed
  * aggregates are always over the whole snapshot.
  */
class VTableScanBuilder(path: String, version: Option[Long],
    pruneCol: Option[String], fullSchema: StructType,
    partSources: Set[String] = Set.empty,
    aggGuard: Option[VTableAggGuard] = None,
    identityParts: Set[String] = Set.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
  import graft.ops.FooterStats

  private var required: StructType = fullSchema
  private var filters: Array[Filter] = Array.empty
  private var absorbed: Array[Filter] = Array.empty
  private var pushedAgg: Option[(Long, Seq[(String, DataType)],
    Seq[FooterStats.AggSpec], StructType, Option[Seq[String]],
    Option[org.apache.spark.sql.Column])] = None

  // a schema with case-colliding field names (legal under
  // spark.sql.caseSensitive=true) makes footer-column resolution
  // ambiguous — MIN/MAX/COUNT could silently serve the WRONG column's
  // stats. Refuse aggregate pushdown outright for such tables.
  private lazy val caseCollides: Boolean =
    fullSchema.fieldNames
      .groupBy(_.toLowerCase(java.util.Locale.ROOT)).exists(_._2.length > 1)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Most filters come back as residual (Spark re-evaluates them —
  // generation pruning may only SKIP data the predicate cannot touch).
  // PARTITION-EXACT filters — a supported shape over one IDENTITY
  // partition column — are ABSORBED instead: the V1 scan already
  // re-applies every pushed filter row-exactly above the pruned read
  // ([[VTableScans.frame]]), so dropping Spark's redundant Filter is
  // safe, and it is what lets Spark OFFER aggregate pushdown on
  // filtered queries at all (aggregates are only offered when no
  // residual filter remains) — `COUNT(*) WHERE <partition predicate>`
  // then serves from footers of exactly the kept entries. The gate here
  // is CHEAP (schema + declared-spec facts only, no manifest read); the
  // manifest-level proof that tokens decide the filter exactly happens
  // at `plan(agg)` time, and an unprovable history refuses the
  // aggregate while the absorbed filter still applies row-exactly.
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    absorbed = fs.filter(partitionExact)
    fs.filterNot(absorbed.contains)
  }

  // the shapes [[FooterStats.evalTokenFilter]] decides on tokens AND
  // [[VTableScans.toPredicate]] re-applies row-exactly; null comparison
  // literals stand down (three-valued logic never keeps them, but
  // absorbing would have to prove that — not worth the cases)
  private def partitionExact(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    val colRef = f match {
      case EqualTo(a, v) if v != null => Some(a)
      case GreaterThan(a, v) if v != null => Some(a)
      case GreaterThanOrEqual(a, v) if v != null => Some(a)
      case LessThan(a, v) if v != null => Some(a)
      case LessThanOrEqual(a, v) if v != null => Some(a)
      case In(a, vs) if vs != null => Some(a)
      case IsNull(a) => Some(a)
      case IsNotNull(a) => Some(a)
      case _ => None
    }
    colRef.flatMap(resolveName).exists { n =>
      aggGuard.isDefined && colOk(n) && !caseCollides &&
        identityParts.exists(_.equalsIgnoreCase(n)) &&
        groupableTypes.contains(fullSchema(n).dataType)
    }
  }

  // EXPLAIN honesty: report as pushed the absorbed partition-exact
  // filters plus the ones that can drive generation pruning — stats
  // windows on pruneCol, and predicates on a partition transform's
  // BASE column (hidden partitioning)
  override def pushedFilters(): Array[Filter] =
    { val cols = VTableScans.pruneColsOf(pruneCol).toSet ++ partSources
      (absorbed ++ (if (cols.isEmpty) Array.empty[Filter]
       else filters.filter(f => !absorbed.contains(f) &&
         f.references.exists(cols.contains)))).distinct }

  // a single top-level column reference, if that is what the expr is.
  // Resolution honors the SESSION's case-sensitivity setting: under
  // spark.sql.caseSensitive=true the reference must match exactly
  // (analysis already resolved it that way), otherwise the usual
  // case-insensitive match applies (ambiguity is impossible here — the
  // caseCollides gate already refused colliding schemas).
  private def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case n: NamedReference if n.fieldNames.length == 1 =>
        resolveName(n.fieldNames()(0))
      case _ => None
    }

  // a filter's attribute string → the schema's canonical field name
  // (None for nested references — "a.b" matches no top-level field)
  private def resolveName(ref: String): Option[String] = {
    val names = fullSchema.fields.map(_.name)
    if (org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)
      names.find(_ == ref)
    else names.find(_.equalsIgnoreCase(ref))
  }

  private def colOk(name: String): Boolean =
    aggGuard.exists(g => !g.blockedCols.contains(
      name.toLowerCase(java.util.Locale.ROOT)))

  // one aggregate call → (footer spec, result field), or None = refuse
  private def specOf(f: AggregateFunc): Option[(FooterStats.AggSpec, StructField)] =
    f match {
      case _: CountStar =>
        Some((FooterStats.RowCount,
          StructField("count_star", LongType, nullable = false)))
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).filter(colOk).map(n =>
          (FooterStats.CountOf(n),
            StructField(s"count_$n", LongType, nullable = false)))
      case m: Min =>
        fieldOf(m.column).filter(colOk)
          .filter(n => FooterStats.servableType(fullSchema(n).dataType))
          .map(n => (FooterStats.MinOf(n, fullSchema(n).dataType),
            StructField(s"min_$n", fullSchema(n).dataType)))
      case m: Max =>
        fieldOf(m.column).filter(colOk)
          .filter(n => FooterStats.servableType(fullSchema(n).dataType))
          .map(n => (FooterStats.MaxOf(n, fullSchema(n).dataType),
            StructField(s"max_$n", fullSchema(n).dataType)))
      case _ => None
    }

  // grouping is pushable only over IDENTITY partition columns whose
  // values the leaf-dir tokens spell exactly (the token IS the value for
  // identity; derived transforms would group by the TRANSFORMED value,
  // which is not what GROUP BY <source> means)
  private val groupableTypes: Set[DataType] = Set(ByteType, ShortType,
    IntegerType, LongType, StringType, DateType)

  private def groupColOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[(String, DataType)] =
    fieldOf(e).filter(colOk)
      .filter(n => identityParts.exists(_.equalsIgnoreCase(n)))
      .filter(n => groupableTypes.contains(fullSchema(n).dataType))
      .map(n => (n, fullSchema(n).dataType))

  private def plan(agg: Aggregation)
      : Option[(Long, Seq[(String, DataType)], Seq[FooterStats.AggSpec],
        StructType, Option[Seq[String]], Option[org.apache.spark.sql.Column])] =
    // only ABSORBED filters may remain below a pushed aggregate: Spark
    // offers aggregates only when no residual filter exists, so any
    // other filter here would mean the contract was violated — refuse
    if (aggGuard.isEmpty || filters.exists(f => !absorbed.contains(f)) ||
        agg.aggregateExpressions.isEmpty || caseCollides) None
    else aggGuard.flatMap(_.pinnedVersion()).flatMap { pinned =>
      val groups = agg.groupByExpressions.toSeq.map(groupColOf)
      val specs = agg.aggregateExpressions.toSeq.map(specOf)
      if (groups.forall(_.isDefined) && specs.forall(_.isDefined)) {
        val g = groups.map(_.get)
        // grouped pushdown additionally requires the manifest TOKENS to
        // prove the grouping AT PLAN TIME (pre-partitioning eras, hive
        // null-token ambiguity, unparseable tokens refuse here) — so the
        // scan's rows()-time exact fallback can only ever be triggered
        // by unusable footer stats, whose group count is bounded by the
        // manifest's leaf-dir count, never by data cardinality
        if (g.nonEmpty && !FooterStats.groupingProvable(
            SparkSession.active, path, pinned, g)) None
        else keptByAbsorbed(pinned).map { case (kept, where) =>
          val resolved = specs.map(_.get)
          // Spark's pushed-aggregate contract: output = group columns in
          // groupBy order, then aggregate values in aggregate order
          (pinned, g, resolved.map(_._1), StructType(
            g.map { case (n, dt) => StructField(n, dt) } ++
              resolved.map(_._2)), kept, where)
        }
      } else None
    }

  // the absorbed filters' manifest-level proof at the PINNED version:
  // Some((kept entries, row-exact re-check Column)) when the tokens
  // decide every absorbed filter exactly ([[FooterStats
  // .provableKeptEntries]]); None (refuse the aggregate, keep the
  // row-exact data path) when the history can't prove it — a
  // pre-partitioning era, a string null token, an unparseable token
  private def keptByAbsorbed(pinned: Long)
      : Option[(Option[Seq[String]], Option[org.apache.spark.sql.Column])] =
    if (absorbed.isEmpty) Some((None, None))
    else {
      val preds = absorbed.toSeq.map { f =>
        val n = resolveName(f.references.head).get
        (n, fullSchema(n).dataType, f)
      }
      FooterStats.provableKeptEntries(
          SparkSession.active, path, pinned, preds).map { kept =>
        val where = absorbed.toSeq.flatMap(VTableScans.toPredicate)
          .reduceOption(_ && _)
        (Some(kept), where)
      }
    }

  // complete-or-nothing: the footer engine computes FINAL values, so a
  // partial-pushdown contract (Spark re-aggregating partials) is never
  // needed — refuse anything not fully servable and Spark keeps its own
  // aggregate over the ordinary scan
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    plan(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    plan(agg) match {
      case some @ Some(_) => pushedAgg = some; true
      case None => false
    }

  override def build(): Scan = pushedAgg match {
    case Some((pinned, groupCols, specs, aggSchema, kept, where)) =>
      // the PINNED version, never the raw `version` option: for tip
      // tables (version=None) the scan must serve the snapshot the DV
      // gate validated, not whatever the tip is by execution time
      new VTableAggScan(path, Some(pinned), groupCols, specs, aggSchema,
        kept, where)
    case None =>
      new VTableV1ScanImpl(path, version, pruneCol, required, filters)
  }
}

/** Completed metadata aggregate: locally-produced rows, computed by
  * [[graft.ops.FooterStats]] from parquet footers (a distributed
  * metadata job) — no data page is ever read. Global aggregates are one
  * row; `GROUP BY <identity partition cols>` returns one row per
  * partition tuple, grouped by the leaf-dir tokens. When the tokens
  * cannot PROVE the grouping (a pre-partitioning era, the hive
  * null-token's ""-vs-null ambiguity on strings), the scan runs the
  * exact data-scan group-by itself — the pushed plan never returns a
  * wrong row, it just loses the metadata-only speedup. Plans as a local
  * scan; EXPLAIN shows this description instead of scan + aggregate.
  *
  * EAGER-EXECUTION property (inherent to `LocalScan`): Spark calls
  * `rows()` while CONSTRUCTING the physical plan, so even `explain()`
  * on a pushed aggregate runs the footer job. That is the design
  * trade of serving the result as a `LocalTableScan` (no partitions to
  * schedule for a one-row answer); the work is metadata-sized — a
  * distributed footer job over O(files), plus, in the grouped exact
  * fallback, a driver-side collect BOUNDED by the manifest's leaf-dir
  * count (the planner's `groupingProvable` gate refuses pushdown
  * whenever the group cardinality could exceed the manifest's tokens,
  * so the fallback can never collect data-sized group sets).
  */
class VTableAggScan(path: String, version: Option[Long],
    groupCols: Seq[(String, DataType)],
    specs: Seq[graft.ops.FooterStats.AggSpec], aggSchema: StructType,
    kept: Option[Seq[String]] = None,
    where: Option[org.apache.spark.sql.Column] = None)
    extends LocalScan {

  import graft.ops.FooterStats

  override def readSchema(): StructType = aggSchema

  override def description(): String =
    s"graft-vtable metadata-agg $path" +
      version.map(v => s" @v$v").getOrElse("") +
      groupCols.map(_._1).mkString(" groupBy(", ",", ")") +
      specs.mkString(" [", ", ", "]") +
      kept.map(k => s" filteredEntries=${k.size}").getOrElse("")

  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val spark = SparkSession.active
    val arrays: Seq[Array[Any]] =
      if (groupCols.isEmpty)
        Seq(FooterStats.aggregate(spark, path, version, specs, kept, where))
      else FooterStats.aggregateByPartition(spark, path, version,
        groupCols, specs, kept).getOrElse(exactGroupBy(spark))
    arrays.map(a =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(a)
        : org.apache.spark.sql.catalyst.InternalRow).toArray
  }

  // the exact fallback: the same grouped aggregate over the real
  // snapshot scan, converted to internal rows — correctness over speed
  private def exactGroupBy(spark: SparkSession): Seq[Array[Any]] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val aggs = specs.map {
      case FooterStats.RowCount => count(lit(1))
      case FooterStats.CountOf(c) => count(col(c))
      case FooterStats.MinOf(c, _) => min(col(c))
      case FooterStats.MaxOf(c, _) => max(col(c))
    }
    // the absorbed partition predicate re-applies row-exactly — Spark's
    // own Filter was dropped when this pushdown was accepted
    val df = where.foldLeft(VersionedTable.readAt(spark, path, version))(
        _.where(_))
      .groupBy(groupCols.map(g => col(g._1)): _*)
      .agg(aggs.head, aggs.drop(1): _*)
    val convs = aggSchema.fields.map(f =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(f.dataType))
    df.collect().map(r =>
      Array.tabulate[Any](convs.length)(i => convs(i)(r.get(i)))).toSeq
  }
}

/** The batch scan: delegates row production to the V1 relation (the
  * engine's own parquet plans), the documented V1Scan bridge. Reports
  * PLANNER STATISTICS — the on-disk bytes of exactly the generations
  * that survive this scan's own pruning decision
  * ([[VersionedTable.scanSizeBytes]]) — so Catalyst sizes a
  * versioned-table scan from its manifest instead of assuming the
  * worst: small dims (and pruned slices) become broadcast-join
  * candidates.
  */
class VTableV1ScanImpl(path: String, version: Option[Long],
    pruneCol: Option[String], required: StructType, filters: Array[Filter])
    extends V1Scan with SupportsReportStatistics {

  // exposed for [[VTableBroadcastHints]]' NDV-bounded aggregate sizing
  private[sources] def tablePath: String = path
  private[sources] def tableVersion: Option[Long] = version

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-vtable $path${version.map(v => s" @v$v").getOrElse("")}"

  // memoized per scan instance: Catalyst computes logical stats several
  // times while planning one query (join reordering, strategy probes),
  // and the manifest/listing work is identical each time
  private lazy val measuredSize: java.util.OptionalLong =
    // never let an estimate break a query (racing vacuum/drop): report
    // "unknown" instead and Catalyst keeps its conservative default
    try {
      val spark = SparkSession.active
      val (windows, partPreds) = VTableScans.pruneState(spark, path,
        version, pruneCol, filters.toIndexedSeq)
      val (bytes, _, _) = VersionedTable.scanSizeBytes(spark, path,
        version, windows, partPreds)
      java.util.OptionalLong.of(bytes)
    } catch {
      case scala.util.control.NonFatal(_) => java.util.OptionalLong.empty()
    }

  // the numRows half (r17): exact kept-generation row counts from the
  // extended stats headers, when every kept generation carries one.
  // Outstanding `dv:` deletion vectors make the recorded PHYSICAL
  // counts over-report what the scan returns (logically deleted rows
  // are subtracted at read time), so a merge-on-read snapshot declines
  // — the same guard the metadata-aggregate path applies.
  private lazy val measuredRows: java.util.OptionalLong =
    try {
      val spark = SparkSession.active
      if (VersionedTable.hasDeletionVectors(spark, path, version))
        java.util.OptionalLong.empty()
      else {
        val (windows, partPreds) = VTableScans.pruneState(spark, path,
          version, pruneCol, filters.toIndexedSeq)
        VersionedTable.scanRowCount(spark, path, version, windows, partPreds)
          .map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      }
    } catch {
      case scala.util.control.NonFatal(_) => java.util.OptionalLong.empty()
    }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = measuredSize
    override def numRows(): java.util.OptionalLong = measuredRows
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new VTableCatalogRelation(context, path, version, pruneCol,
      required, filters).asInstanceOf[T]
}

class VTableCatalogRelation(ctx: SQLContext, path: String,
    version: Option[Long], pruneCol: Option[String],
    projected: StructType, filters: Array[Filter])
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx
  override val schema: StructType = projected

  override def buildScan(): RDD[Row] =
    VTableScans.frame(ctx.sparkSession, path, version, pruneCol,
      projected.fieldNames.toIndexedSeq, filters.toIndexedSeq).rdd
}

/** CATALOG VIEW persistence + resolution guard. A view is its SQL text,
  * stored verbatim as `<root>/<ns>/<name>.view` (inspectable with cat;
  * published by tmp-write + atomic rename). The schema is derived at
  * resolution time, never stored — a view can never serve a stale
  * schema after its underlying table evolves. Views compose (a view
  * over a view resolves through the catalog again); the recursion
  * guard turns a definition cycle into a loud analysis error instead
  * of a stack overflow.
  */
object VTableViews {

  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  private[sources] def guarded[T](what: String)(body: => T): T = {
    require(depth.get() < 12,
      s"graft-vtable: view resolution depth exceeded at $what — " +
        "view definitions form a cycle")
    depth.set(depth.get() + 1)
    try body finally depth.set(depth.get() - 1)
  }

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def readDefinition(spark: SparkSession, file: String): Option[String] = {
    val hfs = fs(spark, file)
    val p = new Path(file)
    if (!hfs.exists(p)) None
    else {
      val in = hfs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Persist (or with `replace` re-persist) a view definition. The SQL
    * is ANALYZED first, so a typo or a missing column refuses at create
    * time, not at some later read.
    */
  def create(spark: SparkSession, file: String, sql: String,
      replace: Boolean): Unit = {
    guarded(file)(spark.sql(sql).schema) // must analyze
    val hfs = fs(spark, file)
    val p = new Path(file)
    require(replace || !hfs.exists(p),
      s"graft-vtable: view $file already exists — pass replace => true")
    hfs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent,
      s".tmp-view-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = hfs.create(tmp, false)
    try out.write(sql.getBytes("UTF-8")) finally out.close()
    // ATOMIC either way, through FileContext's rename: NONE for a fresh
    // view refuses an existing target (a racing duplicate create loses
    // loudly, never clobbers; `FileSystem.rename` on the local filesystem
    // would replace it), OVERWRITE for replace (a delete-then-rename pair
    // would leave a window where the view doesn't resolve at all, and a
    // crash inside it would lose the old definition without landing the
    // new)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      p.toUri, spark.sparkContext.hadoopConfiguration)
    import org.apache.hadoop.fs.Options.Rename
    try fc.rename(tmp, p, if (replace) Rename.OVERWRITE else Rename.NONE)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        hfs.delete(tmp, false)
        throw new IllegalStateException(
          s"graft-vtable: view $file lost a creation race — re-run or " +
            "pass replace => true", e)
      case e: java.io.IOException =>
        hfs.delete(tmp, false)
        throw new IllegalStateException(
          s"graft-vtable: view publish failed at $file — re-run", e)
    }
  }

  def drop(spark: SparkSession, file: String): Boolean = {
    val hfs = fs(spark, file)
    hfs.exists(new Path(file)) && hfs.delete(new Path(file), false)
  }
}

/** A catalog view resolved as a read-only DSv2 table: the stored SQL is
  * analyzed for the schema and executed for the scan (through the
  * documented V1Scan bridge — the engine's own plans serve the rows, so
  * pruning/pushdown inside the view body still applies; the view
  * BOUNDARY itself doesn't push, which is the standard v1-view posture).
  */
class VTableViewTable(viewName: String, sqlText: String)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  override def name(): String = s"view $viewName"

  override lazy val schema: StructType =
    VTableViews.guarded(viewName)(spark.sql(sqlText).schema)

  override def properties(): util.Map[String, String] =
    util.Map.of("view.sql", sqlText)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema
        override def description(): String = s"graft-vtable view $viewName"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override val schema: StructType = VTableViewTable.this.schema
            override def buildScan(): RDD[Row] =
              VTableViews.guarded(viewName)(
                context.sparkSession.sql(sqlText).rdd)
          }.asInstanceOf[T]
      }
    }
}

/** A virtual METADATA TABLE (`<t>.history` / `.files` / `.refs` /
  * `.partitions`): read-only, schema and rows computed fresh at scan
  * from the table's manifests — bytes-sized operational ledgers, never
  * data, so serving them through the V1 bridge costs one driver-side
  * computation per query.
  */
class VTableMetaTable(metaName: String,
    frame: () => org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {

  override def name(): String = s"metadata $metaName"

  override lazy val schema: StructType = frame().schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema
        override def description(): String =
          s"graft-vtable metadata $metaName"
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override val schema: StructType = VTableMetaTable.this.schema
            override def buildScan(): RDD[Row] = frame().rdd
          }.asInstanceOf[T]
      }
    }
}
