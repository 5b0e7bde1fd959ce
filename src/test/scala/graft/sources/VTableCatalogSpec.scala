package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.ops.VersionedTable
import org.apache.spark.sql.functions.col

class VTableCatalogSpec extends SparkSpec {

  private def df(ids: Int*) = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def ids(sql: String): Set[Int] =
    spark.sql(sql).collect().map(_.getInt(0)).toSet

  // one catalog per suite run: the CatalogManager caches instances by
  // name, so the root must be set BEFORE first reference
  private lazy val root: String = {
    val r = Files.createTempDirectory("vtcat").toString
    spark.conf.set("spark.sql.catalog.vtcat",
      classOf[VTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.vtcat.root", r)
    spark.conf.set("spark.sql.catalog.vtcat.pruneCol", "id")
    r
  }

  test("SQL reads resolve through the catalog, including VERSION/TIMESTAMP AS OF") {
    VersionedTable.commit(spark, s"$root/main/t", df(1, 2), overwrite = true)
    val t1 = VersionedTable.commitTimestamp(spark, s"$root/main/t", 1L)
    VersionedTable.commit(spark, s"$root/main/t", df(3), overwrite = false)
    val t2 = VersionedTable.commitTimestamp(spark, s"$root/main/t", 2L)
    assert(ids("SELECT id FROM vtcat.main.t") == Set(1, 2, 3))
    assert(ids("SELECT id FROM vtcat.main.t VERSION AS OF 1") == Set(1, 2))
    // TIMESTAMP AS OF resolves through manifest publish times; a
    // timestamp at/after v1's publish but before v2's sees v1 only
    assert(t2 > t1, "publish times must be distinguishable for this spec")
    val at1 = java.time.Instant.ofEpochMilli(t1 / 1000).toString
    assert(ids(s"SELECT id FROM vtcat.main.t TIMESTAMP AS OF '$at1'")
      == Set(1, 2))
    // filters + projections work through the pushdown path (pruneCol=id)
    assert(ids("SELECT id FROM vtcat.main.t WHERE id >= 2 AND id <= 3")
      == Set(2, 3))
    assert(spark.sql("SELECT count(*) AS n FROM vtcat.main.t")
      .head().getLong(0) == 3L)
    // a version that was never committed is not a table state
    intercept[Exception](spark.sql("SELECT * FROM vtcat.main.t VERSION AS OF 9")
      .collect())
  }

  test("SHOW TABLES, DROP and RENAME are catalog operations") {
    VersionedTable.commit(spark, s"$root/ns/a", df(1), overwrite = true)
    VersionedTable.commit(spark, s"$root/ns/b", df(2), overwrite = false)
    // a directory without a commit log is NOT a table
    new java.io.File(s"$root/ns/junk").mkdirs()
    val listed = spark.sql("SHOW TABLES IN vtcat.ns")
      .collect().map(_.getString(1)).toSet
    assert(listed == Set("a", "b"))
    // the RENAME target resolves inside the same catalog
    spark.sql("ALTER TABLE vtcat.ns.a RENAME TO ns.c")
    assert(ids("SELECT id FROM vtcat.ns.c") == Set(1))
    spark.sql("DROP TABLE vtcat.ns.b")
    assert(spark.sql("SHOW TABLES IN vtcat.ns")
      .collect().map(_.getString(1)).toSet == Set("c"))
    // DROP COLUMN is supported (r16) but never on the LAST column
    intercept[Exception](
      spark.sql("ALTER TABLE vtcat.ns.c DROP COLUMN id"))
  }

  test("SQL writes land as commits: CTAS, INSERT INTO, INSERT OVERWRITE") {
    df(1, 2).createOrReplaceTempView("vtcat_src")
    spark.sql("CREATE TABLE vtcat.w.t AS SELECT id FROM vtcat_src")
    // CTAS = empty schema-bearing v1 + the data as an append commit v2
    assert(VersionedTable.versions(spark, s"$root/w/t") == Seq(1L, 2L))
    assert(ids("SELECT id FROM vtcat.w.t VERSION AS OF 1") == Set.empty[Int])
    assert(ids("SELECT id FROM vtcat.w.t") == Set(1, 2))
    spark.sql("INSERT INTO vtcat.w.t VALUES (3), (4)")
    assert(ids("SELECT id FROM vtcat.w.t") == Set(1, 2, 3, 4))
    spark.sql("INSERT OVERWRITE vtcat.w.t VALUES (9)")
    assert(ids("SELECT id FROM vtcat.w.t") == Set(9))
    // every statement was one commit; the replaced snapshot time-travels
    assert(VersionedTable.versions(spark, s"$root/w/t") == (1L to 4L))
    assert(ids("SELECT id FROM vtcat.w.t VERSION AS OF 3") == Set(1, 2, 3, 4))
    // a plain CREATE TABLE (schema, no data) is a readable empty table
    spark.sql("CREATE TABLE vtcat.w.fresh (id INT)")
    assert(ids("SELECT id FROM vtcat.w.fresh") == Set.empty[Int])
    intercept[Exception](spark.sql("CREATE TABLE vtcat.w.fresh (id INT)"))
  }

  test("PARTITIONED BY: inserts route into leaf dirs, predicates prune at the manifest") {
    require(root.nonEmpty) // touch the lazy catalog registration
    spark.sql("CREATE TABLE vtcat.pby.t (id INT, grp STRING) PARTITIONED BY (grp)")
    spark.sql("INSERT INTO vtcat.pby.t VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    spark.sql("INSERT INTO vtcat.pby.t VALUES (4, 'b'), (5, 'c'), (6, NULL)")
    val path = s"$root/pby/t"
    // insert routing: the manifest lists hive-style LEAF entries — the
    // v3 tip holds create's plain gen + {a,b} leaves + {b,c,NULL} leaves
    val tip = VersionedTable.versions(spark, path).last
    def entries = new String(Files.readAllBytes(
      java.nio.file.Paths.get(path, "_log", s"$tip.commit")), "UTF-8")
      .split("\n").filterNot(_.startsWith("#")).toSeq
    assert(entries.count(_.contains("__p_grp=")) == 5,
      s"expected 5 routed leaf entries in $entries")
    assert(entries.exists(_.endsWith("__p_grp=__HIVE_DEFAULT_PARTITION__")),
      "NULL partition values route to the hive default dir")
    // the real column stays IN the files: full rows read back, including
    // the NULL-partition row
    assert(spark.sql("SELECT id, grp FROM vtcat.pby.t").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSet ==
      Set(1 -> Some("a"), 2 -> Some("a"), 3 -> Some("b"), 4 -> Some("b"),
        5 -> Some("c"), 6 -> None))
    // prune equivalence: an equality predicate reads only that value's
    // leaves (+ always-scan plain gens) and returns exactly the filtered
    // rows; the audit uses the engine API with the same translated shape
    assert(ids("SELECT id FROM vtcat.pby.t WHERE grp = 'b'") == Set(3, 4))
    val (prunedDf, kept, total) = VersionedTable.readAtPruned(spark,
      path, None, Nil, Seq("grp" -> Set(Option("b")).contains))
    assert(total == 6 && kept == 3, // create's plain gen + one 'b' leaf per insert
      s"expected 3 of 6 entries kept, got $kept of $total")
    assert(prunedDf.filter(col("grp") === "b").count() == 2)
    // IS NULL keeps only the default-partition leaves (+ plain gens)
    val (_, keptN, _) = VersionedTable.readAtPruned(spark,
      path, None, Nil, Seq("grp" -> Set(Option.empty[String]).contains))
    assert(keptN == 2, s"NULL prune kept $keptN")
    // DESCRIBE surfaces the declared partitioning
    val desc = spark.sql("DESCRIBE TABLE vtcat.pby.t").collect()
      .map(_.getString(0))
    assert(desc.contains("# Partition Information"), desc.mkString("|"))
    // EMPTY-STRING partition values share the hive default leaf with
    // NULL (partitionBy conflates them on disk) — equality on '' must
    // KEEP that leaf, or the rows silently vanish from filtered reads
    spark.sql("INSERT INTO vtcat.pby.t VALUES (7, '')")
    assert(spark.sql("SELECT id FROM vtcat.pby.t WHERE grp = ''")
      .collect().map(_.getInt(0)).toSet == Set(7))
    assert(ids("SELECT id FROM vtcat.pby.t WHERE grp IS NULL") == Set(6))
    // bucket is a SUPPORTED derived transform (see PartFieldsSpec for
    // the full transform surface): the create lands and records the spec
    spark.sql(
      "CREATE TABLE vtcat.pby.b (id INT, v INT) PARTITIONED BY (bucket(4, id))")
    assert(VersionedTable.tableProperties(spark, s"$root/pby/b")("partition")
      == "bucket(4,id)")
    // hours(ts) is SUPPORTED since r17 (PartFieldsSpec pins the full
    // transform behavior); the SQL surface records the canonical spec
    spark.sql(
      "CREATE TABLE vtcat.pby.h (id INT, ts TIMESTAMP) PARTITIONED BY (hours(ts))")
    assert(VersionedTable.tableProperties(spark, s"$root/pby/h")("partition")
      == "hours(ts)")
    // refusals: continuous types, property spelling, post-hoc
    // repartitioning, transforms over typeless columns
    intercept[Exception](spark.sql(
      "CREATE TABLE vtcat.pby.h2 (id INT, d DATE) PARTITIONED BY (hours(d))"))
    intercept[Exception](spark.sql(
      "CREATE TABLE vtcat.pby.d (id INT, v DOUBLE) PARTITIONED BY (v)"))
    intercept[Exception](spark.sql(
      "CREATE TABLE vtcat.pby.q (id INT) TBLPROPERTIES ('partition'='id')"))
    intercept[Exception](spark.sql(
      "ALTER TABLE vtcat.pby.t SET TBLPROPERTIES ('partition'='id')"))
    intercept[Exception](spark.sql(
      "ALTER TABLE vtcat.pby.t UNSET TBLPROPERTIES ('partition')"))
  }

  test("ALTER TABLE RENAME COLUMN lands as a metadata-only mapping commit") {
    require(root.nonEmpty)
    spark.sql("CREATE TABLE vtcat.rn.t (id INT, v INT)")
    spark.sql("INSERT INTO vtcat.rn.t VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE vtcat.rn.t RENAME COLUMN v TO score")
    assert(spark.sql("SELECT id, score FROM vtcat.rn.t WHERE score > 15")
      .collect().map(_.getInt(0)).toSet == Set(2))
    // new inserts land under the new name; the mixed history unions
    spark.sql("INSERT INTO vtcat.rn.t VALUES (3, 30)")
    assert(spark.sql("SELECT sum(score) FROM vtcat.rn.t").head().getLong(0)
      == 60L)
    // the rename is a VERSION: time travel before it keeps the old name
    assert(spark.sql("SELECT v FROM vtcat.rn.t VERSION AS OF 2")
      .collect().map(_.getInt(0)).toSet == Set(10, 20))
    assert(VersionedTable.commitKind(spark, s"$root/rn/t", 3L)
      == "rename_column")
    // DROP COLUMN (supported since r16) retires the whole alias chain:
    // the logical name and its historical physical name both tombstone
    spark.sql("ALTER TABLE vtcat.rn.t DROP COLUMN score")
    assert(spark.table("vtcat.rn.t").columns.toSeq == Seq("id"))
    assert(spark.sql("SELECT v FROM vtcat.rn.t VERSION AS OF 2")
      .collect().map(_.getInt(0)).toSet == Set(10, 20),
      "pre-rename time travel keeps the original column")
  }

  test("hidden partitioning end-to-end in SQL: days(ts) prunes from a base-column range") {
    require(root.nonEmpty)
    spark.sql("CREATE TABLE vtcat.hp.t (id INT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO vtcat.hp.t VALUES " +
      "(1, TIMESTAMP'2026-03-01 08:00:00'), " +
      "(2, TIMESTAMP'2026-03-01 21:00:00'), " +
      "(3, TIMESTAMP'2026-03-02 03:00:00'), " +
      "(4, TIMESTAMP'2026-03-03 12:00:00')")
    // the query names ONLY the base column; the layout is invisible
    assert(ids("SELECT id FROM vtcat.hp.t " +
      "WHERE ts >= TIMESTAMP'2026-03-02 00:00:00'") == Set(3, 4))
    assert(ids("SELECT id FROM vtcat.hp.t " +
      "WHERE ts BETWEEN TIMESTAMP'2026-03-01 12:00:00' " +
      "AND TIMESTAMP'2026-03-02 12:00:00'") == Set(2, 3))
    // the range really pruned at the manifest: of the 3 day leaves (+1
    // create carrier), the >= predicate keeps the two later days
    val fields = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, s"$root/hp/t"))
    val (_, kept, total) = VersionedTable.readAtPruned(spark,
      s"$root/hp/t", None, Nil,
      graft.ops.PartFields.prunePredicates(fields,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("ts",
          java.sql.Timestamp.from(
            java.time.Instant.parse("2026-03-02T00:00:00Z"))))))
    assert(total == 4 && kept == 3,
      s"two day leaves + the stats-free create carrier: kept $kept of $total")
    // DESCRIBE surfaces the transform, not a phantom column
    val desc = spark.sql("DESCRIBE TABLE vtcat.hp.t").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.contains(("Part 0", "days(ts)")), desc.mkString("|"))
    // dynamic INSERT OVERWRITE replaces exactly the days in the result
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE vtcat.hp.t VALUES " +
      "(9, TIMESTAMP'2026-03-01 10:00:00')")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(ids("SELECT id FROM vtcat.hp.t") == Set(9, 3, 4),
      "one day replaced, the other days carried")
  }

  test("INSERT OVERWRITE honors partitionOverwriteMode=dynamic on partitioned tables") {
    require(root.nonEmpty) // touch the lazy catalog registration
    spark.sql("CREATE TABLE vtcat.po.t (id INT, grp STRING) PARTITIONED BY (grp)")
    spark.sql("INSERT INTO vtcat.po.t VALUES (1, 'a'), (2, 'b')")
    def rows(): Set[(Int, String)] =
      spark.sql("SELECT id, grp FROM vtcat.po.t").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
    val path = s"$root/po/t"
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val old = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "dynamic")
      // replaces partition b, adds c; partition a carried verbatim
      spark.sql("INSERT OVERWRITE vtcat.po.t VALUES (9, 'b'), (10, 'c')")
      assert(rows() == Set(1 -> "a", 9 -> "b", 10 -> "c"))
      assert(VersionedTable.commitKind(spark, path,
        VersionedTable.versions(spark, path).last) == "replace_partitions")
    } finally spark.conf.set(conf, old)
    // static mode (the default) keeps full-overwrite semantics
    spark.sql("INSERT OVERWRITE vtcat.po.t VALUES (7, 'z')")
    assert(rows() == Set(7 -> "z"))
    assert(VersionedTable.commitKind(spark, path,
      VersionedTable.versions(spark, path).last) == "overwrite")
  }

  test("SQL DELETE lands as a copy-on-write delete commit") {
    df(1, 2, 3, 4, 5).createOrReplaceTempView("vtcat_del_src")
    spark.sql("CREATE TABLE vtcat.w.d AS SELECT id FROM vtcat_del_src")
    val vPre = VersionedTable.versions(spark, s"$root/w/d").last
    spark.sql("DELETE FROM vtcat.w.d WHERE id IN (2, 4)")
    assert(ids("SELECT id FROM vtcat.w.d") == Set(1, 3, 5))
    // ONE commit, stamped as an auditable erasure; pre-delete snapshot
    // still time-travels (completing erasure = vacuum, the q116 contract)
    val vPost = VersionedTable.versions(spark, s"$root/w/d").last
    assert(vPost == vPre + 1)
    assert(VersionedTable.manifestMeta(spark, s"$root/w/d", vPost)
      .get("delete").contains("true"))
    assert(ids(s"SELECT id FROM vtcat.w.d VERSION AS OF $vPre")
      == Set(1, 2, 3, 4, 5))
    // a predicate that cannot translate to source Filters is refused at
    // analysis — never a silent partial delete
    intercept[Exception](spark.sql("DELETE FROM vtcat.w.d WHERE id % 2 = 1"))
    assert(ids("SELECT id FROM vtcat.w.d") == Set(1, 3, 5))
    // TRUNCATE is an overwrite commit with an empty schema-bearing
    // generation; the truncated snapshot still time-travels
    val vTrunc = VersionedTable.versions(spark, s"$root/w/d").last
    spark.sql("TRUNCATE TABLE vtcat.w.d")
    assert(ids("SELECT id FROM vtcat.w.d") == Set.empty[Int])
    assert(ids(s"SELECT id FROM vtcat.w.d VERSION AS OF $vTrunc") == Set(1, 3, 5))
  }

  test("TBLPROPERTIES live in the log: CREATE stores, SHOW reads, ALTER edits, writes carry") {
    spark.sql("CREATE TABLE vtcat.p.t (id INT) TBLPROPERTIES " +
      "('key'='id', 'team'='graft')")
    def shown(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES vtcat.p.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown() == Map("key" -> "id", "team" -> "graft"))
    // properties survive data writes (the carry contract)
    spark.sql("INSERT INTO vtcat.p.t VALUES (1), (2)")
    spark.sql("INSERT OVERWRITE vtcat.p.t VALUES (3)")
    assert(shown() == Map("key" -> "id", "team" -> "graft"))
    // ALTER SET/UNSET is a metadata-only commit in the table's own log
    spark.sql("ALTER TABLE vtcat.p.t SET TBLPROPERTIES ('team'='corpus')")
    spark.sql("ALTER TABLE vtcat.p.t UNSET TBLPROPERTIES ('key')")
    assert(shown() == Map("team" -> "corpus"))
    assert(VersionedTable.commitKind(spark, s"$root/p/t",
      VersionedTable.versions(spark, s"$root/p/t").last) == "set_properties")
    // data rows untouched by the metadata commits
    assert(ids("SELECT id FROM vtcat.p.t") == Set(3))
    // RENAME COLUMN is supported since r15 (the 'key' guard lifted when
    // the property was UNSET above); DROP refuses on the last column,
    // and a NARROWING retype refuses (widening is supported since r16 —
    // WidenColumnSpec covers it end to end)
    spark.sql("ALTER TABLE vtcat.p.t RENAME COLUMN id TO id2")
    assert(ids("SELECT id2 FROM vtcat.p.t") == Set(3))
    intercept[Exception](
      spark.sql("ALTER TABLE vtcat.p.t DROP COLUMN id2"))
    intercept[Exception](
      spark.sql("ALTER TABLE vtcat.p.t ALTER COLUMN id2 TYPE SMALLINT"))
  }

  test("CHECK constraints enforce through the SQL surface") {
    spark.sql("CREATE TABLE vtcat.c.t (id INT, v INT) TBLPROPERTIES " +
      "('constraint.pos'='v > 0')")
    spark.sql("INSERT INTO vtcat.c.t VALUES (1, 10), (2, 20)")
    // one bad row aborts the whole INSERT — nothing partial lands
    intercept[Exception](
      spark.sql("INSERT INTO vtcat.c.t VALUES (3, 30), (4, -1)"))
    assert(spark.sql("SELECT id FROM vtcat.c.t").collect()
      .map(_.getInt(0)).toSet == Set(1, 2))
    // ALTER-time validation: a constraint existing rows violate refuses
    intercept[Exception](spark.sql(
      "ALTER TABLE vtcat.c.t SET TBLPROPERTIES ('constraint.big'='v > 15')"))
    // a satisfiable one lands and then gates future writes
    spark.sql(
      "ALTER TABLE vtcat.c.t SET TBLPROPERTIES ('constraint.cap'='v < 100')")
    intercept[Exception](
      spark.sql("INSERT INTO vtcat.c.t VALUES (5, 500)"))
    // UNSET lifts enforcement
    spark.sql("ALTER TABLE vtcat.c.t UNSET TBLPROPERTIES ('constraint.cap')")
    spark.sql("INSERT INTO vtcat.c.t VALUES (5, 500)")
    assert(spark.sql("SELECT id FROM vtcat.c.t").collect()
      .map(_.getInt(0)).toSet == Set(1, 2, 5))
  }

  test("ALTER TABLE ADD COLUMNS evolves the schema as a widened commit") {
    df(1, 2).createOrReplaceTempView("vtcat_evo_src")
    spark.sql("CREATE TABLE vtcat.e.t AS SELECT id FROM vtcat_evo_src")
    val vPre = VersionedTable.versions(spark, s"$root/e/t").last
    spark.sql("ALTER TABLE vtcat.e.t ADD COLUMNS (tag STRING)")
    val vAlter = VersionedTable.versions(spark, s"$root/e/t").last
    assert(vAlter == vPre + 1, "ALTER is exactly one commit")
    assert(VersionedTable.commitKind(spark, s"$root/e/t", vAlter)
      == "add_columns")
    // existing rows read the new column as NULL — no backfill, no rewrite
    val rows = spark.sql("SELECT id, tag FROM vtcat.e.t")
      .collect().map(r => r.getInt(0) -> Option(r.getString(1))).toSet
    assert(rows == Set(1 -> None, 2 -> None))
    // the column is writable on the next insert
    spark.sql("INSERT INTO vtcat.e.t VALUES (3, 'new')")
    assert(spark.sql("SELECT id FROM vtcat.e.t WHERE tag = 'new'")
      .collect().map(_.getInt(0)).toSet == Set(3))
    // time travel before the ALTER never sees the column
    assert(spark.sql(s"SELECT * FROM vtcat.e.t VERSION AS OF $vPre")
      .columns.toSeq == Seq("id"))
    // refusals: non-nullable, positioned, and colliding columns
    intercept[Exception](
      spark.sql("ALTER TABLE vtcat.e.t ADD COLUMNS (x INT NOT NULL)"))
    intercept[Exception](
      spark.sql("ALTER TABLE vtcat.e.t ADD COLUMNS (y INT FIRST)"))
    intercept[Exception](
      spark.sql("ALTER TABLE vtcat.e.t ADD COLUMNS (TAG STRING)"))
    assert(spark.sql("SELECT * FROM vtcat.e.t").columns.toSeq
      == Seq("id", "tag"), "failed ALTERs must not commit")
  }

  test("ADD COLUMNS DEFAULT is an existence default: old rows read it, new rows their value") {
    df(1, 2).createOrReplaceTempView("vtcat_def_src")
    spark.sql("CREATE TABLE vtcat.ed.t AS SELECT id FROM vtcat_def_src")
    val vPre = VersionedTable.versions(spark, s"$root/ed/t").last
    spark.sql("ALTER TABLE vtcat.ed.t ADD COLUMNS (score INT DEFAULT 7)")
    def rows(): Set[(Int, Option[Int])] =
      spark.sql("SELECT id, score FROM vtcat.ed.t").collect()
        .map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSet
    // PRE-evolution rows read the default — no backfill, no rewrite
    assert(rows() == Set(1 -> Some(7), 2 -> Some(7)))
    // POST-evolution rows read what was written, including explicit NULL
    // (the SQL existence-default contract — a written NULL stays NULL)
    spark.sql("INSERT INTO vtcat.ed.t VALUES (3, 9), (4, NULL)")
    assert(rows() == Set(1 -> Some(7), 2 -> Some(7), 3 -> Some(9),
      4 -> None))
    // the default survives maintenance: a full rewrite materializes it
    assert(VersionedTable.compact(spark, s"$root/ed/t").isDefined)
    assert(rows() == Set(1 -> Some(7), 2 -> Some(7), 3 -> Some(9),
      4 -> None))
    // old snapshots are untouched (narrow schema before the ALTER)
    assert(spark.sql(s"SELECT * FROM vtcat.ed.t VERSION AS OF $vPre")
      .columns.toSeq == Seq("id"))
    // the default is an inspectable property; UNSET reverts the
    // pre-rewrite generations' missing values to NULL (escape hatch)
    assert(spark.sql("SHOW TBLPROPERTIES vtcat.ed.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .get("default.score").exists(_.contains("7")))
    // non-constant defaults refuse loudly, committing nothing; so does
    // a default whose SQL text would tear the manifest line format
    val vNow = VersionedTable.versions(spark, s"$root/ed/t").last
    intercept[Exception](spark.sql(
      "ALTER TABLE vtcat.ed.t ADD COLUMNS (bad INT DEFAULT id + 1)"))
    intercept[Exception](VersionedTable.addColumns(spark, s"$root/ed/t",
      Seq(org.apache.spark.sql.types.StructField("bad2",
        org.apache.spark.sql.types.StringType)),
      defaults = Map("bad2" -> "concat('a',\n'b')")))
    assert(VersionedTable.versions(spark, s"$root/ed/t").last == vNow)
  }

  test("ALTER TABLE DROP COLUMN drops logically; retype stays refused") {
    spark.sql("CREATE TABLE vtcat.dc.t (id INT, note STRING, v INT)")
    spark.sql("INSERT INTO vtcat.dc.t VALUES (1, 'keep', 10), (2, 'me', 20)")
    spark.sql("ALTER TABLE vtcat.dc.t DROP COLUMN note")
    // the logical schema narrowed; the data is intact
    assert(spark.table("vtcat.dc.t").columns.toSeq == Seq("id", "v"))
    assert(ids("SELECT id FROM vtcat.dc.t WHERE v > 0") == Set(1, 2))
    // pre-drop TIME TRAVEL still reads the column and its values
    val tt = spark.sql(
      "SELECT note FROM vtcat.dc.t VERSION AS OF 2 ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(tt == Seq("keep", "me"))
    // the drop is in the ledger as a metadata-only commit
    assert(VersionedTable.commitKind(spark, s"$root/dc/t", 3L)
      == "drop_column")
    // re-add refuses until a full compact purges the bytes (SQL path)
    intercept[Exception](spark.sql(
      "ALTER TABLE vtcat.dc.t ADD COLUMNS (note STRING)"))
    VersionedTable.compact(spark, s"$root/dc/t")
    spark.sql("ALTER TABLE vtcat.dc.t ADD COLUMNS (note STRING)")
    assert(spark.sql(
      "SELECT count(*) FROM vtcat.dc.t WHERE note IS NOT NULL")
      .head().getLong(0) == 0L, "re-add must not resurrect")
    // a reinterpreting retype is still refused (widening is its own
    // lossless path since r16)
    intercept[Exception](spark.sql(
      "ALTER TABLE vtcat.dc.t ALTER COLUMN v TYPE STRING"))
  }

  test("catalog views: create/read/replace/drop, composition, cycle guard") {
    spark.sql("CREATE TABLE vtcat.vw.t (id INT, v INT)")
    spark.sql("INSERT INTO vtcat.vw.t VALUES (1, 10), (2, 20), (3, 30)")
    // create analyzes the SQL — a typo refuses at definition time
    intercept[Exception](spark.sql(
      "CALL vtcat.system.create_view('vw.bad', " +
        "'SELECT nope FROM vtcat.vw.t')"))
    spark.sql("CALL vtcat.system.create_view('vw.big', " +
      "'SELECT id, v FROM vtcat.vw.t WHERE v >= 20')")
    assert(ids("SELECT id FROM vtcat.vw.big") == Set(2, 3))
    // views COMPOSE: a view over a view resolves through the catalog
    spark.sql("CALL vtcat.system.create_view('vw.bigger', " +
      "'SELECT id FROM vtcat.vw.big WHERE v >= 30')")
    assert(ids("SELECT id FROM vtcat.vw.bigger") == Set(3))
    // the schema derives at READ: evolving the table flows through
    spark.sql("INSERT INTO vtcat.vw.t VALUES (4, 40)")
    assert(ids("SELECT id FROM vtcat.vw.bigger") == Set(3, 4))
    // SHOW TABLES lists views beside tables
    assert(spark.sql("SHOW TABLES IN vtcat.vw").collect()
      .map(_.getString(1)).toSet == Set("t", "big", "bigger"))
    // replace without the flag refuses; with it, the new definition
    // serves immediately
    intercept[Exception](spark.sql(
      "CALL vtcat.system.create_view('vw.big', 'SELECT 1 AS x')"))
    spark.sql("CALL vtcat.system.create_view('vw.big', " +
      "'SELECT id, v FROM vtcat.vw.t WHERE v >= 40', replace => true)")
    assert(ids("SELECT id FROM vtcat.vw.big") == Set(4))
    // name collisions refuse in BOTH directions
    intercept[Exception](spark.sql(
      "CALL vtcat.system.create_view('vw.t', 'SELECT 1 AS x')"))
    intercept[Exception](spark.sql("CREATE TABLE vtcat.vw.big (x INT)"))
    // a definition CYCLE fails loudly instead of overflowing the stack
    spark.sql("CALL vtcat.system.create_view('vw.big', " +
      "'SELECT id, v FROM vtcat.vw.big', replace => true)")
    intercept[Exception](spark.table("vtcat.vw.big").collect())
    // drop: the view disappears from resolution and the listing
    spark.sql("CALL vtcat.system.drop_view('vw.big')")
    intercept[Exception](spark.sql(
      "CALL vtcat.system.drop_view('vw.big')")) // already gone
    assert(spark.sql("CALL vtcat.system.show_views('vw')").collect()
      .map(_.getString(0)).toSeq == Seq("vw.bigger"))
    intercept[Exception](ids("SELECT id FROM vtcat.vw.big"))
  }

  test("metadata tables: history/files/refs/partitions ride the ident suffix") {
    val t = s"$root/meta/t"
    VersionedTable.commit(spark, t, df(1, 2), overwrite = true)
    VersionedTable.commit(spark, t, df(3), overwrite = false)
    VersionedTable.tagVersion(spark, t, "rel1", Some(1L))
    // history: one row per commit, kinds in order
    val hist = spark.sql(
      "SELECT version, kind FROM vtcat.meta.t.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((1L, "create"), (2L, "append"), (3L, "tag")))
    // files: one row per manifest entry, bytes > 0; `rows` serves the
    // recorded count — the r17 stats header for tracked generations,
    // and since r18 the per-file `files:` records for EVERY generation
    val files = spark.sql("SELECT entry, n_files, bytes FROM vtcat.meta.t.files")
      .collect()
    assert(files.length == 2 && files.forall(_.getLong(2) > 0L))
    VersionedTable.commit(spark, t, df(4, 5), overwrite = false,
      statsCols = Seq("id"))
    val fRows = spark.sql("SELECT rows FROM vtcat.meta.t.files").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    assert(fRows == Seq(1L, 2L, 2L),
      s"every generation reports its recorded rows, got $fRows")
    // refs: the tag with its pinned version
    val refs = spark.sql("SELECT name, type, version FROM vtcat.meta.t.refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSeq == Seq(("rel1", "tag", 1L)))
    // partitions: unpartitioned table reports its entries under ''
    val parts = spark.sql("SELECT partition FROM vtcat.meta.t.partitions")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set(""))
    // a REAL table named 'history' shadows the virtual one
    VersionedTable.commit(spark, s"$root/meta/t/history", df(42),
      overwrite = true)
    assert(ids("SELECT id FROM vtcat.meta.t.history") == Set(42))
    // no metadata suffix on a non-table parent
    intercept[Exception](
      spark.sql("SELECT * FROM vtcat.meta.nope.history").collect())
  }
}
