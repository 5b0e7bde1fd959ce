package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

class PartFieldsSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("partfields_spec").toString

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  private def leafNames(root: String, v: Long): Seq[String] =
    VersionedTable.manifestDirs(spark, root, v)
      .flatMap(_.split('/').filter(_.startsWith("__p_")))

  test("spec grammar: parse, canonical round-trip, unsupported refusals") {
    assert(PartFields.parseList("days(ts),bucket(16,id)") ==
      Seq(PartDays("ts"), PartBucket(16, "id")))
    assert(PartFields.parse("months(d)") == PartMonths("d"))
    assert(PartFields.parse("years(d)") == PartYears("d"))
    // truncate/bucket accept both argument orders (Iceberg wrote both)
    assert(PartFields.parse("truncate(4,code)") == PartTruncate(4, "code"))
    assert(PartFields.parse("truncate(code,4)") == PartTruncate(4, "code"))
    assert(PartFields.parse("bucket(id,8)") == PartBucket(8, "id"))
    // bare identifiers stay identity (the pre-transform property format)
    assert(PartFields.parse("yr") == PartIdentity("yr"))
    assert(PartFields.parse("hours(ts)") == PartHours("ts"),
      "hours() is supported since r17 (spec evolution made the fan-out " +
        "a correctable decision)")
    // round-trip: spec text re-parses to the same field
    Seq(PartHours("ts"), PartDays("ts"), PartMonths("ts"),
      PartTruncate(3, "c"), PartBucket(16, "k"), PartIdentity("yr"))
      .foreach(f => assert(PartFields.parse(f.spec) == f, f.spec))
    intercept[IllegalArgumentException](PartFields.parseList("days((ts)"))
  }

  test("validation gates transform/source types on BOTH creation paths") {
    import spark.implicits._
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("d", DateType), StructField("s", StringType),
      StructField("n", IntegerType), StructField("x", DoubleType)))
    def v(spec: String) =
      PartFields.validate(PartFields.parseList(spec), schema)
    assert(v("days(ts),months(d),truncate(2,s),bucket(8,n),s")
      .map(_.name) == Seq("ts_day", "d_month", "s_trunc", "n_bucket", "s"))
    // identity on a timestamp/double would write tokens the pruner's
    // renderPartitionValue never produces — refused (the ADVICE gate)
    intercept[IllegalArgumentException](v("ts"))
    intercept[IllegalArgumentException](v("x"))
    intercept[IllegalArgumentException](v("days(n)"))   // days needs temporal
    intercept[IllegalArgumentException](v("truncate(2,d)")) // trunc needs str/int
    intercept[IllegalArgumentException](v("bucket(4,x)"))   // double unhashable here
    intercept[IllegalArgumentException](v("days(nope)"))    // unknown column
    intercept[IllegalArgumentException](v("days(ts),days(ts)")) // dup field
    // API createIfAbsent runs the same gate — an unvalidated 'partition'
    // property cannot smuggle in a non-prunable layout
    val root = freshRoot()
    val df = Seq((1, ts("2026-01-01T10:00:00Z"))).toDF("id", "ts")
    intercept[IllegalArgumentException](
      VersionedTable.createIfAbsent(spark, root, df,
        Map("partition" -> "ts")))
    // and the property normalizes to the canonical resolved spec
    val root2 = freshRoot()
    assert(VersionedTable.createIfAbsent(spark, root2, df,
      Map("partition" -> "days(TS)")))
    assert(VersionedTable.tableProperties(spark, root2)("partition") ==
      "days(ts)")
  }

  test("days(ts): routed writes, hidden-partition range pruning, day replace") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq(
      (1, ts("2026-01-01T10:00:00Z")), (2, ts("2026-01-01T23:59:59Z")),
      (3, ts("2026-01-02T01:00:00Z")), (4, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("id", "ts")
    assert(VersionedTable.createIfAbsent(spark, root, df,
      Map("partition" -> "days(ts)")))
    val leaves = leafNames(root, 1L)
    assert(leaves.toSet == Set("__p_ts_day=2026-01-01",
      "__p_ts_day=2026-01-02", "__p_ts_day=__HIVE_DEFAULT_PARTITION__"),
      leaves.mkString("|"))
    // the data files keep the REAL column: reads never reconstruct it
    assert(VersionedTable.readAt(spark, root).collect()
      .map(r => (r.getInt(0), Option(r.getTimestamp(1)))).toSet ==
      Set(1 -> Some(ts("2026-01-01T10:00:00Z")),
        2 -> Some(ts("2026-01-01T23:59:59Z")),
        3 -> Some(ts("2026-01-02T01:00:00Z")), 4 -> None))
    val fields = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, root))
    // RANGE on the base timestamp prunes day leaves (drops the null leaf
    // too — no NULL matches a range); equality keeps exactly one day
    def kept(filters: Filter*): Int =
      VersionedTable.readAtPruned(spark, root, None, Nil,
        PartFields.prunePredicates(fields, filters.toIndexedSeq))._2
    assert(kept(GreaterThanOrEqual("ts", ts("2026-01-02T00:00:00Z"))) == 1)
    assert(kept(LessThan("ts", ts("2026-01-02T00:00:00Z"))) == 2,
      "day granularity: LT keeps the bound's own day leaf (sound)")
    assert(kept(EqualTo("ts", ts("2026-01-01T10:00:00Z"))) == 1)
    assert(kept(IsNull("ts")) == 1)
    assert(kept(GreaterThan("ts", ts("2027-01-01T00:00:00Z"))) == 0)
    // the relation pushes the base-column predicate end-to-end
    val rel = spark.read.format("graft-vtable").option("path", root).load()
    assert(rel.filter(col("ts") >= lit(ts("2026-01-02T00:00:00Z")))
      .count() == 1)
    assert(rel.filter(col("ts").isNull).count() == 1)
    // dynamic overwrite replaces exactly the day present in the batch
    val reload = Seq((9, ts("2026-01-01T12:00:00Z"))).toDF("id", "ts")
    val Some((v2, replaced, carried)) =
      VersionedTable.overwritePartitions(spark, root, reload)
    assert(replaced == 1 && carried == 2, s"replaced $replaced carried $carried")
    assert(VersionedTable.readAt(spark, root, Some(v2)).collect()
      .map(_.getInt(0)).toSet == Set(9, 3, 4))
  }

  test("hours(ts): routed writes, ordered hour tokens prune, UTC-pinned") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq(
      (1, ts("2026-01-01T10:15:00Z")), (2, ts("2026-01-01T10:59:59Z")),
      (3, ts("2026-01-01T11:00:00Z")), (4, ts("2026-01-02T00:30:00Z")),
      (5, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("id", "ts")
    // write under a NON-UTC session zone: leaf tokens must stay UTC
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
      assert(VersionedTable.createIfAbsent(spark, root, df,
        Map("partition" -> "hours(ts)")))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
    assert(leafNames(root, 1L).toSet == Set(
      "__p_ts_hour=2026-01-01-10", "__p_ts_hour=2026-01-01-11",
      "__p_ts_hour=2026-01-02-00",
      "__p_ts_hour=__HIVE_DEFAULT_PARTITION__"))
    val fields = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, root))
    def kept(filters: Filter*): Int =
      VersionedTable.readAtPruned(spark, root, None, Nil,
        PartFields.prunePredicates(fields, filters.toIndexedSeq))._2
    assert(kept(GreaterThanOrEqual("ts", ts("2026-01-01T11:00:00Z"))) == 2)
    assert(kept(LessThan("ts", ts("2026-01-01T11:00:00Z"))) == 2,
      "hour granularity: LT keeps the bound's own hour leaf (sound)")
    assert(kept(EqualTo("ts", ts("2026-01-01T10:30:00Z"))) == 1)
    assert(kept(IsNull("ts")) == 1)
    assert(kept(GreaterThan("ts", ts("2027-01-01T00:00:00Z"))) == 0)
    // end-to-end through the relation's pushed filters
    val rel = spark.read.format("graft-vtable").option("path", root).load()
    assert(rel.filter(col("ts") >= lit(ts("2026-01-01T11:00:00Z")))
      .count() == 2)
    // write/prune agreement per key: the Spark-side token equals the
    // driver-side translation for every row (pre-epoch included)
    val probe = Seq(ts("2026-01-01T10:15:00Z"), ts("1969-12-31T23:30:00Z"),
      ts("1969-12-31T22:59:59Z")).toDF("ts")
    val sparkToks = probe
      .select(PartDates.utcHourToken(col("ts"))).collect().map(_.getString(0))
    val driverToks = Seq("2026-01-01T10:15:00Z", "1969-12-31T23:30:00Z",
      "1969-12-31T22:59:59Z")
      .map(s => PartDates.hourTokenOf(ts(s)).get)
    assert(sparkToks.toSeq == driverToks,
      s"${sparkToks.mkString(",")} vs ${driverToks.mkString(",")}")
    // a DATE column has no hour: refuse at validation (both paths)
    intercept[IllegalArgumentException](PartFields.validate(
      Seq(PartHours("d")), StructType(Seq(StructField("d", DateType)))))
    // the aging path: hours refines into days/months/years
    assert(PartFields.refineToken(PartHours("ts"), PartDays("ts"),
      Some("2026-01-01-10"), TimestampType) == Some(Some("2026-01-01")))
    assert(PartFields.refineToken(PartHours("ts"), PartMonths("ts"),
      Some("2026-01-01-10"), TimestampType) == Some(Some("2026-01")))
    assert(PartFields.refineToken(PartHours("ts"), PartYears("ts"),
      Some("2026-01-01-10"), TimestampType) == Some(Some("2026")))
    assert(PartFields.refineToken(PartDays("ts"), PartHours("ts"),
      Some("2026-01-01"), TimestampType).isEmpty,
      "a day spans many hours — not refinable")
    // evolve hours→days: a reload of one hour's day drops exactly the
    // old-era hour leaves of that day (token refinement)
    VersionedTable.evolvePartitionSpec(spark, root, "days(ts)")
    val reload = Seq((9, ts("2026-01-01T12:00:00Z"))).toDF("id", "ts")
    val Some((v3, replaced, carried)) =
      VersionedTable.overwritePartitions(spark, root, reload)
    assert(replaced == 2 && carried == 2,
      s"the two 2026-01-01 hour leaves replace; got $replaced/$carried")
    assert(VersionedTable.readAt(spark, root, Some(v3)).collect()
      .map(_.getInt(0)).toSet == Set(9, 4, 5))
  }

  test("months(d) and truncate: ordered tokens prune; '' and NULL conflate") {
    import spark.implicits._
    val root = freshRoot()
    val d = java.sql.Date.valueOf(_: String)
    val df = Seq(
      (1, d("1995-01-15"), "alpha", 7), (2, d("1995-02-10"), "alps", 23),
      (3, d("1995-03-05"), "beta", 57), (4, d("1996-01-01"), "", 99))
      .toDF("id", "d", "code", "n")
    assert(VersionedTable.createIfAbsent(spark, root, df,
      Map("partition" -> "months(d),truncate(2,code),truncate(25,n)")))
    val leaves = leafNames(root, 1L)
    assert(leaves.contains("__p_d_month=1995-01") &&
      leaves.contains("__p_code_trunc=al") &&
      leaves.contains("__p_n_trunc=0") && leaves.contains("__p_n_trunc=50"),
      leaves.mkString("|"))
    // empty-string truncation shares the hive default leaf with NULL
    assert(leaves.contains("__p_code_trunc=__HIVE_DEFAULT_PARTITION__"))
    val fields = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, root))
    def kept(filters: Filter*): Int =
      VersionedTable.readAtPruned(spark, root, None, Nil,
        PartFields.prunePredicates(fields, filters.toIndexedSeq))._2
    // month ranges: >= 1995-02-01 keeps feb, mar, 1996-jan (3 of 4)
    assert(kept(GreaterThanOrEqual("d", d("1995-02-01"))) == 3)
    assert(kept(LessThan("d", d("1995-02-01"))) == 2,
      "month granularity keeps the bound's own month")
    // string-prefix ranges (entries are FULL leaf paths, so the two
    // 'al'-token rows live in two different month leaves): the
    // conjunction keeps both 'al' entries, drops 'be' (prefix order:
    // "be" > "b") and the default leaf ('' fails the lower bound)
    assert(kept(GreaterThanOrEqual("code", "alp"),
      LessThan("code", "b")) == 2)
    assert(kept(LessThanOrEqual("code", "b")) == 3,
      "the two 'al' entries plus the ''-holding default leaf; 'be' > 'b'")
    assert(kept(GreaterThan("code", "b")) == 1,
      "GT drops the default leaf: '' can never exceed the bound")
    // integer floor ranges compare numerically, not lexicographically
    assert(kept(GreaterThanOrEqual("n", 50)) == 2,
      "keeps the 50-floor and 75-floor leaves, drops the two 0-floor")
    assert(kept(EqualTo("n", 23)) == 2,
      "both 0-floor entries hold candidate rows")
    // equality on an empty string routes to the default leaf
    assert(kept(EqualTo("code", "")) == 1)
    // a query through the relation: correct rows under composed pruning
    val rel = spark.read.format("graft-vtable").option("path", root).load()
    assert(rel.filter(col("code") >= "alp" && col("code") < "b")
      .collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("years(d): one leaf per year, zero-padded tokens prune ranges") {
    import spark.implicits._
    val root = freshRoot()
    val d = java.sql.Date.valueOf(_: String)
    val df = Seq((1, d("1995-06-01")), (2, d("1996-01-15")),
      (3, d("1997-12-31"))).toDF("id", "dt")
    assert(VersionedTable.createIfAbsent(spark, root, df,
      Map("partition" -> "years(dt)")))
    assert(leafNames(root, 1L).toSet == Set("__p_dt_year=1995",
      "__p_dt_year=1996", "__p_dt_year=1997"))
    val fields = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, root))
    def kept(filters: Filter*): Int =
      VersionedTable.readAtPruned(spark, root, None, Nil,
        PartFields.prunePredicates(fields, filters.toIndexedSeq))._2
    assert(kept(GreaterThanOrEqual("dt", d("1996-01-01"))) == 2)
    assert(kept(LessThan("dt", d("1996-06-01"))) == 2,
      "year granularity keeps the bound's own year")
    assert(kept(EqualTo("dt", d("1996-03-03"))) == 1)
    val rel = spark.read.format("graft-vtable").option("path", root).load()
    assert(rel.filter(col("dt") >= lit(d("1996-01-01"))).collect()
      .map(_.getInt(0)).toSet == Set(2, 3))
  }

  test("days/months over TIMESTAMP are UTC-pinned: session zone cannot desync pruning") {
    import spark.implicits._
    val root = freshRoot()
    // 2026-03-02T01:00Z is 2026-03-01 in America/Los_Angeles — a
    // session-zoned transform would route it into a different leaf than
    // a UTC reader's translation computes, silently dropping the row
    val df = Seq((1, ts("2026-03-02T01:00:00Z")),
      (2, ts("2026-03-02T12:00:00Z")), (3, ts("2026-03-01T12:00:00Z")))
      .toDF("id", "ts")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      assert(VersionedTable.createIfAbsent(spark, root, df,
        Map("partition" -> "days(ts),months(ts)")))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // written under LA, read under UTC: tokens are UTC days either way
    assert(leafNames(root, 1L).toSet ==
      Set("__p_ts_day=2026-03-01", "__p_ts_day=2026-03-02",
        "__p_ts_month=2026-03"),
      leafNames(root, 1L).mkString("|"))
    val fields = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, root))
    val preds = PartFields.prunePredicates(fields,
      Seq(GreaterThanOrEqual("ts", ts("2026-03-02T00:00:00Z"))))
    val (got, kept, total) = VersionedTable.readAtPruned(spark, root,
      None, Nil, preds)
    assert(total == 2 && kept == 1, s"kept $kept of $total")
    assert(got.filter(col("ts") >= lit(ts("2026-03-02T00:00:00Z")))
      .collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("truncate translation is code-point-safe and stands down outside UTF-8-safe order") {
    // write side truncates by CODE POINT: a UTF-16 take would split the
    // surrogate pair and compute a token no leaf name contains
    val f = PartTruncate(1, "name")
    val emoji = new String(Character.toChars(0x1F600)) // one code point
    assert(f.eqToken(emoji + "abc") == Some(Some(emoji)))
    // range translation refuses supplementary-char bounds (UTF-16 vs
    // UTF-8 order diverge there) — scan-safe, never wrong
    assert(f.rangeTest(lower = true, emoji + "a").isEmpty)
    assert(f.rangeTest(lower = true, "abc").isDefined)
  }

  test("bucket(n, col): write-side hash and literal translation agree") {
    import spark.implicits._
    val root = freshRoot()
    val df = (1 to 50).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    assert(VersionedTable.createIfAbsent(spark, root, df,
      Map("partition" -> "bucket(8,id),bucket(4,k)")))
    val idLeaves = leafNames(root, 1L).filter(_.startsWith("__p_id_bucket="))
    assert(idLeaves.distinct.size <= 8 && idLeaves.nonEmpty)
    val fields = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, root))
    def keptOf(filters: Filter*): (Int, Int, Set[Long]) = {
      val (got, kept, total) = VersionedTable.readAtPruned(spark, root,
        None, Nil, PartFields.prunePredicates(fields, filters.toIndexedSeq))
      (kept, total, got.collect().map(_.getLong(0)).toSet)
    }
    // every key's equality prunes to SOME leaf subset that still holds
    // the key — the write/prune agreement that makes bucketing sound
    (1L to 50L).foreach { i =>
      val (kept, total, ids) = keptOf(EqualTo("id", i))
      assert(kept < total, s"id=$i pruned nothing")
      assert(ids.contains(i), s"id=$i pruned its own leaf away")
    }
    val (keptS, totalS, idsS) = keptOf(EqualTo("k", "k17"))
    assert(keptS < totalS && idsS.contains(17L))
    // IN prunes to the union of the members' buckets; ranges do not
    // translate (hashing scrambles order) — everything scans
    val (keptIn, _, idsIn) = keptOf(In("id", Array(3L, 9L)))
    assert(keptIn < totalS + 1 && Set(3L, 9L).subsetOf(idsIn))
    assert(PartFields.prunePredicates(fields,
      Seq(GreaterThan("id", 10L))).isEmpty)
    // NULL routes to the default leaf, never hash(NULL)=seed's bucket
    val root2 = freshRoot()
    val withNull = Seq(Some(1L), Some(2L), None)
      .toDF("id")
    assert(VersionedTable.createIfAbsent(spark, root2, withNull,
      Map("partition" -> "bucket(8,id)")))
    assert(leafNames(root2, 1L)
      .contains("__p_id_bucket=__HIVE_DEFAULT_PARTITION__"))
    val f2 = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, root2))
    val (got2, kept2, _) = VersionedTable.readAtPruned(spark, root2,
      None, Nil, PartFields.prunePredicates(f2, Seq(IsNull("id"))))
    assert(kept2 == 1 && got2.filter(col("id").isNull).count() == 1)
  }

  test("partition spec evolution: per-era pruning, refinement replace, refusals") {
    import spark.implicits._
    val root = freshRoot()
    def day(s: String) = java.sql.Date.valueOf(s)
    val era1 = Seq((1, day("2024-01-03"), 10), (2, day("2024-01-05"), 20),
      (3, day("2024-02-10"), 30), (4, day("2024-03-07"), 40))
      .toDF("id", "d", "v")
    assert(VersionedTable.createIfAbsent(spark, root, era1,
      Map("partition" -> "days(d)")))                    // v1: 4 day leaves
    val v2 = VersionedTable.evolvePartitionSpec(spark, root, "months(d)")
    assert(VersionedTable.commitKind(spark, root, v2) == "set_partition_spec")
    assert(VersionedTable.manifestDirs(spark, root, v2) ==
      VersionedTable.manifestDirs(spark, root, 1L))      // metadata-only
    val era2 = Seq((5, day("2024-04-15"), 50), (6, day("2024-05-20"), 60))
      .toDF("id", "d", "v")
    val v3 = VersionedTable.commit(spark, root, era2, overwrite = false)
    // new era routes as month leaves; the day era keeps its layout
    val sum = VersionedTable.partitionSummary(spark, root, Some(v3)).map(_._1)
    assert(sum.count(_.startsWith("d_day=")) == 4 &&
      sum.count(_.startsWith("d_month=")) == 2, sum.mkString(","))
    // ONE base-column range prunes BOTH eras, each under its own
    // transform (day tokens by day, month tokens by month)
    val fields = VersionedTable.allPartitionFieldsOf(
      VersionedTable.tableProperties(spark, root))
    assert(fields.map(_.spec) == Seq("months(d)", "days(d)"))
    val (got, kept, total) = VersionedTable.readAtPruned(spark, root,
      None, Nil, PartFields.prunePredicates(fields, Seq(
        GreaterThanOrEqual("d", day("2024-02-01")),
        LessThanOrEqual("d", day("2024-04-30")))))
    assert(total == 6 && kept == 3, s"kept $kept of $total")
    assert(got.filter(col("d").between(day("2024-02-01"), day("2024-04-30")))
      .collect().map(_.getInt(0)).toSet == Set(3, 4, 5))
    // old-spec TIME TRAVEL: pre-evolution snapshots keep their ledger
    assert(VersionedTable.partitionSummary(spark, root, Some(1L)).map(_._1)
      .forall(_.startsWith("d_day=")))
    assert(VersionedTable.readAt(spark, root, Some(1L)).count() == 4)
    // dynamic overwrite of a PRE-EVOLUTION month: days→months
    // refinement drops exactly the two 2024-01 day leaves — never the
    // whole old era through the plain-rewrite path
    val reload = Seq((11, day("2024-01-04"), 11)).toDF("id", "d", "v")
    val (v4, replaced, carried) = VersionedTable.overwritePartitions(
      spark, root, reload).getOrElse(sys.error("replace lost a race"))
    assert(replaced == 2 && carried == 4, s"replaced $replaced carried $carried")
    assert(VersionedTable.readAt(spark, root, Some(v4))
      .collect().map(_.getInt(0)).toSet == Set(11, 3, 4, 5, 6))
    // a subscription on a HISTORICAL field keeps binding and serving
    VersionedTable.validatePartitionFilter(spark, root, "d_day=2024-02-10")
    assert(VersionedTable.readAtPartition(spark, root, None, "d_day=2024-02-10")
      .collect().map(_.getInt(0)).toSet == Set(3))
    // refusals: no-op spec, unknown column, type gate, raw property
    // edits of the managed layout keys
    intercept[IllegalArgumentException](
      VersionedTable.evolvePartitionSpec(spark, root, "months(d)"))
    intercept[IllegalArgumentException](
      VersionedTable.evolvePartitionSpec(spark, root, "days(nope)"))
    intercept[IllegalArgumentException](
      VersionedTable.evolvePartitionSpec(spark, root, "days(v)"))
    intercept[IllegalArgumentException](
      VersionedTable.setProperties(spark, root, Map("partition" -> "days(d)")))
    intercept[IllegalArgumentException](
      VersionedTable.setProperties(spark, root, Map.empty,
        unset = Seq("partition.history")))
    // AMBIGUITY GATE: a re-parameterization reusing the leaf-field name
    // (truncate width change collides on code_trunc) refuses — the two
    // eras' path tokens would be indistinguishable
    val root2 = freshRoot()
    assert(VersionedTable.createIfAbsent(spark, root2,
      Seq((1L, "ab"), (2L, "cd")).toDF("id", "code"),
      Map("partition" -> "truncate(1,code)")))
    intercept[IllegalArgumentException](
      VersionedTable.evolvePartitionSpec(spark, root2, "truncate(2,code)"))
    // widening with a DIFFERENT column is fine; dropping partitioning
    // entirely routes future writes plain while old leaves keep pruning
    VersionedTable.evolvePartitionSpec(spark, root2, "truncate(1,code),bucket(4,id)")
    VersionedTable.evolvePartitionSpec(spark, root2, "")
    // a historical spec source still refuses renames: old-era pruning
    // translates predicates under the recorded base name
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, root2, "code", "c2"))
    val r2v4 = VersionedTable.commit(spark, root2,
      Seq((9L, "zz")).toDF("id", "code"), overwrite = false)
    val sum2 = VersionedTable.partitionSummary(spark, root2, Some(r2v4)).map(_._1)
    assert(sum2.contains(""), sum2.mkString(","))        // plain new entry
    val f2 = VersionedTable.allPartitionFieldsOf(
      VersionedTable.tableProperties(spark, root2))
    val (g2, k2, t2) = VersionedTable.readAtPruned(spark, root2, None,
      Nil, PartFields.prunePredicates(f2, Seq(EqualTo("code", "ab"))))
    assert(k2 < t2 && g2.filter(col("code") === "ab").count() == 1)
  }

  test("utcDay tokens are exact past ±2^53 µs from the epoch (r15 ADVICE)") {
    import spark.implicits._
    // ±2^53 µs is ~±285 years: before ~1685 / after ~2255 the old double
    // division could land one day off, desynchronizing write-side leaf
    // tokens from the exact driver-side dayOf translation. Boundary
    // instants (start/end of day) are where a ±1 µs rounding flips days.
    // fixtures stay post-1582-10-15: earlier instants enter the
    // Julian↔proleptic-Gregorian rebase Spark applies to java.sql
    // externals — a different (documented) swamp than the rounding this
    // pin guards. 1600 is ~370 years (> 2^53 µs) before the epoch.
    val f = PartDays("ts")
    val extremes = Seq(
      "1600-03-01T00:00:00Z", "1600-03-01T23:59:59.999999Z",
      "2400-01-31T00:00:00Z", "2400-01-31T23:59:59.999999Z",
      "1969-12-31T23:59:59.999999Z", "1583-01-01T12:00:00Z",
      "9999-12-31T23:59:59.999999Z")
    val df = extremes
      .map(e => Tuple1(java.sql.Timestamp.from(java.time.Instant.parse(e))))
      .toDF("ts")
    val rows = df.select(col("ts"),
      f.valueOf(col("ts"), TimestampType).cast("string")).collect()
    rows.foreach { r =>
      val want = f.eqToken(r.getTimestamp(0)).get.get
      assert(r.getString(1) == want,
        s"write token ${r.getString(1)} != translated $want for ${r.get(0)}")
    }
    // the micro floor is overflow-free at the Long edge too (review
    // fix: the old `us - pmod` underflowed within a remainder of
    // Long.MinValue — same class as the truncate clamp)
    val edgeDay = spark.range(1)
      .select(PartDates.utcDay(timestamp_micros(lit(Long.MinValue)))
        .cast("string")).head().getString(0)
    assert(edgeDay == java.time.LocalDate.ofEpochDay(
      java.lang.Math.floorDiv(Long.MinValue, 86400000000L)).toString,
      s"edge day $edgeDay")
  }

  test("truncate integral floor clamps at the Long edge (r15 ADVICE)") {
    import spark.implicits._
    val f = PartTruncate(10, "v")
    val edge = Long.MinValue
    // driver-side floor clamps instead of wrapping to a huge positive
    assert(f.eqToken(java.lang.Long.valueOf(edge)) ==
      Some(Some(Long.MinValue.toString)))
    // write expression produces the SAME clamped token — no ANSI
    // overflow, no legacy wrap (pre-fix: `c - pmod` threw under ANSI)
    val toks = Seq(edge, edge + 1, edge + 5, -25L, 17L).toDF("v")
      .select(col("v"), f.valueOf(col("v"), LongType).as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toks(edge) == Long.MinValue && toks(edge + 1) == Long.MinValue &&
      toks(edge + 5) == Long.MinValue)
    assert(toks(-25L) == -30L && toks(17L) == 10L)
    // int columns compute in long too: Int.MinValue floors exactly where
    // int arithmetic would overflow
    val fi = PartTruncate(10, "n")
    val ti = Seq(Int.MinValue, -25, 7).toDF("n")
      .select(col("n"), fi.valueOf(col("n"), IntegerType).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(ti(Int.MinValue) == Int.MinValue.toLong - 2 && ti(-25) == -30L)
    assert(fi.eqToken(java.lang.Integer.valueOf(Int.MinValue)) ==
      Some(Some((Int.MinValue.toLong - 2).toString)))
    // monotone tokens at the edge: a lower bound whose own floor clamps
    // keeps every leaf (sound — the clamped token orders below all)
    val lo = f.rangeTest(lower = true, java.lang.Long.valueOf(edge + 3)).get
    assert(lo(Some(Long.MinValue.toString)) && lo(Some("-30")))
    val hi = f.rangeTest(lower = false, java.lang.Long.valueOf(-31L)).get
    assert(!hi(Some("10")) && hi(Some(Long.MinValue.toString)) &&
      hi(Some("-40")))
    // end-to-end: edge values route, prune, and read back (the old write
    // expression threw under ANSI before any manifest was published)
    val root = freshRoot()
    val data = Seq(edge, edge + 7, -5L, 1234L).toDF("v")
    assert(VersionedTable.createIfAbsent(spark, root, data,
      Map("partition" -> "truncate(10,v)")))
    val fields = VersionedTable.partitionFieldsOf(
      VersionedTable.tableProperties(spark, root))
    val (got, kept, total) = VersionedTable.readAtPruned(spark, root,
      None, Nil, PartFields.prunePredicates(fields,
        Seq(LessThanOrEqual("v", edge + 9))))
    assert(kept < total, "upper-bound range should prune the high leaves")
    assert(got.filter(col("v") <= edge + 9).count() == 2)
  }

  test("routed commit lands exactly one data file per leaf (r19: the " +
      "parallelism-first write must not change the layout)") {
    import spark.implicits._
    // 24 day leaves, rows interleaved across scan partitions so every
    // shuffle task would touch many leaves without the leaf clustering
    val df = (0 until 960).map { i =>
      (ts(f"2031-03-${i % 24 + 1}%02dT0${i % 9}:00:00Z"), i.toLong)
    }.toDF("ts", "v").repartition(4)
    val root = freshRoot()
    assert(VersionedTable.createIfAbsent(spark, root, df,
      Map("partition" -> "days(ts)")))
    val entries = VersionedTable.manifestDirs(spark, root, 1L)
      .filter(_.contains("__p_"))
    assert(entries.size == 24, s"expected 24 day leaves, got $entries")
    entries.foreach { e =>
      val files = new java.io.File(s"$root/$e").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(files.length == 1,
        s"leaf $e has ${files.length} data files — the routed write must " +
          "keep one file per leaf (rebalance clustering) while spreading " +
          "file creation across tasks")
    }
  }
}
