package graft.ops

import java.net.URI
import java.nio.file.Files

import graft.{SparkSpec, Spawns}
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

/** Hadoop's stock local filesystem under its own scheme (`rawfs`), so a
  * spec can see what `rename` does there: a POSIX rename that replaces an
  * existing target. (`file:` may resolve to a subclass that refuses an
  * existing target, which would hide a commit point relying on it.)
  * [[StockLocalFs.onCreate]] is a seam into the files it creates.
  */
class StockLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "rawfs"
  override def getUri: URI = URI.create("rawfs:///")
  // the overload `create(path, overwrite)` reaches (manifest temps,
  // _SUCCESS markers)
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
    try StockLocalFs.onCreate(f)
    catch { case e: Throwable => out.close(); throw e }
    out
  }
}

object StockLocalFs {
  // runs after a create, the file already there; may throw
  @volatile var onCreate: Path => Unit = _ => ()
  def withOnCreate[A](hook: Path => Unit)(body: => A): A = {
    onCreate = hook
    try body finally onCreate = _ => ()
  }
}

class VersionedTableSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("vtable_spec").toString

  private def df(ids: Int*) = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def idsAt(root: String, v: Option[Long] = None): Set[Int] =
    VersionedTable.readAt(spark, root, v)
      .collect().map(_.getInt(0)).toSet

  test("append and overwrite commits version linearly; every snapshot stays readable") {
    val root = freshRoot()
    assert(VersionedTable.versions(spark, root).isEmpty)
    assert(VersionedTable.commit(spark, root, df(1, 2), overwrite = true) == 1L)
    assert(VersionedTable.commit(spark, root, df(3), overwrite = false) == 2L)
    assert(VersionedTable.commit(spark, root, df(9), overwrite = true) == 3L)
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
    // time travel: old snapshots unchanged by later commits
    assert(idsAt(root, Some(1L)) == Set(1, 2))
    assert(idsAt(root, Some(2L)) == Set(1, 2, 3))
    assert(idsAt(root, Some(3L)) == Set(9))
    assert(idsAt(root) == Set(9)) // latest
    intercept[IllegalArgumentException](VersionedTable.readAt(spark, root, Some(7L)))
  }

  test("a crash before the manifest rename leaves the new generation invisible") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    // simulate the two pre-commit crash points: (a) a fully-written data
    // generation with no manifest, (b) a torn in-flight temp manifest
    df(42).write.parquet(s"$root/data/v-orphaned")
    Files.write(java.nio.file.Paths.get(root, "_log", ".tmp-2-deadbeef"),
      "data/v-orphaned".getBytes("UTF-8"))
    assert(VersionedTable.versions(spark, root) == Seq(1L), "torn temp must not count")
    assert(idsAt(root) == Set(1), "orphaned generation must be invisible")
    // recovery is just the next commit: version numbering is unaffected
    assert(VersionedTable.commit(spark, root, df(2), overwrite = false) == 2L)
    assert(idsAt(root) == Set(1, 2))
  }

  test("readChanges feeds exactly the appended rows and refuses overwrites") {
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    val v2 = VersionedTable.commit(spark, root, df(3, 4), overwrite = false)
    val v3 = VersionedTable.commit(spark, root, df(5), overwrite = false)
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.getInt(0)).toSet
    assert(ids(VersionedTable.readChanges(spark, root, v1, v2)) == Set(3, 4))
    assert(ids(VersionedTable.readChanges(spark, root, v2, v3)) == Set(5))
    // multi-version span: every generation added across the range
    assert(ids(VersionedTable.readChanges(spark, root, v1, v3)) == Set(3, 4, 5))
    // feed + base reconstructs the snapshot
    assert(idsAt(root) == Set(1, 2, 3, 4, 5))
    // an overwrite drops generations — a generation-level feed would
    // misreport it, so the call must refuse rather than return garbage
    val v4 = VersionedTable.commit(spark, root, df(9), overwrite = true)
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, root, v3, v4))
  }

  test("compact rewrites layout only: feeds skip it, empty windows are empty") {
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    val v2 = VersionedTable.commit(spark, root, df(3), overwrite = false)
    val v3 = VersionedTable.compact(spark, root)
      .getOrElse(fail("compaction of a 2-generation table must publish"))
    assert(VersionedTable.isRewrite(spark, root, v3))
    assert(VersionedTable.manifestDirs(spark, root, v3).size == 1)
    assert(idsAt(root, Some(v3)) == Set(1, 2, 3), "content unchanged")
    assert(idsAt(root, Some(v2)) == Set(1, 2, 3), "old snapshot undisturbed")
    // single-generation table: nothing to compact
    assert(VersionedTable.compact(spark, root).isEmpty)
    // compaction-only window: an EMPTY feed with the table schema — a
    // legitimate "nothing changed" result, not a failure
    val empty = VersionedTable.readChanges(spark, root, v2, v3)
    assert(empty.schema.fieldNames.toSeq == Seq("id"))
    assert(empty.count() == 0)
    // a feed spanning the rewrite delivers the appends ONCE — surfacing
    // the compacted generation would double-deliver rows 1..3
    val v4 = VersionedTable.commit(spark, root, df(4), overwrite = false)
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.getInt(0)).toSet
    assert(ids(VersionedTable.readChanges(spark, root, v1, v4)) == Set(3, 4))
    assert(ids(VersionedTable.readChanges(spark, root, v3, v4)) == Set(4))
  }

  test("idempotentCommit absorbs replays, even interleaved across apps") {
    val root = freshRoot()
    val (va, ca) = VersionedTable.idempotentCommit(spark, root, df(1), "appA", 0L)
    assert(ca && va == 1L)
    val (vb, cb) = VersionedTable.idempotentCommit(spark, root, df(10), "appB", 0L)
    assert(cb && vb == 2L)
    // appA's batch 0 replayed after appB committed on top: the
    // newest-first stamp scan must find appA's older stamp and skip
    val (vr, cr) = VersionedTable.idempotentCommit(spark, root, df(1), "appA", 0L)
    assert(!cr && vr == 2L, "replayed batch must not land twice")
    val (v2, c2) = VersionedTable.idempotentCommit(spark, root, df(2), "appA", 1L)
    assert(c2 && v2 == 3L)
    // an earlier batch id is also absorbed (monotone-batch contract)
    assert(!VersionedTable.idempotentCommit(spark, root, df(1), "appA", 0L)._2)
    assert(idsAt(root) == Set(1, 2, 10), "each batch's rows exactly once")
  }

  test("mergeInto is copy-on-write: only generations holding matched keys rewrite") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, String)*) = rows.toDF("id", "v")
    VersionedTable.commit(spark, root, kv(1 -> "a", 2 -> "b"), overwrite = true)
    VersionedTable.commit(spark, root, kv(3 -> "c", 4 -> "d"), overwrite = false)
    val v3 = VersionedTable.commit(spark, root, kv(5 -> "e"), overwrite = false)
    val preDirs = VersionedTable.manifestDirs(spark, root, v3).toSet
    // update id=3, insert id=9: only the second generation holds a match
    val (v4, touched, carried) =
      VersionedTable.mergeInto(spark, root, kv(3 -> "C", 9 -> "i"), "id")
        .getOrElse(fail("merge on a private table must publish"))
    assert(touched == 1 && carried == 2)
    // the untouched generations carry over VERBATIM — same directories,
    // no rewrite (the copy-on-write economics under test)
    assert(VersionedTable.manifestDirs(spark, root, v4).toSet
      .intersect(preDirs).size == 2)
    def rows(v: Long) = VersionedTable.readAt(spark, root, Some(v))
      .as[(Int, String)].collect().toMap
    assert(rows(v4) == Map(1 -> "a", 2 -> "b", 3 -> "C", 4 -> "d",
      5 -> "e", 9 -> "i"))
    assert(rows(v3) == Map(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d", 5 -> "e"),
      "published snapshots undisturbed by merge")
    // a pure-insert merge touches no existing generation
    val (_, t5, c5) = VersionedTable.mergeInto(spark, root, kv(7 -> "g"), "id")
      .getOrElse(fail("pure-insert merge must publish"))
    assert(t5 == 0 && c5 == 3)
    assert(VersionedTable.readAt(spark, root).count() == 7)
    // generation-level CDC cannot express row updates: the feed refuses
    // to span a merge commit rather than misreport it
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, root, v3, v4))
  }

  // every dir under data/ must be referenced by some manifest — losing
  // maintenance commits must reclaim their own orphans. Deletion-vector
  // key lists live under data/ too but are referenced by dv: HEADERS.
  private def assertNoOrphans(root: String): Unit = {
    val referenced = VersionedTable.versions(spark, root)
      .flatMap(v => VersionedTable.manifestDirs(spark, root, v) ++
        VersionedTable.manifestMeta(spark, root, v).keys
          .filter(_.startsWith("dv:")).map(_.stripPrefix("dv:"))).toSet
    val local = new org.apache.hadoop.fs.Path(root).toUri.getPath
    val onDisk = Option(new java.io.File(s"$local/data").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(f => s"data/${f.getName}").toSet
    assert(onDisk == referenced, s"orphaned generations: ${onDisk diff referenced}")
  }

  test("compact and mergeInto abort on a concurrency loss and reclaim their orphan") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    VersionedTable.commit(spark, root, df(2), overwrite = false)
    // a writer publishes v3 between compaction's snapshot read and its
    // publish: retrying at v4 would silently drop that writer's rows, so
    // the losing compaction must abort and clean up after itself
    val lost = VersionedTable.compact(spark, root, raceHook = () => {
      VersionedTable.commit(spark, root, df(3), overwrite = false); ()
    })
    assert(lost.isEmpty, "losing compaction must abort, not retry")
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
    assert(idsAt(root) == Set(1, 2, 3), "the concurrent append survived")
    assertNoOrphans(root)
    // the caller just runs it again: a quiet retry publishes
    assert(VersionedTable.compact(spark, root).contains(4L))
    // same abort rule for merge — it also publishes only at base+1
    val lostMerge = VersionedTable.mergeInto(spark, root, df(2), "id",
      raceHook = () => {
        VersionedTable.commit(spark, root, df(4), overwrite = false); ()
      })
    assert(lostMerge.isEmpty, "losing merge must abort, not retry")
    assert(idsAt(root) == Set(1, 2, 3, 4))
    assertNoOrphans(root)
    assert(VersionedTable.mergeInto(spark, root, df(2), "id").nonEmpty,
      "the re-run merge against the new snapshot publishes")
  }

  test("key-disjoint row-level commits racing REBASE: both land, linear history") {
    import spark.implicits._
    def kv(rows: (Int, Int)*) = rows.toDF("id", "v")
    def state(root: String): Map[Int, Int] =
      VersionedTable.readAt(spark, root).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap

    // two generations, so disjoint-key merges touch DIFFERENT dirs
    val root = freshRoot()
    VersionedTable.commit(spark, root, kv((1, 10), (2, 20), (3, 30)),
      overwrite = true)
    VersionedTable.commit(spark, root, kv((11, 110), (12, 120), (13, 130)),
      overwrite = false)

    // merge A (key 12) loses the rename to merge B (key 2) — the keys
    // and the touched dirs are disjoint, so A REBASES onto B's commit
    var innerV = -1L
    val a = VersionedTable.mergeInto(spark, root, kv((12, 999)), "id",
      raceHook = () => {
        innerV = VersionedTable.mergeInto(spark, root, kv((2, 888)), "id")
          .map(_._1).getOrElse(-1L)
      })
    assert(innerV == 3L, "the intervener lands first at base+1")
    assert(a.map(_._1).contains(4L),
      s"the loser must rebase to tip+1, got $a")
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L, 4L),
      "linear history, both statements applied")
    assert(state(root) == Map(1 -> 10, 2 -> 888, 3 -> 30,
      11 -> 110, 12 -> 999, 13 -> 130))
    assert(VersionedTable.commitKind(spark, root, 3L) == "merge")
    assert(VersionedTable.commitKind(spark, root, 4L) == "merge")

    // row-delta flavor: disjoint delete+insert pairs rebase too
    var innerV2 = -1L
    val b = VersionedTable.applyRowDelta(spark, root,
      kv((13, 0)).select(col("id")), kv((23, 230)), "id",
      kindHeader = "update",
      raceHook = () => {
        innerV2 = VersionedTable.applyRowDelta(spark, root,
          kv((3, 0)).select(col("id")), kv((33, 330)), "id",
          kindHeader = "update").map(_._1).getOrElse(-1L)
      }).map(_._1).getOrElse(-1L)
    assert(innerV2 == 5L && b == 6L,
      s"disjoint row deltas must both land, got inner=$innerV2 outer=$b")
    assert(state(root) == Map(1 -> 10, 2 -> 888, 11 -> 110, 12 -> 999,
      23 -> 230, 33 -> 330))
  }

  test("overlapping keys, inserts of one key, DVs and appends still abort") {
    import spark.implicits._
    def kv(rows: (Int, Int)*) = rows.toDF("id", "v")
    val root = freshRoot()
    VersionedTable.commit(spark, root, kv((1, 10), (2, 20)),
      overwrite = true, meta = Map("prop:key" -> "id"))
    VersionedTable.commit(spark, root, kv((11, 110)), overwrite = false)

    // same key on both sides: a real conflict — the loser aborts
    val sameKey = VersionedTable.mergeInto(spark, root, kv((2, 999)), "id",
      raceHook = () => {
        VersionedTable.mergeInto(spark, root, kv((2, 888)), "id"); ()
      })
    assert(sameKey.isEmpty, "overlapping keys must abort")
    assert(VersionedTable.readAt(spark, root).filter(col("id") === 2)
      .head().getInt(1) == 888, "the winner's value stands")

    // two INSERTS of one fresh key: the intervener's added dir carries
    // the key, so the loser aborts instead of landing a duplicate row-id
    val dupIns = VersionedTable.mergeInto(spark, root, kv((42, 1)), "id",
      raceHook = () => {
        VersionedTable.mergeInto(spark, root, kv((42, 2)), "id"); ()
      })
    assert(dupIns.isEmpty, "concurrent same-key inserts must abort")
    assert(VersionedTable.readAt(spark, root).filter(col("id") === 42)
      .count() == 1L, "exactly one copy of the row-id")

    // a merge-on-read DELETE intervener (tombstones) always aborts —
    // key-set folds do not compose by disjointness
    val dv = VersionedTable.mergeInto(spark, root, kv((1, 111)), "id",
      raceHook = () => {
        VersionedTable.deleteWhereMor(spark, root, col("id") === 11, "id"); ()
      })
    assert(dv.isEmpty, "a DV intervener must abort")

    // an APPEND intervener may carry any keys — abort, as always
    val ap = VersionedTable.mergeInto(spark, root, kv((2, 777)), "id",
      raceHook = () => {
        VersionedTable.commit(spark, root, kv((77, 770)),
          overwrite = false); ()
      })
    assert(ap.isEmpty, "an append intervener must abort")
  }

  test("racing replays of one micro-batch cannot both land (absorbed re-check)") {
    val root = freshRoot()
    VersionedTable.idempotentCommit(spark, root, df(1), "app", 0L)
    // a racing replay of batch 1 lands BETWEEN this call's initial
    // absorbed check and its publish — the loop's re-check must catch it
    var innerLanded = false
    val (v, committed) = VersionedTable.idempotentCommit(
      spark, root, df(2), "app", 1L,
      raceHook = () => {
        innerLanded = VersionedTable.idempotentCommit(spark, root, df(2), "app", 1L)._2
      })
    assert(innerLanded, "the racing replay wins")
    assert(!committed && v == 2L, "the loser must detect the stamp and skip")
    assert(VersionedTable.readAt(spark, root).count() == 2,
      "each batch's rows exactly once")
    assertNoOrphans(root)
  }

  test("optimize publishes a clustered rewrite commit the feed skips") {
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark, root, df(5, 1, 9), overwrite = true)
    VersionedTable.commit(spark, root, df(7, 3), overwrite = false)
    val v3 = VersionedTable.commit(spark, root, df(8, 2), overwrite = false)
    val (v4, stats) = VersionedTable
      .optimize(spark, root, Seq("id"), targetBytes = 1L << 30)
      .getOrElse(fail("quiet optimize must publish"))
    assert(VersionedTable.isRewrite(spark, root, v4))
    assert(VersionedTable.manifestDirs(spark, root, v4).size == 1)
    assert(stats.filesAfter == 1 && stats.filesBefore > 1 && stats.rows == 7L)
    assert(idsAt(root) == Set(1, 2, 3, 5, 7, 8, 9), "content unchanged")
    assert(idsAt(root, Some(v3)) == idsAt(root, Some(v4)), "rewrite only")
    // a feed across the optimize delivers later appends once, no
    // re-delivery of the rewritten rows
    val v5 = VersionedTable.commit(spark, root, df(4), overwrite = false)
    assert(VersionedTable.readChanges(spark, root, v1, v5)
      .collect().map(_.getInt(0)).toSet == Set(7, 3, 8, 2, 4).map(identity))
    // OPTIMIZE is maintenance: on a concurrency loss it aborts and
    // reclaims its orphan, exactly like compact
    val lost = VersionedTable.optimize(spark, root, Seq("id"), 1L << 30,
      raceHook = () => {
        VersionedTable.commit(spark, root, df(6), overwrite = false); ()
      })
    assert(lost.isEmpty, "losing optimize must abort, not retry")
    assertNoOrphans(root)
    // z-order flavor: two clustering columns, content still unchanged
    import spark.implicits._
    val zroot = freshRoot()
    VersionedTable.commit(spark, zroot,
      Seq((1, 4), (3, 2), (2, 9)).toDF("x", "y"), overwrite = true)
    VersionedTable.commit(spark, zroot,
      Seq((9, 1), (4, 4)).toDF("x", "y"), overwrite = false)
    val (zv, zstats) = VersionedTable
      .optimize(spark, zroot, Seq("x", "y"), 1L << 30)
      .getOrElse(fail("z-order optimize must publish"))
    assert(zstats.filesAfter == 1 && zstats.rows == 5L)
    assert(VersionedTable.readAt(spark, zroot, Some(zv))
      .as[(Int, Int)].collect().toSet ==
      Set((1, 4), (3, 2), (2, 9), (9, 1), (4, 4)))
  }

  test("partition-scoped optimize rewrites one partition's leaves, carries the rest") {
    import spark.implicits._
    val root = freshRoot()
    def batch(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "g", "v")
    // two partition-routed appends: each g lands one leaf per generation
    // (createIfAbsent routes the FIRST commit too — a property set via
    // commit meta only takes effect from the next commit on)
    require(VersionedTable.createIfAbsent(spark, root, batch(1, 30),
      Map("partition" -> "g", "key" -> "k")))
    VersionedTable.commit(spark, root, batch(31, 60), overwrite = false)
    // outstanding DV on keys spanning partitions — scoped optimize must
    // keep the headers AND physically drop tombstoned rows it rewrites
    VersionedTable.deleteWhereMor(spark, root, col("k") <= 4, "k")
    val before = VersionedTable.readAt(spark, root)
      .as[(Long, Int, Long)].collect().toSet
    val dirsBefore = VersionedTable.manifestDirs(spark, root, 3L)
    val carriedExpected = dirsBefore.filterNot(_.contains("__p_g=1"))

    val (v, rewritten, carried, st) = VersionedTable
      .optimizePartition(spark, root, "g=1", Seq("v"), 1L << 30)
      .getOrElse(fail("quiet scoped optimize must publish"))
    assert(rewritten == 2 && st.filesBefore >= 2,
      "both generations' g=1 leaves rewrite")
    assert(carried == carriedExpected.size)
    val dirsAfter = VersionedTable.manifestDirs(spark, root, v)
    assert(carriedExpected.forall(dirsAfter.contains),
      "non-matching leaves carry verbatim")
    assert(dirsAfter.count(_.contains("__p_g=1")) == 1,
      "the partition's leaves collapse into one clustered leaf")
    // content identical (DV semantics preserved: k<=4 stays deleted)
    assert(VersionedTable.readAt(spark, root, Some(v))
      .as[(Long, Int, Long)].collect().toSet == before)
    // the rewritten slice materialized its tombstones physically
    assert(VersionedTable.hasDeletionVectors(spark, root),
      "dv headers still guard the carried generations")
    // the feed skips the rewrite (content unchanged)
    val later = VersionedTable.commit(spark, root,
      Seq((100L, 1, 1000L)).toDF("k", "g", "v"), overwrite = false)
    assert(VersionedTable.readChanges(spark, root, 3L, later)
      .as[(Long, Int, Long)].collect().toSet == Set((100L, 1, 1000L)))
    // unknown token: no-op at the current version
    val noop = VersionedTable.optimizePartition(spark, root, "g=9",
      Seq("v"), 1L << 30).get
    assert(noop._1 == later && noop._2 == 0)
    // refusal: not a partition field
    intercept[IllegalArgumentException](VersionedTable.optimizePartition(
      spark, root, "v=1", Seq("k"), 1L << 30))
    // concurrency loss aborts and reclaims, like optimize/compact
    val lost = VersionedTable.optimizePartition(spark, root, "g=1",
      Seq("v"), 1L << 30, raceHook = () => {
        VersionedTable.commit(spark, root,
          Seq((101L, 2, 1010L)).toDF("k", "g", "v"), overwrite = false); ()
      })
    assert(lost.isEmpty, "losing scoped optimize must abort, not retry")
    assertNoOrphansDeep(root)
  }

  test("schema evolution: generations align by name, missing columns read as null") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    val v2 = VersionedTable.commit(spark, root,
      Seq((3, "x")).toDF("id", "tag"), overwrite = false)
    val snap = VersionedTable.readAt(spark, root)
    assert(snap.columns.toSeq == Seq("id", "tag"))
    assert(snap.collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSet ==
      Set(1 -> None, 2 -> None, 3 -> Some("x")),
      "old rows read the new column as NULL; new rows keep their values")
    // the old snapshot keeps its OWN narrower schema — widening is not
    // retroactive
    assert(VersionedTable.readAt(spark, root, Some(1L)).columns.toSeq == Seq("id"))
    // the feed delivers the widened generation with its full schema
    assert(VersionedTable.readChanges(spark, root, 1L, v2)
      .columns.toSeq == Seq("id", "tag"))
    // compaction of a drifted table unifies to the widened schema
    val v3 = VersionedTable.compact(spark, root)
      .getOrElse(fail("compaction must publish"))
    assert(VersionedTable.readAt(spark, root, Some(v3))
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSet ==
      Set(1 -> None, 2 -> None, 3 -> Some("x")))
  }

  test("deleteWhere is copy-on-write erasure: vacuum completes it") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    VersionedTable.commit(spark, root, df(3, 4), overwrite = false)
    val vPre = VersionedTable.commit(spark, root, df(5), overwrite = false)
    val preDirs = VersionedTable.manifestDirs(spark, root, vPre).toSet
    // erase id=3: only the second generation holds a match
    val (vPost, nDeleted, touched, carried) =
      VersionedTable.deleteWhere(spark, root, col("id") === 3)
        .getOrElse(fail("quiet delete must publish"))
    assert(nDeleted == 1L && touched == 1 && carried == 2)
    assert(VersionedTable.manifestMeta(spark, root, vPost)
      .get("delete").contains("true"), "erasure events are auditable")
    assert(VersionedTable.manifestDirs(spark, root, vPost).toSet
      .intersect(preDirs).size == 2, "untouched generations carried verbatim")
    assert(idsAt(root) == Set(1, 2, 4, 5))
    assert(idsAt(root, Some(vPre)) == Set(1, 2, 3, 4, 5),
      "time travel still reads the deleted row — erasure needs vacuum")
    // a predicate matching nothing is a no-op at the SAME version
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 99)
      .contains((vPost, 0L, 0, 3)))
    // feeds cannot express row removal: refuse to span the delete
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, root, vPre, vPost))
    // losing a race aborts and reclaims the orphan, like merge/compact
    val lost = VersionedTable.deleteWhere(spark, root, col("id") === 4,
      raceHook = () => {
        VersionedTable.commit(spark, root, df(6), overwrite = false); ()
      })
    assert(lost.isEmpty)
    assertNoOrphans(root)
    // COMPLETING the erasure: vacuum to one retained version destroys
    // every generation that still held the deleted row
    VersionedTable.vacuum(spark, root, keepVersions = 1, force = true)
    assert(VersionedTable.versions(spark, root).size == 1)
    assertNoOrphans(root)
    assert(idsAt(root) == Set(1, 2, 4, 5, 6))
  }

  test("data skipping: manifest stats prune generations, never correctness") {
    import spark.implicits._
    val root = freshRoot()
    def gen(ids: Int*) = ids.toDF("id")
    VersionedTable.commit(spark, root, gen(1, 5), overwrite = true,
      statsCol = Some("id"))
    VersionedTable.commit(spark, root, gen(10, 19), overwrite = false,
      statsCol = Some("id"))
    // a generation committed WITHOUT stats must always be scanned
    val v3 = VersionedTable.commit(spark, root, gen(100), overwrite = false)
    def filesOf(d: org.apache.spark.sql.DataFrame) = d.inputFiles.toSet
    // [10,19] overlaps only gen2; gen3 (no stats) is kept conservatively
    val (pruned, read, total) =
      VersionedTable.readAtPruned(spark, root, None, Seq(("id", 12L, 15L)))
    assert(read == 2 && total == 3)
    // generation-level keeps gen2 ([10,19] intersects [12,15]), but the
    // per-FILE records (r18) prove each of its one-row files is outside
    // the window — the pruned frame carries only the no-stats gen's rows
    assert(pruned.collect().map(_.getInt(0)).toSet == Set(100))
    // the skipped generation's files are genuinely not in the scan
    val allFiles = filesOf(VersionedTable.readAt(spark, root))
    assert(filesOf(pruned).subsetOf(allFiles) && filesOf(pruned) != allFiles)
    // stats headers carry forward across appends: gen1's bounds are
    // still usable at v3 even though they were recorded at v1
    val (one, r1, _) = VersionedTable.readAtPruned(spark, root, Some(v3), Seq(("id", 1L, 5L)))
    assert(r1 == 2, "gen1 (stats hit) + gen3 (no stats)")
    assert(one.collect().map(_.getInt(0)).toSet == Set(1, 5, 100))
    // a window no stats-carrying generation intersects reads only the
    // conservative no-stats generation
    val (none, r0, _) = VersionedTable.readAtPruned(spark, root, None, Seq(("id", 50L, 60L)))
    assert(r0 == 1 && none.collect().map(_.getInt(0)).toSet == Set(100))
    // stats for an UNRECORDED column prune nothing
    assert(VersionedTable.readAtPruned(spark, root, None, Seq(("nope", 0L, 0L)))._2 == 3)
    // an overwrite drops every older generation's stats with the dirs
    val v4 = VersionedTable.commit(spark, root, gen(7), overwrite = true,
      statsCol = Some("id"))
    val meta4 = VersionedTable.manifestMeta(spark, root, v4)
    assert(meta4.keys.count(_.startsWith("stats:")) == 1)
    val (_, r4, t4) = VersionedTable.readAtPruned(spark, root, None, Seq(("id", 7L, 7L)))
    assert(r4 == 1 && t4 == 1)
  }

  test("data skipping survives maintenance: merge/delete carry stats, compact re-records") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, Int)*) = rows.toDF("id", "grp")
    VersionedTable.commit(spark, root, kv(1 -> 10, 2 -> 10), overwrite = true,
      statsCol = Some("id"))
    VersionedTable.commit(spark, root, kv(20 -> 11, 25 -> 11), overwrite = false,
      statsCol = Some("id"))
    VersionedTable.commit(spark, root, kv(90 -> 12), overwrite = false,
      statsCol = Some("id"))
    // merge touches only the id∈[90] generation; the two carried
    // generations must KEEP their recorded bounds
    VersionedTable.mergeInto(spark, root, kv(90 -> 13, 95 -> 13), "id",
      statsCol = Some("id"))
      .getOrElse(fail("merge must publish"))
    val (m, rm, tm) = VersionedTable.readAtPruned(spark, root, None, Seq(("id", 20L, 25L)))
    assert(rm == 1 && tm == 3, "carried stats still prune after a merge")
    assert(m.collect().map(_.getInt(0)).toSet == Set(20, 25))
    // the merged generation's own re-recorded bounds prune too
    assert(VersionedTable.readAtPruned(spark, root, None, Seq(("id", 90L, 99L)))._2 == 1)
    // delete from the low generation: untouched stats carried again
    VersionedTable.deleteWhere(spark, root, col("id") === 1,
      statsCol = Some("id")).getOrElse(fail("delete must publish"))
    assert(VersionedTable.readAtPruned(spark, root, None, Seq(("id", 20L, 25L)))._2 == 1)
    // compaction replaces every generation; statsCol re-records bounds
    // for the single compacted generation so skipping keeps working for
    // post-compaction appends
    VersionedTable.compact(spark, root, statsCol = Some("id"))
      .getOrElse(fail("compact must publish"))
    VersionedTable.commit(spark, root, kv(500 -> 14), overwrite = false,
      statsCol = Some("id"))
    val (hot, rh, th) = VersionedTable.readAtPruned(spark, root, None, Seq(("id", 400L, 600L)))
    assert(rh == 1 && th == 2,
      "a recent-window read skips the compacted cold generation")
    assert(hot.collect().map(_.getInt(0)).toSet == Set(500))
  }

  test("manifest parsing: headerless, foreign-comment, and malformed header lines") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    // a plain commit's metadata: the in-commit timestamp stamp plus the
    // per-file record of its one generation (r18)
    val m1 = VersionedTable.manifestMeta(spark, root, 1L).keySet
    assert(m1.filterNot(_.startsWith("files:")) == Set("ts"))
    assert(m1.exists(_.startsWith("files:")), "commits record their files")
    assert(!VersionedTable.isRewrite(spark, root, 1L))
    // hand-write a v2 manifest the way a foreign tool or future writer
    // might: valid k=v headers mixed with bare comments and blank lines
    val gen = VersionedTable.manifestDirs(spark, root, 1L).head
    Files.write(java.nio.file.Paths.get(root, "_log", "2.commit"),
      Seq("#rewrite=true", "#free-form comment", "#orphankey", "", gen)
        .mkString("\n").getBytes("UTF-8"))
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    assert(VersionedTable.manifestDirs(spark, root, 2L) == Seq(gen),
      "headers and blanks never parse as data directories")
    val meta = VersionedTable.manifestMeta(spark, root, 2L)
    assert(meta == Map("rewrite" -> "true"),
      "a # line without '=' is a comment, not a k=v header")
    assert(VersionedTable.isRewrite(spark, root, 2L))
    assert(idsAt(root, Some(2L)) == Set(1), "the manifest still reads")
  }

  test("vacuum trims history and reclaims only provably dead generations") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    VersionedTable.commit(spark, root, df(2), overwrite = false)
    VersionedTable.commit(spark, root, df(9), overwrite = true)
    df(42).write.parquet(s"$root/data/v-orphaned") // in-flight lookalike
    val (gens, mans) = VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(mans == 2, "v1 and v2 manifests trimmed")
    assert(gens == 2, "both dropped-history generations reclaimed")
    assert(VersionedTable.versions(spark, root) == Seq(3L))
    assert(idsAt(root) == Set(9), "retained snapshot intact after vacuum")
    // the never-referenced orphan survives a safe vacuum: it could be a
    // concurrent writer's not-yet-published generation
    assert(new java.io.File(s"$root/data/v-orphaned").exists)
    val (g2, m2) = VersionedTable.vacuum(spark, root, keepVersions = 1, force = true)
    assert(g2 == 1 && m2 == 0)
    assert(!new java.io.File(s"$root/data/v-orphaned").exists)
    assert(idsAt(root) == Set(9), "force vacuum never touches referenced data")
  }

  test("restore publishes a rollback commit: no data movement, history preserved") {
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    val v2 = VersionedTable.commit(spark, root, df(3), overwrite = false)
    val v3 = VersionedTable.commit(spark, root, df(9), overwrite = false)
    val v4 = VersionedTable.restore(spark, root, v1)
      .getOrElse(fail("quiet restore must publish"))
    assert(v4 == 4L, "restore is a NEW commit, not a log rewind")
    assert(idsAt(root) == Set(1, 2), "the tip is the restored state")
    assert(idsAt(root, Some(v3)) == Set(1, 2, 3, 9),
      "the rolled-back versions still time travel")
    assert(VersionedTable.manifestMeta(spark, root, v4)
      .get("restore").contains("1"), "rollbacks are auditable commits")
    assert(VersionedTable.manifestDirs(spark, root, v4) ==
      VersionedTable.manifestDirs(spark, root, v1),
      "the restored manifest references v1's generations — nothing copied")
    // pre-restore feeds still replay; feeds across the restore refuse
    // (it dropped generations — the overwrite rule)
    assert(VersionedTable.readChanges(spark, root, v1, v2)
      .collect().map(_.getInt(0)).toSet == Set(3))
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, root, v3, v4))
    // reversible: restore FORWARD to the pre-rollback tip
    val v5 = VersionedTable.restore(spark, root, v3)
      .getOrElse(fail("forward restore must publish"))
    assert(idsAt(root, Some(v5)) == Set(1, 2, 3, 9))
    // restoring to the current tip is a no-op at the same version
    assert(VersionedTable.restore(spark, root, v5).contains(v5))
    assert(VersionedTable.versions(spark, root) == (1L to 5L))
    // a restore is data-changing: on a concurrency loss it returns None
    // (retrying later could discard the concurrent writer's commit)
    val lost = VersionedTable.restore(spark, root, v1, raceHook = () => {
      VersionedTable.commit(spark, root, df(7), overwrite = false); ()
    })
    assert(lost.isEmpty, "losing restore must abort, not retry")
    assert(idsAt(root) == Set(1, 2, 3, 9, 7), "the concurrent append survived")
    assertNoOrphans(root)
    intercept[IllegalArgumentException](
      VersionedTable.restore(spark, root, 99L))
  }

  test("deletion vectors: merge-on-read delete with key-tombstone semantics") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    VersionedTable.commit(spark, root, df(3, 4), overwrite = false)
    val v3 = VersionedTable.commit(spark, root, df(5), overwrite = false)
    val preDirs = VersionedTable.manifestDirs(spark, root, v3)
    val (v4, nKeys) =
      VersionedTable.deleteWhereMor(spark, root, col("id") % 2 === 1, "id")
        .getOrElse(fail("quiet MoR delete must publish"))
    assert(nKeys == 3L, "three odd keys tombstoned")
    assert(idsAt(root) == Set(2, 4), "every read applies the tombstones")
    assert(idsAt(root, Some(v3)) == Set(1, 2, 3, 4, 5),
      "time travel still reads pre-delete rows")
    assert(VersionedTable.manifestDirs(spark, root, v4) == preDirs,
      "ZERO data generations rewritten — the merge-on-read economics")
    assert(VersionedTable.manifestMeta(spark, root, v4)
      .get("mor_delete").contains("true"))
    // row removal is inexpressible in a generation-level feed
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, root, v3, v4))
    // a streaming append CARRIES the dv headers (dropping one would
    // resurrect deleted rows) — and the tombstone is key-wide: the
    // re-appended id=3 stays hidden until the DVs are materialized
    val (v5, landed) =
      VersionedTable.idempotentCommit(spark, root, df(3, 6), "app", 0L)
    assert(landed)
    assert(VersionedTable.manifestMeta(spark, root, v5)
      .keys.count(_.startsWith("dv:")) == 1, "streaming commit carried the DV")
    assert(idsAt(root) == Set(2, 4, 6), "tombstoned key hidden even re-appended")
    // the feed across the append applies the tombstones exactly like the
    // snapshot — feed + base must reconstruct readAt
    assert(VersionedTable.readChanges(spark, root, v4, v5)
      .collect().map(_.getInt(0)).toSet == Set(6))
    // copy-on-write ops over outstanding tombstones FOLD them instead of
    // refusing — pinned by the dedicated fold-in test below
    // a predicate matching nothing — including only already-tombstoned
    // rows — is a no-op at the SAME version
    assert(VersionedTable.deleteWhereMor(spark, root, col("id") === 3, "id")
      .contains((v5, 0L)))
    // tombstones accumulate across MoR deletes
    val (v6, n6) =
      VersionedTable.deleteWhereMor(spark, root, col("id") === 2, "id")
        .getOrElse(fail("second MoR delete must publish"))
    assert(n6 == 1L && idsAt(root) == Set(4, 6))
    assert(VersionedTable.manifestMeta(spark, root, v6)
      .keys.count(_.startsWith("dv:")) == 2)
    // vacuum never reclaims a live DV key list (referenced via headers)
    VersionedTable.vacuum(spark, root, keepVersions = 1, force = true)
    assert(idsAt(root) == Set(4, 6), "tombstones survive vacuum")
    assertNoOrphans(root)
    // compaction MATERIALIZES the tombstones: reads through the DVs,
    // writes survivors, clears the headers
    val v7 = VersionedTable.compact(spark, root)
      .getOrElse(fail("compaction over DVs must publish"))
    assert(VersionedTable.manifestDirs(spark, root, v7).size == 1)
    assert(VersionedTable.manifestMeta(spark, root, v7)
      .keys.count(_.startsWith("dv:")) == 0, "materialized: no dv headers")
    assert(idsAt(root) == Set(4, 6), "content unchanged by materialization")
    // with no outstanding DVs, copy-on-write ops work again
    assert(VersionedTable.deleteWhere(spark, root, col("id") === 4).nonEmpty)
    assert(idsAt(root) == Set(6))
    // losing the publish race aborts and reclaims the orphan key list
    val lost = VersionedTable.deleteWhereMor(spark, root, col("id") === 6, "id",
      raceHook = () => {
        VersionedTable.commit(spark, root, df(8), overwrite = false); ()
      })
    assert(lost.isEmpty, "losing MoR delete must abort, not retry")
    assert(idsAt(root) == Set(6, 8))
    assertNoOrphans(root)
  }

  test("delete semantics under NULLs: NULL-predicate rows survive, NULL keys refuse MoR") {
    import spark.implicits._
    val root = freshRoot()
    // one generation holding both a matching row and a NULL-keyed row —
    // the layout where a non-null-safe rewrite would silently lose the
    // NULL row (NULL rows in untouched generations would survive, making
    // the loss layout-dependent)
    VersionedTable.commit(spark, root,
      Seq[Option[Int]](Some(1), Some(2), None).toDF("id"), overwrite = true)
    val (_, nDeleted, _, _) =
      VersionedTable.deleteWhere(spark, root, col("id") === 1)
        .getOrElse(fail("delete must publish"))
    assert(nDeleted == 1L)
    assert(VersionedTable.readAt(spark, root)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet
      == Set(Some(2), None),
      "SQL DELETE semantics: a NULL-evaluating predicate KEEPS the row")
    // a NULL key cannot be tombstoned (the equality anti-join never
    // matches NULL): MoR delete must refuse loudly, reclaim its orphan,
    // and leave the table untouched — never report a deletion that
    // doesn't take effect
    intercept[IllegalArgumentException](
      VersionedTable.deleteWhereMor(spark, root, col("id").isNull, "id"))
    assert(VersionedTable.readAt(spark, root).count() == 2)
    assertNoOrphans(root)
    // the same rows ARE erasable copy-on-write
    val (_, n2, _, _) =
      VersionedTable.deleteWhere(spark, root, col("id").isNull)
        .getOrElse(fail("null-predicate delete must publish"))
    assert(n2 == 1L)
    assert(VersionedTable.readAt(spark, root).collect()
      .map(_.getInt(0)).toSet == Set(2))
  }

  test("createIfAbsent publishes only at version 1 — creation is first-writer-wins") {
    val root = freshRoot()
    assert(VersionedTable.createIfAbsent(spark, root, df(1, 2)))
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    // a second create must NOT clobber (commit(overwrite) would have
    // retried the publish loss into an overwrite at v2)
    assert(!VersionedTable.createIfAbsent(spark, root, df(9)))
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    assert(idsAt(root) == Set(1, 2), "the winner's table is untouched")
    assertNoOrphans(root)
  }

  test("compact materializes DVs even on a single-generation table") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    VersionedTable.deleteWhereMor(spark, root, col("id") === 1, "id")
      .getOrElse(fail("MoR delete must publish"))
    // one generation + outstanding tombstones: still work to do
    val v3 = VersionedTable.compact(spark, root)
      .getOrElse(fail("compaction must materialize the DV"))
    assert(idsAt(root, Some(v3)) == Set(2))
    // one generation, no tombstones: now genuinely nothing to compact
    assert(VersionedTable.compact(spark, root).isEmpty)
  }

  test("concurrent writers keep history linear (optimistic publish)") {
    val root = freshRoot()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = (1 to 6).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            VersionedTable.commit(spark, root, df(100 + i), overwrite = false)
        })
      }
      val versions = tasks.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // every commit got a DISTINCT version and the log is the dense range
      assert(versions.toSet.size == 6, s"duplicate versions: $versions")
      assert(VersionedTable.versions(spark, root) == (1L to 6L))
      // append-only: the final snapshot holds every writer's rows exactly once
      val last = VersionedTable.readAt(spark, root)
      assert(last.groupBy(col("id")).count().filter(col("count") > 1).count() == 0)
      assert(idsAt(root) == (1 to 6).map(100 + _).toSet)
    } finally pool.shutdownNow()
  }

  test("appends racing merges on two real threads: dense history, no lost commit") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, Int)*) = rows.toDF("id", "v")
    VersionedTable.commit(spark, root, kv(1 -> 0, 2 -> 0),
      overwrite = true)                                            // v1
    val rounds = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // writer A: appends retry past contention internally (append
      // intent is state-independent); writer B: merges ABORT on loss by
      // design, so the caller re-runs against the new snapshot — exactly
      // the documented production loop, here under genuine interleaving
      val appender = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to rounds).foreach(i =>
          VersionedTable.commit(spark, root, kv((10 + i) -> i),
            overwrite = false))
      })
      val merger = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          var losses = 0
          (1 to rounds).foreach { i =>
            var done = false
            while (!done) {
              if (VersionedTable.mergeInto(spark, root,
                  kv(1 -> i), "id").isDefined) done = true
              else losses += 1
            }
          }
          losses
        }
      })
      appender.get(180, java.util.concurrent.TimeUnit.SECONDS)
      val losses = merger.get(180, java.util.concurrent.TimeUnit.SECONDS)
      // dense linear history: every SUCCESSFUL commit took exactly one
      // version — losses published nothing
      val vs = VersionedTable.versions(spark, root)
      assert(vs == (1L to (1 + 2 * rounds)),
        s"history must be dense 1..11 (merge losses: $losses): $vs")
      // no lost commit: every append's row survived the racing merges,
      // and the merge key holds the LAST merge's value
      val rows = VersionedTable.readAt(spark, root).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(rows == Map(1 -> rounds, 2 -> 0) ++
        (1 to rounds).map(i => (10 + i) -> i).toMap, s"losses=$losses")
      // every aborted merge reclaimed its orphan generation
      assertNoOrphans(root)
    } finally pool.shutdownNow()
  }

  test("table properties persist through every commit kind and edit as metadata-only commits") {
    val root = freshRoot()
    assert(VersionedTable.createIfAbsent(spark, root, df(1, 2),
      Map("key" -> "id", "team" -> "graft")))
    def props() = VersionedTable.tableProperties(spark, root)
    assert(props() == Map("key" -> "id", "team" -> "graft"))
    // the full tour: append, overwrite, rewrite, restore — properties
    // describe the TABLE, so every commit kind must carry them
    VersionedTable.commit(spark, root, df(3), overwrite = false)
    assert(props() == Map("key" -> "id", "team" -> "graft"), "append carries")
    VersionedTable.commit(spark, root, df(9), overwrite = true)
    assert(props() == Map("key" -> "id", "team" -> "graft"), "overwrite carries")
    VersionedTable.commit(spark, root, df(10), overwrite = false)
    VersionedTable.compact(spark, root)
      .getOrElse(fail("compact must publish"))
    assert(props() == Map("key" -> "id", "team" -> "graft"), "rewrite carries")
    val vRestore = VersionedTable.restore(spark, root, 1L)
      .getOrElse(fail("restore must publish"))
    assert(props() == Map("key" -> "id", "team" -> "graft"), "restore carries")
    // SET/UNSET is a metadata-only commit: no generation written, kind
    // classified, change feed across it is empty
    val before = VersionedTable.manifestDirs(spark, root, vRestore)
    val vProps = VersionedTable.setProperties(spark, root,
      Map("team" -> "corpus"), unset = Seq("key"))
    assert(props() == Map("team" -> "corpus"))
    assert(VersionedTable.manifestDirs(spark, root, vProps) == before,
      "metadata-only: directories unchanged")
    assert(VersionedTable.commitKind(spark, root, vProps) == "set_properties")
    assert(VersionedTable.readChanges(spark, root, vRestore, vProps).count() == 0)
    // time travel sees the properties AS OF that version
    assert(VersionedTable.tableProperties(spark, root, Some(vRestore)) ==
      Map("key" -> "id", "team" -> "graft"))
    // the manifest line format is the only constraint — enforce it loudly
    intercept[IllegalArgumentException](
      VersionedTable.setProperties(spark, root, Map("a=b" -> "x")))
    intercept[IllegalArgumentException](
      VersionedTable.setProperties(spark, root, Map("a" -> "x\ny")))
  }

  test("compactSmall coalesces only the small-generation tail; DV headers survive") {
    import spark.implicits._
    val root = freshRoot()
    // one BULK generation (50k rows, well over the threshold) + a tail
    // of three micro-batch generations
    VersionedTable.commit(spark, root,
      (1 to 50000).toDF("id").repartition(1), overwrite = true)
    (100001 to 100003).foreach(i =>
      VersionedTable.commit(spark, root, Seq(i).toDF("id"),
        overwrite = false))
    val all = (1 to 50000).toSet ++ (100001 to 100003)
    val r = VersionedTable.compactSmall(spark, root, 20L * 1024)
    assert(r.exists { case (v, rewritten, kept) =>
      v == 5L && rewritten == 3 && kept == 1 })
    assert(VersionedTable.commitKind(spark, root, 5L) == "rewrite")
    assert(VersionedTable.manifestDirs(spark, root, 5L).size == 2,
      "bulk generation + one coalesced tail generation")
    // the bulk generation carried VERBATIM — same dir in both manifests
    assert(VersionedTable.manifestDirs(spark, root, 4L)
      .count(VersionedTable.manifestDirs(spark, root, 5L).contains) == 1)
    assert(idsAt(root) == all, "content identical across the rewrite")
    // a feed window across the rewrite delivers nothing for it
    assert(VersionedTable.readChanges(spark, root, 4L, 5L).count() == 0)
    // nothing left to coalesce: reported no-op at the tip
    assert(VersionedTable.compactSmall(spark, root, 20L * 1024)
      .contains((5L, 0, 2)))
    // with an outstanding tombstone (one key in the tail): the rewrite
    // materializes it physically but KEEPS the header — the key stays
    // tombstoned table-wide (a re-appended copy remains hidden)
    assert(VersionedTable.deleteWhereMor(spark, root,
      col("id") === 100001, "id").isDefined)                     // v6
    VersionedTable.commit(spark, root, Seq(100004).toDF("id"),
      overwrite = false)                                         // v7
    val r2 = VersionedTable.compactSmall(spark, root, 20L * 1024) // v8
    assert(r2.exists(_._2 >= 2))
    VersionedTable.commit(spark, root, Seq(100001).toDF("id"),
      overwrite = false)                                         // v9
    assert(idsAt(root) == all - 100001 + 100004,
      "tombstone stays key-wide after the partial rewrite")
  }

  test("CHECK constraints gate every content-adding path; NULL passes; UNSET lifts") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, java.lang.Integer)*) = rows.toDF("id", "v")
    // creation with a violating first load: nothing lands, orphan reclaimed
    intercept[IllegalArgumentException](VersionedTable.createIfAbsent(spark,
      root, kv(1 -> 10, 2 -> -5), Map("constraint.pos" -> "v > 0")))
    assert(VersionedTable.versions(spark, root).isEmpty)
    assert(VersionedTable.createIfAbsent(spark, root, kv(1 -> 10),
      Map("constraint.pos" -> "v > 0", "key" -> "id")))            // v1
    // append: one bad row aborts the whole batch, version unchanged
    intercept[IllegalArgumentException](VersionedTable.commit(spark, root,
      kv(2 -> 20, 3 -> -1), overwrite = false))
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    // SQL CHECK three-valued logic: NULL is not a violation
    VersionedTable.commit(spark, root, kv(2 -> null), overwrite = false) // v2
    // the streaming commit path enforces too
    intercept[IllegalArgumentException](VersionedTable.idempotentCommit(
      spark, root, kv(9 -> -9), "cons_app", 0L))
    // ...and the row-level delta path (merge inserting a violating row)
    intercept[IllegalArgumentException](
      VersionedTable.mergeInto(spark, root, kv(4 -> -4), "id"))
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    // adding a constraint validates EXISTING data (id=2 has NULL v — it
    // passes; a constraint the table violates is refused)
    VersionedTable.setProperties(spark, root,
      Map("constraint.small_id" -> "id < 100"))                    // v3
    intercept[IllegalArgumentException](VersionedTable.setProperties(spark,
      root, Map("constraint.no_nulls" -> "v IS NOT NULL")))
    // a bad expression can never pass silently
    intercept[IllegalArgumentException](VersionedTable.setProperties(spark,
      root, Map("constraint.typo" -> "no_such_column > 0")))
    // removal paths are untouched by constraints (the key-list
    // generation is not table-shaped and must not be validated)
    assert(VersionedTable.deleteWhereMor(spark, root,
      col("id") === 2, "id").isDefined)                            // v4
    // UNSET lifts enforcement
    VersionedTable.setProperties(spark, root, Map.empty,
      unset = Seq("constraint.pos"))                               // v5
    VersionedTable.commit(spark, root, kv(5 -> -50), overwrite = false) // v6
    assert(VersionedTable.readAt(spark, root).collect()
      .map(r => (r.getInt(0), Option(r.get(1)))).toSet ==
      Set(1 -> Some(10), 5 -> Some(-50)))
  }

  test("restore refuses to resurrect data that violates a constraint added later") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, Int)*) = rows.toDF("id", "v")
    VersionedTable.commit(spark, root, kv(1 -> 10, 2 -> -5),
      overwrite = true)                                            // v1
    // purge the violating row, THEN declare the constraint: the tip is
    // clean, so the declaration validates
    assert(VersionedTable.deleteWhere(spark, root,
      col("v") < 0).isDefined)                                     // v2
    VersionedTable.setProperties(spark, root,
      Map("constraint.pos" -> "v > 0"))                            // v3
    // restoring to v1 would resurrect id=2 (v=-5) UNDER the carried
    // constraint — the "a reader can trust any declared constraint
    // unconditionally" invariant breaks silently; refuse instead
    val e = intercept[IllegalArgumentException](
      VersionedTable.restore(spark, root, 1L))
    assert(e.getMessage.contains("pos"))
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L),
      "a refused restore publishes nothing")
    // UNSET forces it through (the user explicitly lifts the promise)
    VersionedTable.setProperties(spark, root, Map.empty,
      unset = Seq("constraint.pos"))                               // v4
    assert(VersionedTable.restore(spark, root, 1L).contains(5L))
    assert(VersionedTable.readAt(spark, root).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet == Set(1 -> 10, 2 -> -5))
    // restoring to a CLEAN snapshot under a live constraint still works
    val root2 = freshRoot()
    VersionedTable.commit(spark, root2, kv(1 -> 10), overwrite = true) // v1
    VersionedTable.commit(spark, root2, kv(2 -> 20), overwrite = false) // v2
    VersionedTable.setProperties(spark, root2,
      Map("constraint.pos" -> "v > 0"))                            // v3
    assert(VersionedTable.restore(spark, root2, 1L).contains(4L))
  }

  test("adding a constraint re-validates when a commit lands between check and publish") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, Int)*) = rows.toDF("id", "v")
    VersionedTable.commit(spark, root, kv(1 -> 10), overwrite = true) // v1
    // the seam fires after the whole-table validation (clean at v1) and
    // before the publish: a concurrent append lands a VIOLATING row that
    // the v1-scoped check never saw (the TOCTOU window)
    val e = intercept[IllegalArgumentException](
      VersionedTable.setProperties(spark, root,
        Map("constraint.pos" -> "v > 0"),
        raceHook = () => { VersionedTable.commit(spark, root,
          kv(2 -> -7), overwrite = false); () }))
    assert(e.getMessage.contains("pos"))
    // the racing append is the tip; the constraint was never declared
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    assert(!VersionedTable.tableProperties(spark, root)
      .contains("constraint.pos"))
    // the benign interleaving still lands: a CLEAN concurrent commit
    // costs one re-validation, then the property publishes
    val root2 = freshRoot()
    VersionedTable.commit(spark, root2, kv(1 -> 10), overwrite = true) // v1
    val v = VersionedTable.setProperties(spark, root2,
      Map("constraint.pos" -> "v > 0"),
      raceHook = () => { VersionedTable.commit(spark, root2,
        kv(2 -> 20), overwrite = false); () })
    assert(v == 3L, "retry past the clean concurrent commit")
    assert(VersionedTable.tableProperties(spark, root2)
      .get("constraint.pos").contains("v > 0"))
  }

  test("CDF replay invariant: folding tableChanges reconstructs every snapshot, random histories") {
    import spark.implicits._
    // fixed-seed randomized histories: the invariant must hold for ANY
    // mix of append / merge / CoW delete / MoR delete / compact /
    // property commits, not just the hand-picked scenarios
    val rnd = new scala.util.Random(13)
    // partitioned histories route every commit into __p_ leaf entries
    // and mix in dynamic partition overwrites; fold-over-DV merges and
    // deletes run WITHOUT the old forced compact, so the replay also
    // pins the tombstone-fold CDF semantics
    def kv(rows: Seq[(Int, Int)]) =
      rows.map { case (i, v) => (i, v, i % 3,
        java.sql.Date.valueOf(
          java.time.LocalDate.of(1995, 1, 1).plusDays(i % 5))) }
        .toDF("id", "v", "grp", "dt")
    // layouts: plain, identity, and the DERIVED transforms — the replay
    // invariant must hold when commits route through computed tokens
    // (days/bucket/months) exactly as it does for identity leaves
    Seq(None, Some("grp"), Some("days(dt)"), Some("bucket(4,id)"),
      None, Some("months(dt),grp")).zipWithIndex.foreach { case (partSpec, h) =>
      val parted = partSpec.isDefined
      val root = freshRoot()
      var nextId = 1
      def freshRows(n: Int) = {
        val rows = (nextId until nextId + n).map(i => i -> rnd.nextInt(1000))
        nextId += n
        rows
      }
      assert(VersionedTable.createIfAbsent(spark, root, kv(freshRows(5)),
        Map("key" -> "id") ++
          partSpec.map(sp => Map("partition" -> sp)).getOrElse(Map.empty)))
      (1 to 7).foreach { _ =>
        def liveIds = VersionedTable.readAt(spark, root)
          .select("id").collect().map(_.getInt(0)).toSeq
        rnd.nextInt(6) match {
          case 0 => VersionedTable.commit(spark, root,
            kv(freshRows(1 + rnd.nextInt(4))), overwrite = false)
          case 1 => // merge: update a random live subset + fresh inserts
            // (FOLDS outstanding same-key tombstones when present)
            val upd = rnd.shuffle(liveIds).take(2)
              .map(i => i -> rnd.nextInt(1000))
            assert(VersionedTable.mergeInto(spark, root,
              kv(upd ++ freshRows(1)), "id").isDefined)
          case 2 => assert(VersionedTable.deleteWhere(spark, root,
            col("v") % 3 === rnd.nextInt(3)).isDefined)
          case 3 =>
            // MoR delete; compact only SOMETIMES — later CoW ops must
            // handle the outstanding tombstones by folding
            val victims = rnd.shuffle(liveIds).take(1 + rnd.nextInt(2))
            if (victims.nonEmpty)
              VersionedTable.deleteWhereMor(spark, root,
                col("id").isin(victims.map(Integer.valueOf): _*), "id")
            if (rnd.nextBoolean())
              VersionedTable.compact(spark, root) // None = already compact
          case 4 => VersionedTable.setProperties(spark, root,
            Map(s"note" -> s"r${rnd.nextInt(100)}"))
          case 5 if parted =>
            // dynamic partition overwrite needs a DV-free base
            VersionedTable.compact(spark, root)
            assert(VersionedTable.overwritePartitions(spark, root,
              kv(freshRows(1 + rnd.nextInt(3)))).isDefined)
          case _ => VersionedTable.commit(spark, root,
            kv(freshRows(1)), overwrite = false)
        }
      }
      // the invariant: for EVERY version, base-less CDF replay (signed
      // multiset fold) equals the snapshot read
      val vs = VersionedTable.versions(spark, root)
      vs.foreach { v =>
        val snap = VersionedTable.readAt(spark, root, Some(v))
          .groupBy("id", "v").count()
        val replay = VersionedTable.tableChanges(spark, root, 0L, v)
          .withColumn("sign", when(col("_change_type")
            .isin("insert", "update_postimage"), 1L).otherwise(-1L))
          .groupBy("id", "v").agg(sum("sign").as("count"))
          .filter(col("count") > 0)
        assert(snap.exceptAll(replay).isEmpty &&
            replay.exceptAll(snap).isEmpty,
          s"history $h (partition=$partSpec): CDF replay diverged from " +
            s"snapshot at v$v " +
            s"(kinds: ${vs.map(VersionedTable.commitKind(spark, root, _))})")
      }
    }
  }

  test("tableChanges reconstructs exact row-level history across commit kinds") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, Int)*) = rows.toDF("id", "v")
    assert(VersionedTable.createIfAbsent(spark, root, kv(1 -> 10, 2 -> 20),
      Map("key" -> "id")))                                         // v1
    VersionedTable.commit(spark, root, kv(3 -> 30), overwrite = false) // v2
    // generation-granular merge: id=2 updates, id=4 inserts; id=1 rides
    // the rewritten generation UNCHANGED and must cancel out of the diff
    assert(VersionedTable.mergeInto(spark, root,
      kv(2 -> 200, 4 -> 40), "id").isDefined)                      // v3
    assert(VersionedTable.compact(spark, root).isDefined)          // v4
    assert(VersionedTable.deleteWhereMor(spark, root,
      col("id") === 3, "id").isDefined)                            // v5
    def cdf(vFrom: Long, vTo: Long): Set[(String, Long, Int, Int)] =
      VersionedTable.tableChanges(spark, root, vFrom, vTo).collect()
        .map(r => (r.getAs[String]("_change_type"),
          r.getAs[Long]("_commit_version"),
          r.getAs[Int]("id"), r.getAs[Int]("v"))).toSet
    assert(cdf(0L, 5L) == Set(
      ("insert", 1L, 1, 10), ("insert", 1L, 2, 20),
      ("insert", 2L, 3, 30),
      ("update_preimage", 3L, 2, 20), ("update_postimage", 3L, 2, 200),
      ("insert", 3L, 4, 40),
      // v4 (compact) contributes nothing: layout only
      ("delete", 5L, 3, 30)))
    // windows slice exactly; a rewrite-only window is empty
    assert(cdf(2L, 3L) == Set(("update_preimage", 3L, 2, 20),
      ("update_postimage", 3L, 2, 200), ("insert", 3L, 4, 40)))
    assert(cdf(3L, 4L).isEmpty)
    // without a declared row id there is no sound pairing: the same
    // merge reports honest delete+insert instead of update pairs
    val root2 = freshRoot()
    VersionedTable.commit(spark, root2, kv(2 -> 20), overwrite = true)
    assert(VersionedTable.mergeInto(spark, root2, kv(2 -> 200), "id").isDefined)
    val unkeyed = VersionedTable.tableChanges(spark, root2, 0L, 2L)
      .collect().map(r => (r.getAs[String]("_change_type"),
        r.getAs[Int]("id"), r.getAs[Int]("v"))).toSet
    assert(unkeyed == Set(("insert", 2, 20), ("delete", 2, 20),
      ("insert", 2, 200)))
    // no row identity across an overwrite: refuse, never fabricate
    VersionedTable.commit(spark, root2, kv(9 -> 90), overwrite = true)
    intercept[IllegalArgumentException](
      VersionedTable.tableChanges(spark, root2, 0L, 3L))
  }

  test("addColumns widens the schema; feeds deliver it as an empty delta") {
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    val vAlter = VersionedTable.addColumns(spark, root,
      Seq(StructField("score", IntegerType)))
    assert(vAlter == 2L)
    assert(VersionedTable.commitKind(spark, root, vAlter) == "add_columns")
    // widened read: old rows NULL, old snapshot narrow
    val widened = VersionedTable.readAt(spark, root)
    assert(widened.columns.toSeq == Seq("id", "score"))
    assert(widened.filter(col("score").isNull).count() == 2)
    assert(VersionedTable.readAt(spark, root, Some(1L)).columns.toSeq
      == Seq("id"))
    // append-shaped: the change feed crosses the ALTER as an EMPTY delta
    // with the widened schema — incremental consumers keep flowing
    val feed = VersionedTable.readChanges(spark, root, 1L, vAlter)
    assert(feed.count() == 0 && feed.columns.toSeq == Seq("id", "score"))
    // the column is writable by the next append, and feeds deliver it
    import spark.implicits._
    val vIns = VersionedTable.commit(spark, root,
      Seq((3, 30)).toDF("id", "score"), overwrite = false)
    val delta = VersionedTable.readChanges(spark, root, vAlter, vIns)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(delta == Set(3 -> 30))
    // refusals: collision (case-insensitive), non-nullable, duplicates
    intercept[IllegalArgumentException](VersionedTable.addColumns(spark,
      root, Seq(StructField("SCORE", IntegerType))))
    intercept[IllegalArgumentException](VersionedTable.addColumns(spark,
      root, Seq(StructField("x", IntegerType, nullable = false))))
    intercept[IllegalArgumentException](VersionedTable.addColumns(spark,
      root, Seq(StructField("y", IntegerType), StructField("Y", IntegerType))))
  }

  test("row-level ops fold outstanding deletion vectors; large tombstone sets skip the broadcast") {
    import spark.implicits._
    def kv(rows: (Int, Int)*) = rows.toDF("id", "v")
    def visible(root: String): Set[(Int, Int)] =
      VersionedTable.readAt(spark, root).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
    def dvCount(root: String): Int =
      VersionedTable.manifestMeta(spark, root,
        VersionedTable.versions(spark, root).last)
        .keys.count(_.startsWith("dv:"))
    def build(): String = {
      val root = freshRoot()
      VersionedTable.commit(spark, root, kv(1 -> 10, 2 -> 20, 3 -> 30),
        overwrite = true)
      VersionedTable.commit(spark, root, kv(4 -> 40, 5 -> 50),
        overwrite = false)
      assert(VersionedTable.deleteWhereMor(spark, root,
        col("id").isin(2, 4), "id").exists(_._2 == 2L))
      root
    }
    val root = build()
    assert(visible(root) == Set(1 -> 10, 3 -> 30, 5 -> 50))
    // MERGE over outstanding tombstones: source keys (2 re-asserted, 6
    // new) become visible, key 4 stays deleted — the fold rewrites the
    // remaining tombstones as one fresh key list
    assert(VersionedTable.mergeInto(spark, root,
      kv(2 -> 22, 6 -> 60), "id").isDefined)
    assert(visible(root) ==
      Set(1 -> 10, 2 -> 22, 3 -> 30, 5 -> 50, 6 -> 60))
    assert(dvCount(root) == 1, "tombstones folded into one remainder list")
    // the surviving tombstone is still KEY-WIDE: a later append of key 4
    // stays hidden
    VersionedTable.commit(spark, root, kv(4 -> 44), overwrite = false)
    assert(!visible(root).exists(_._1 == 4))
    // equivalence: merge-over-DVs ≡ compact-then-merge (content-wise)
    val twin = build()
    assert(VersionedTable.compact(spark, twin).isDefined)
    assert(VersionedTable.mergeInto(spark, twin,
      kv(2 -> 22, 6 -> 60), "id").isDefined)
    VersionedTable.commit(spark, twin, kv(4 -> 44), overwrite = false)
    // identical content except the append: compaction materialized the
    // twin's key-4 tombstone, so ITS re-append is visible — exactly the
    // documented difference between folding and materializing
    assert(visible(twin) - (4 -> 44) == visible(root))
    // deleteWhere composes with outstanding DVs: detection and rewrite
    // run over the visible view; headers carry
    val Some((_, nDel, _, _)) =
      VersionedTable.deleteWhere(spark, root, col("v") === 50)
    assert(nDel == 1L && dvCount(root) == 1)
    assert(visible(root) == Set(1 -> 10, 2 -> 22, 3 -> 30, 6 -> 60))
    // applyRowDelta folds too: re-inserting the tombstoned key 4 clears
    // the last tombstone (empty remainder → no headers), and the stale
    // physical rows for key 4 died in the rewrite
    assert(VersionedTable.applyRowDelta(spark, root,
      kv(1 -> 10).select(col("id")), kv(4 -> 45), "id",
      kindHeader = "merge").isDefined)
    assert(dvCount(root) == 0, "all tombstones cleared or materialized")
    assert(visible(root) == Set(2 -> 22, 3 -> 30, 4 -> 45, 6 -> 60))
    // an aborting validation mid-statement must not leak the fold's
    // tombstone-remainder generation: declare a constraint, tombstone a
    // key, then merge a VIOLATING batch over the outstanding DV
    VersionedTable.setProperties(spark, root,
      Map("constraint.vpos" -> "v >= 0"))
    assert(VersionedTable.deleteWhereMor(spark, root,
      col("id") === 4, "id").isDefined)
    intercept[IllegalArgumentException](
      VersionedTable.mergeInto(spark, root, kv(4 -> -1), "id"))
    assertNoOrphans(root)
    VersionedTable.setProperties(spark, root, Map.empty,
      unset = Seq("constraint.vpos"))
    // a clean re-merge folds the tombstone away and restores the row
    assert(VersionedTable.mergeInto(spark, root, kv(4 -> 45), "id")
      .isDefined)
    assert(dvCount(root) == 0 &&
      visible(root) == Set(2 -> 22, 3 -> 30, 4 -> 45, 6 -> 60))
    // mixed key columns cannot be soundly subtracted — refuse loudly,
    // BEFORE anything is staged
    assert(VersionedTable.deleteWhereMor(spark, root,
      col("v") === 60, "v").isDefined)
    val e = intercept[IllegalArgumentException](
      VersionedTable.mergeInto(spark, root, kv(9 -> 90), "id"))
    assert(e.getMessage.contains("compact"))
    assertNoOrphans(root)
    // broadcast gate: with the threshold at 0 every tombstone set is
    // "too big" — the read plan anti-joins without a broadcast exchange
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "0")
      val plan = VersionedTable.readAt(spark, root)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"oversized DV list must not broadcast:\n$plan")
      assert(visible(root) == Set(2 -> 22, 3 -> 30, 4 -> 45))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("dynamic partition overwrite replaces exactly the batch's partitions") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, String, Int)*) = rows.toDF("id", "grp", "v")
    def kvN(rows: (Int, Option[String], Int)*) = rows.toDF("id", "grp", "v")
    def rows(v: Option[Long] = None): Set[(Int, Option[String], Int)] =
      VersionedTable.readAt(spark, root, v).collect()
        .map(r => (r.getInt(0), Option(r.getString(1)), r.getInt(2))).toSet
    def entriesAt(v: Long): Set[String] =
      VersionedTable.manifestDirs(spark, root, v).toSet
    assert(VersionedTable.createIfAbsent(spark, root,
      kv((1, "a", 10), (2, "b", 20), (3, "c", 30)),
      Map("partition" -> "grp")))                                  // v1
    VersionedTable.commit(spark, root, kv((4, "b", 40)),
      overwrite = false)                                           // v2
    // replace partition b, introduce partition d; a and c carried
    val Some((v3, replaced, carried)) = VersionedTable.overwritePartitions(
      spark, root, kv((9, "b", 90), (10, "d", 100)))
    assert(v3 == 3L && replaced == 2 && carried == 2,
      "two b-leaves replaced; the a and c leaves carried")
    assert(rows() == Set((1, Some("a"), 10), (3, Some("c"), 30),
      (9, Some("b"), 90), (10, Some("d"), 100)))
    // carried partitions are the SAME entries (no rewrite, no data move)
    val sameLeaves = entriesAt(2L).intersect(entriesAt(3L))
    assert(sameLeaves.exists(_.contains("__p_grp=a")) &&
      sameLeaves.exists(_.contains("__p_grp=c")), sameLeaves)
    // pre-replace snapshot intact; history classifies the commit
    assert(rows(Some(2L)) == Set((1, Some("a"), 10), (2, Some("b"), 20),
      (3, Some("c"), 30), (4, Some("b"), 40)))
    assert(VersionedTable.commitKind(spark, root, 3L) == "replace_partitions")
    // generation feeds refuse (dropped dirs); the row-level CDF diffs it
    intercept[Exception](VersionedTable.readChanges(spark, root, 2L, 3L))
    val changes = VersionedTable.tableChanges(spark, root, 2L, 3L)
      .collect().map(r => (r.getAs[Int]("id"),
        r.getAs[String]("_change_type"))).toSet
    assert(changes == Set(2 -> "delete", 4 -> "delete",
      9 -> "insert", 10 -> "insert"))
    // NULL partition replaces null-safely
    VersionedTable.commit(spark, root, kvN((5, None, 50)),
      overwrite = false)                                           // v4
    assert(VersionedTable.overwritePartitions(spark, root,
      kvN((6, None, 60))).exists(_._1 == 5L))                      // v5
    assert(rows().filter(_._2.isEmpty) == Set((6, None, 60)))
    // a batch missing the partition column and an unpartitioned table
    // refuse loudly; an EMPTY batch replaces nothing (the Spark/Delta
    // no-op — a re-load whose source is empty must not crash)
    intercept[IllegalArgumentException](VersionedTable.overwritePartitions(
      spark, root, Seq((7, 70)).toDF("id", "v")))
    val vNow = VersionedTable.versions(spark, root).last
    assert(VersionedTable.overwritePartitions(spark, root, kv())
      .exists(_._1 == vNow), "empty batch: no-op at the same version")
    val flat = freshRoot()
    VersionedTable.commit(spark, flat, kv((1, "a", 1)), overwrite = true)
    intercept[IllegalArgumentException](
      VersionedTable.overwritePartitions(spark, flat, kv((2, "b", 2))))
    // plain pre-partitioning rows die too: a narrow frame (no grp) lands
    // a PLAIN generation whose rows read grp = NULL — replacing the NULL
    // partition must kill them while the batch's rows land routed
    VersionedTable.commit(spark, root, Seq((7, 70)).toDF("id", "v"),
      overwrite = false)                                           // v6
    assert(rows().filter(_._2.isEmpty) ==
      Set((6, None, 60), (7, None, 70)))
    assert(VersionedTable.overwritePartitions(spark, root,
      kvN((8, None, 80))).isDefined)                               // v7
    assert(rows().filter(_._2.isEmpty) == Set((8, None, 80)))
    // a concurrent DISJOINT commit is not a logical conflict: the
    // replace rebases onto it and BOTH land (the Delta/Iceberg
    // partition-disjoint concurrency rule)
    val rebased = VersionedTable.overwritePartitions(spark, root,
      kv((11, "a", 110)),
      raceHook = () => { VersionedTable.commit(spark, root,
        kv((12, "e", 120)), overwrite = false); () })
    assert(rebased.isDefined, "disjoint interleaving commit: rebase, not abort")
    assert(rows().exists(_._1 == 12) && rows().exists(_._1 == 11),
      "neither writer's rows were lost")
    assert(rows().filter(_._2.contains("a")) == Set((11, Some("a"), 110)),
      "the rebased replace still replaced its partition")
    // an OVERLAPPING concurrent commit (touches a replaced partition)
    // is a real conflict: abort and reclaim both staged generations
    val lost = VersionedTable.overwritePartitions(spark, root,
      kv((13, "e", 130)),
      raceHook = () => { VersionedTable.commit(spark, root,
        kv((14, "e", 140)), overwrite = false); () })
    assert(lost.isEmpty, "overlapping interleaving commit must abort")
    assert(rows().exists(_._1 == 14) && !rows().exists(_._1 == 13))
    assertNoOrphansDeep(root)
  }

  test("concurrent disjoint partition overwrites on two real threads both commit") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, String, Int)*) = rows.toDF("id", "grp", "v")
    assert(VersionedTable.createIfAbsent(spark, root,
      kv((1, "a", 10), (2, "b", 20), (3, "c", 30)),
      Map("partition" -> "grp")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def replace(g: String, id: Int) = scala.concurrent.Future {
      gate.await()
      VersionedTable.overwritePartitions(spark, root, kv((id, g, id * 10)))
    }
    import scala.concurrent.duration._
    val (fa, fb) = (replace("a", 11), replace("b", 12))
    val a = scala.concurrent.Await.result(fa, 120.seconds)
    val b = scala.concurrent.Await.result(fb, 120.seconds)
    pool.shutdown()
    assert(a.isDefined && b.isDefined,
      s"both disjoint replaces must commit, got $a / $b")
    assert(a.get._1 != b.get._1, "linear history: distinct versions")
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
    val rows = VersionedTable.readAt(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set((11, "a", 110), (12, "b", 120), (3, "c", 30)))
    assertNoOrphansDeep(root)
  }

  // leaf-aware orphan audit (partitioned tables reference LEAF dirs)
  private def assertNoOrphansDeep(root: String): Unit = {
    def leaves(f: java.io.File): Seq[java.io.File] = {
      val subs = Option(f.listFiles()).getOrElse(Array.empty)
        .filter(s => s.isDirectory && s.getName.startsWith("__p_"))
      if (subs.isEmpty) Seq(f) else subs.toSeq.flatMap(leaves)
    }
    val referenced = VersionedTable.versions(spark, root)
      .flatMap(v => VersionedTable.manifestDirs(spark, root, v) ++
        VersionedTable.manifestMeta(spark, root, v).keys
          .filter(_.startsWith("dv:")).map(_.stripPrefix("dv:"))).toSet
    val onDisk = Option(new java.io.File(s"$root/data").listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .flatMap(leaves)
      .map(_.getPath.stripPrefix(s"$root/").stripPrefix("/"))
      .toSet
    assert(onDisk == referenced,
      s"orphaned generations: ${onDisk diff referenced}")
  }

  test("partitioned tables: routed commits survive merge, delete, compact, MoR and vacuum") {
    import spark.implicits._
    val root = freshRoot()
    def kv(rows: (Int, String, Int)*) = rows.toDF("id", "grp", "v")
    def entriesAt(v: Long): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_log", s"$v.commit")), "UTF-8")
        .split("\n").map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    def rows(): Set[(Int, String, Int)] =
      VersionedTable.readAt(spark, root).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(VersionedTable.createIfAbsent(spark, root,
      kv((1, "a", 10), (2, "b", 20)),
      Map("partition" -> "grp", "key" -> "id")))                   // v1
    VersionedTable.commit(spark, root,
      kv((3, "b", 30), (4, "c", 40)), overwrite = false,
      statsCol = Some("v"))                                        // v2
    // routing: v2's manifest lists leaf entries; per-LEAF stats recorded
    val e2 = entriesAt(2L)
    assert(e2.count(_.contains("__p_grp=")) == 4, e2.mkString("|"))
    val m2 = VersionedTable.manifestMeta(spark, root, 2L)
    assert(m2.keys.count(_.startsWith("stats:v:")) == 2,
      s"one stats:v header per v2 leaf, got ${m2.keys.toSeq.sorted}")
    // partition + stats pruning compose; full content preserved
    assert(rows() == Set((1, "a", 10), (2, "b", 20), (3, "b", 30),
      (4, "c", 40)))
    val (pb, keptB, totB) = VersionedTable.readAtPruned(spark, root,
      None, Seq(("v", 25L, 45L)), Seq("grp" -> Set(Option("b")).contains))
    // v2's b-leaf passes both dimensions; v1's b-leaf has NO stats (v1
    // committed without statsCol) so the window cannot exclude it —
    // stats absence means "must scan", never "prune"
    assert(totB == 4 && keptB == 2, s"kept $keptB of $totB")
    assert(pb.filter(col("grp") === "b" && col("v") >= 25).count() == 1)
    // merge rewrites at generation granularity, re-routed
    assert(VersionedTable.mergeInto(spark, root,
      kv((3, "b", 33), (5, "a", 50)), "id").isDefined)             // v3
    assert(rows() == Set((1, "a", 10), (2, "b", 20), (3, "b", 33),
      (4, "c", 40), (5, "a", 50)))
    // copy-on-write delete by a PARTITION predicate
    val Some((_, nDel, _, _)) =
      VersionedTable.deleteWhere(spark, root, col("grp") === "c")  // v4
    assert(nDel == 1L && rows().forall(_._2 != "c"))
    // MoR delete writes a PLAIN key list (never partition-routed: a dv:
    // header's dir must stay '='-free for the header line format)
    assert(VersionedTable.deleteWhereMor(spark, root,
      col("id") === 2, "id").isDefined)                            // v5
    val dvDirs = VersionedTable.manifestMeta(spark, root, 5L)
      .keys.filter(_.startsWith("dv:")).map(_.stripPrefix("dv:"))
    assert(dvDirs.nonEmpty && dvDirs.forall(!_.contains("=")), dvDirs)
    assert(!rows().exists(_._1 == 2))
    // compact materializes the DV and re-routes the survivors
    assert(VersionedTable.compact(spark, root).isDefined)          // v6
    val e6 = entriesAt(6L)
    assert(e6.nonEmpty && e6.forall(_.contains("__p_grp=")),
      s"compacted snapshot re-partitioned: $e6")
    assert(rows() == Set((1, "a", 10), (3, "b", 33), (5, "a", 50)))
    // vacuum reclaims dead LEAF dirs and the emptied generation skeletons
    val (gens, mans) = VersionedTable.vacuum(spark, root,
      keepVersions = 1, force = true)
    assert(mans == 5 && gens > 0)
    assert(rows() == Set((1, "a", 10), (3, "b", 33), (5, "a", 50)))
    val dataDirs = new java.io.File(s"$root/data").listFiles().toSeq
      .filter(_.isDirectory)
    assert(dataDirs.size == 1,
      s"only the live generation survives: ${dataDirs.map(_.getName)}")
  }

  test("merge schema evolution widens in ONE commit behind an explicit flag") {
    import spark.implicits._
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark, root,
      Seq((1, 10), (2, 20), (3, 30)).toDF("id", "v"), overwrite = true)
    val src = Seq((2, 22, "eu"), (4, 44, "us")).toDF("id", "v", "region")
    // off by default: extra columns refuse loudly (the typo'd-column
    // ingestion footgun), nothing is staged or committed
    val e = intercept[IllegalArgumentException](
      VersionedTable.mergeInto(spark, root, src, "id"))
    assert(e.getMessage.contains("schemaEvolution"))
    assert(VersionedTable.versions(spark, root) == Seq(v1))
    // opted in: ONE commit both widens and lands the data
    val Some((v2, touched, carried)) = VersionedTable.mergeInto(spark,
      root, src, "id", schemaEvolution = true)
    assert(touched == 1 && carried == 0)
    assert(VersionedTable.readAt(spark, root).collect()
      .map(r => (r.getInt(0), r.getInt(1), Option(r.getString(2)))).toSet ==
      Set((1, 10, None), (2, 22, Some("eu")), (3, 30, None),
        (4, 44, Some("us"))),
      "updated/inserted rows carry the new column; survivors read NULL")
    // time travel before the merge keeps the narrow schema
    assert(VersionedTable.readAt(spark, root, Some(v1)).columns.toSeq ==
      Seq("id", "v"))
    assert(VersionedTable.commitKind(spark, root, v2) == "merge")
    // a later plain append of the NARROW shape still unions (by-name)
    VersionedTable.commit(spark, root, Seq((5, 50)).toDF("id", "v"),
      overwrite = false)
    assert(VersionedTable.readAt(spark, root)
      .filter(col("id") === 5).head().isNullAt(2))
    // evolution cannot resurrect a renamed column's historical raw name
    VersionedTable.renameColumn(spark, root, "region", "zone")
    intercept[IllegalArgumentException](VersionedTable.mergeInto(spark,
      root, Seq((6, 60, "x")).toDF("id", "v", "region"), "id",
      schemaEvolution = true))
  }

  test("RENAME COLUMN is a metadata-only name mapping; history and feeds survive") {
    import spark.implicits._
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark, root,
      Seq((1, 10), (2, 20)).toDF("id", "v"), overwrite = true)
    val v2 = VersionedTable.renameColumn(spark, root, "v", "score")
    assert(VersionedTable.commitKind(spark, root, v2) == "rename_column")
    // reads alias the frozen physical name; old snapshots keep theirs
    assert(VersionedTable.readAt(spark, root).columns.toSeq ==
      Seq("id", "score"))
    assert(VersionedTable.readAt(spark, root, Some(v1)).columns.toSeq ==
      Seq("id", "v"), "time travel before the rename sees the old name")
    // new writes land under the LOGICAL name; the mixed history unions
    val v3 = VersionedTable.commit(spark, root,
      Seq((3, 30)).toDF("id", "score"), overwrite = false)
    assert(VersionedTable.readAt(spark, root).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((1, 10), (2, 20), (3, 30)))
    // the rename contributes an empty delta; the append feeds normally
    assert(VersionedTable.readChanges(spark, root, v1, v2).isEmpty)
    assert(VersionedTable.readChanges(spark, root, v2, v3).collect()
      .map(_.getInt(0)).toSet == Set(3))
    // merge keyed on the renamed column's TABLE (key = id, untouched)
    assert(VersionedTable.mergeInto(spark, root,
      Seq((2, 99)).toDF("id", "score"), "id").isDefined)
    assert(VersionedTable.readAt(spark, root)
      .filter(col("id") === 2).head().getInt(1) == 99)
    // rename BACK: the merge rewrote generations under 'score', so the
    // chain must keep aliasing that raw name — identity entries drop,
    // historical ones stay
    val vBack = VersionedTable.renameColumn(spark, root, "score", "v")
    assert(VersionedTable.tableProperties(spark, root)
      .filter(_._1.startsWith("colmap.")) == Map("colmap.score" -> "v"))
    assert(VersionedTable.readAt(spark, root, Some(vBack)).columns.toSeq ==
      Seq("id", "v"))
    assert(VersionedTable.readAt(spark, root, Some(vBack)).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((1, 10), (2, 99), (3, 30)),
      "rows from score-era generations alias back")
    // chained renames: every historical raw name aliases to the current
    VersionedTable.renameColumn(spark, root, "v", "a1")
    VersionedTable.renameColumn(spark, root, "a1", "a2")
    val cm = VersionedTable.tableProperties(spark, root)
      .filter(_._1.startsWith("colmap."))
    assert(cm == Map("colmap.score" -> "a2", "colmap.v" -> "a2",
      "colmap.a1" -> "a2"), cm)
    assert(VersionedTable.readAt(spark, root).columns.toSeq == Seq("id", "a2"))
    // a new column may not shadow a historical raw name still on disk
    intercept[IllegalArgumentException](VersionedTable.addColumns(spark,
      root, Seq(org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.IntegerType))))
    // the mappings are correctness metadata: raw property edits refuse
    // (a hand-UNSET entry would stop aliasing names still on disk)
    intercept[IllegalArgumentException](VersionedTable.setProperties(
      spark, root, Map("colmap.v" -> "hijack")))
    intercept[IllegalArgumentException](VersionedTable.setProperties(
      spark, root, Map.empty, unset = Seq("colmap.v")))
    // refusals: collisions, unknown columns, load-bearing names
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, root, "a2", "id"))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, root, "nope", "x"))
    val partRoot = freshRoot()
    assert(VersionedTable.createIfAbsent(spark, partRoot,
      Seq((1, "a")).toDF("id", "grp"), Map("partition" -> "grp",
        "key" -> "id")))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, partRoot, "grp", "g2"))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, partRoot, "id", "id2"))
    val conRoot = freshRoot()
    VersionedTable.commit(spark, conRoot, Seq((1, 10)).toDF("id", "v"),
      overwrite = true)
    VersionedTable.setProperties(spark, conRoot,
      Map("constraint.pos" -> "v > 0"))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, conRoot, "v", "w"))
    VersionedTable.setProperties(spark, conRoot, Map.empty,
      unset = Seq("constraint.pos"))
    assert(VersionedTable.readAt(spark, conRoot,
      Some(VersionedTable.renameColumn(spark, conRoot, "v", "w")))
      .columns.toSeq == Seq("id", "w"), "rename lands once the ref lifts")
  }

  test("in-commit timestamps survive mtime tampering and stay monotone") {
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark, root, df(1), overwrite = true)
    val v2 = VersionedTable.commit(spark, root, df(2), overwrite = false)
    val ts1 = VersionedTable.commitTimestamp(spark, root, v1)
    val ts2 = VersionedTable.commitTimestamp(spark, root, v2)
    assert(ts1 < ts2, "publish stamps are strictly monotone")
    // the manifest itself carries the stamp
    assert(VersionedTable.manifestMeta(spark, root, v1).contains("ts"))
    // an object-store copy/restore (or a plain touch) rewrites mtimes;
    // resolution must NOT shift — TIMESTAMP AS OF, startingTimestamp and
    // timestamp vacuum all resolve through commitTimestamp
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(v1, v2).foreach { v =>
      hfs.setTimes(new org.apache.hadoop.fs.Path(root, s"_log/$v.commit"),
        System.currentTimeMillis() + 86400000L, -1)
    }
    assert(VersionedTable.commitTimestamp(spark, root, v1) == ts1)
    assert(VersionedTable.commitTimestamp(spark, root, v2) == ts2)
    assert(VersionedTable.versionAsOfTimestamp(spark, root, ts1)
      .contains(v1))
    assert(VersionedTable.versionAsOfTimestamp(spark, root, ts2 - 1)
      .contains(v1), "between the stamps resolves to the older commit")
    assert(VersionedTable.versionAsOfTimestamp(spark, root, ts2)
      .contains(v2))
    assert(VersionedTable.versionAsOfTimestamp(spark, root, ts1 - 1)
      .isEmpty, "before the first commit")
    // timestamp vacuum resolves through the same stamps: a cutoff
    // between the two commits drops only v1 (tip always survives)
    val (_, mans) = VersionedTable.vacuum(spark, root,
      olderThanMicros = Some(ts1), force = true)
    assert(mans == 1 && VersionedTable.versions(spark, root) == Seq(v2))
  }

  test("per-leaf stats record for partition values with URL-hostile characters") {
    import spark.implicits._
    val root = freshRoot()
    // a space AND a literal '%' in string partition values: the leaf dir
    // name is hive-escaped on disk, and input_file_name() URL-encodes it
    // again — the stats harvest must decode before matching entries
    val batch = Seq((1, "north america", 10), (2, "50% off", 20),
      (3, "plain", 30)).toDF("id", "grp", "v")
    assert(VersionedTable.createIfAbsent(spark, root, batch.limit(0),
      Map("partition" -> "grp")))
    val v2 = VersionedTable.commit(spark, root, batch, overwrite = false,
      statsCols = Seq("v"))
    val meta = VersionedTable.manifestMeta(spark, root, v2)
    assert(meta.keys.count(_.startsWith("stats:v:")) == 3,
      s"one stats:v header per leaf, got ${meta.keys.toSeq.sorted}")
    // the recorded windows actually prune: v outside [25, 35] keeps one
    // leaf (plus the stats-free create generation, which must scan)
    val (pruned, kept, total) = VersionedTable.readAtPruned(spark, root,
      None, Seq(("v", 25L, 35L)))
    assert(total == 4 && kept == 2, s"kept $kept of $total")
    assert(pruned.filter(col("v") >= 25 && col("v") <= 35).count() == 1)
    // equality pruning on the escaped values keeps exactly their leaf
    val (_, keptEq, _) = VersionedTable.readAtPruned(spark, root,
      None, Nil, Seq("grp" -> Set(Option("50% off")).contains))
    assert(keptEq == 2, s"the escaped leaf plus the create gen: $keptEq")
  }

  test("DROP COLUMN: metadata-only logical drop; reserved name until a full compact") {
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField}
    val root = freshRoot()
    val v1 = VersionedTable.commit(spark, root,
      Seq((1, "a", 10), (2, "b", 20)).toDF("id", "tag", "v"),
      overwrite = true)
    // rename first: the drop must retire the WHOLE alias chain
    val v2 = VersionedTable.renameColumn(spark, root, "tag", "label")
    val v3 = VersionedTable.dropColumn(spark, root, "label")
    assert(VersionedTable.commitKind(spark, root, v3) == "drop_column")
    assert(VersionedTable.manifestDirs(spark, root, v3) ==
      VersionedTable.manifestDirs(spark, root, v1), "metadata-only")
    val cur = VersionedTable.readAt(spark, root)
    assert(cur.columns.toSeq == Seq("id", "v"))
    assert(cur.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((1, 10), (2, 20)))
    val props3 = VersionedTable.tableProperties(spark, root, Some(v3))
    assert(!props3.keys.exists(_.startsWith("colmap.")),
      "the retired chain must not keep aliasing")
    assert(props3.keys.count(_.startsWith("dropcol.")) == 2,
      "both physical names (tag, label) tombstone")
    // time travel: each era keeps its own schema
    assert(VersionedTable.readAt(spark, root, Some(v1)).columns
      .contains("tag"))
    assert(VersionedTable.readAt(spark, root, Some(v2)).columns
      .contains("label"))
    // RESERVED NAMES: writer frames, re-add, rename targets and raw
    // property edits all refuse while old files carry the bytes
    intercept[IllegalArgumentException](VersionedTable.commit(spark, root,
      Seq((3, "c", 30)).toDF("id", "tag", "v"), overwrite = false))
    intercept[IllegalArgumentException](VersionedTable.commit(spark, root,
      Seq((3, "c", 30)).toDF("id", "label", "v"), overwrite = false))
    intercept[IllegalArgumentException](VersionedTable.addColumns(spark,
      root, Seq(StructField("label", StringType))))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, root, "v", "label"))
    intercept[IllegalArgumentException](VersionedTable.setProperties(spark,
      root, Map.empty, unset = Seq("dropcol.label")))
    // the logical schema flows normally
    val v4 = VersionedTable.commit(spark, root,
      Seq((3, 30)).toDF("id", "v"), overwrite = false)
    // INCREMENTAL compaction keeps the tombstones (its carried bulk may
    // still hold the bytes elsewhere — conservative by design)
    VersionedTable.compactSmall(spark, root, smallBytes = 1L << 30)
    assert(VersionedTable.tableProperties(spark, root).keys
      .exists(_.startsWith("dropcol.")))
    // FULL compact purges the bytes and clears the tombstones; a
    // re-added column reads NULL for every row — never the old values
    val v6 = VersionedTable.compact(spark, root).getOrElse(
      sys.error("compact lost a race"))
    assert(!VersionedTable.tableProperties(spark, root, Some(v6)).keys
      .exists(_.startsWith("dropcol.")))
    VersionedTable.addColumns(spark, root,
      Seq(StructField("label", StringType)))
    val back = VersionedTable.readAt(spark, root)
    assert(back.columns.contains("label") &&
      back.filter(col("label").isNotNull).isEmpty,
      "re-add must not resurrect dropped bytes")
    assert(idsAt(root) == Set(1, 2, 3))
    // LOAD-BEARING refusals: partition source, row-id key, constraint
    // reference, existence default, last column
    val root2 = freshRoot()
    assert(VersionedTable.createIfAbsent(spark, root2,
      Seq((1, "x", 5)).toDF("id", "grp", "v"),
      Map("partition" -> "grp", "key" -> "id",
        "constraint.pos" -> "v > 0")))
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, root2, "grp"))
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, root2, "id"))
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, root2, "v"))
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, root2, "nope"))
    val root3 = freshRoot()
    VersionedTable.commit(spark, root3, df(1, 2), overwrite = true)
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, root3, "id"))
  }

  test("tags: durable pointers that survive vacuum; managed edits only") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)  // v1
    val v2 = VersionedTable.tagVersion(spark, root, "rel")          // tags v1
    assert(VersionedTable.commitKind(spark, root, v2) == "tag")
    assert(VersionedTable.manifestDirs(spark, root, v2) ==
      VersionedTable.manifestDirs(spark, root, 1L), "metadata-only")
    VersionedTable.commit(spark, root, df(9), overwrite = true)     // v3
    VersionedTable.commit(spark, root, df(10), overwrite = true)    // v4
    assert(VersionedTable.resolveRef(spark, root, "rel") == Some(1L))
    // vacuum keeps the TAGGED version even under keep_versions = 1
    VersionedTable.vacuum(spark, root, keepVersions = 1, force = true)
    assert(VersionedTable.versions(spark, root).contains(1L))
    assert(idsAt(root, Some(1L)) == Set(1, 2),
      "tagged snapshot survives retention")
    assert(!VersionedTable.versions(spark, root).contains(3L))
    // double-tag refused (a silently moving tag is a hazard); raw
    // property edits refused; deleting the tag releases the retention
    intercept[IllegalArgumentException](
      VersionedTable.tagVersion(spark, root, "rel"))
    intercept[IllegalArgumentException](
      VersionedTable.setProperties(spark, root, Map("ref.x" -> "1")))
    intercept[IllegalArgumentException](
      VersionedTable.tagVersion(spark, root, "bad name"))
    // all-digit names would collide with VERSION AS OF's numeric parse
    intercept[IllegalArgumentException](
      VersionedTable.tagVersion(spark, root, "2024"))
    VersionedTable.deleteTag(spark, root, "rel")
    assert(VersionedTable.resolveRef(spark, root, "rel").isEmpty)
    VersionedTable.vacuum(spark, root, keepVersions = 1, force = true)
    assert(!VersionedTable.versions(spark, root).contains(1L),
      "untagged snapshot reclaims normally")
  }

  test("branches + WAP: staged commits invisible on main; publish rebases or aborts") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)     // v1
    VersionedTable.createBranch(spark, root, "wap")
    VersionedTable.commitToBranch(spark, root, "wap", df(7))
    VersionedTable.commitToBranch(spark, root, "wap", df(8))
    assert(idsAt(root) == Set(1), "staged commits invisible on main")
    assert(VersionedTable.readBranch(spark, root, "wap").collect()
      .map(_.getInt(0)).toSet == Set(1, 7, 8))
    intercept[IllegalArgumentException](
      VersionedTable.createBranch(spark, root, "wap")) // already exists
    // CLEAN publish: main didn't move — the branch tip lands verbatim,
    // atomically (one new version)
    val v2 = VersionedTable.fastForward(spark, root, "wap")
      .getOrElse(sys.error("clean fast-forward must publish"))
    assert(idsAt(root) == Set(1, 7, 8))
    assert(VersionedTable.commitKind(spark, root, v2) == "wap_publish")
    // the lenient appends feed delivers WAP-published rows (a
    // wap_publish is append-shaped — review fix)
    assert(VersionedTable.readAppends(spark, root, 1L, v2).collect()
      .map(_.getInt(0)).toSet == Set(7, 8))
    // 'branch' is a read option: a write that silently ignored it would
    // publish un-audited data straight to main
    intercept[IllegalArgumentException](df(99).write
      .format("graft-vtable").option("path", root)
      .option("branch", "wap").mode("append").save())
    VersionedTable.dropBranch(spark, root, "wap")
    assert(VersionedTable.branches(spark, root).isEmpty)
    // REBASE: an intervening APPEND is not a logical conflict — both
    // writers' rows land
    VersionedTable.createBranch(spark, root, "wap2")
    VersionedTable.commitToBranch(spark, root, "wap2", df(20))
    VersionedTable.commit(spark, root, df(30), overwrite = false)
    val v3 = VersionedTable.fastForward(spark, root, "wap2")
      .getOrElse(sys.error("append-rebased fast-forward must publish"))
    assert(idsAt(root, Some(v3)) == Set(1, 7, 8, 20, 30))
    VersionedTable.dropBranch(spark, root, "wap2")
    // LOUD ABORT: an intervening overwrite IS a conflict — publish
    // returns None and main is untouched
    VersionedTable.createBranch(spark, root, "wap3")
    VersionedTable.commitToBranch(spark, root, "wap3", df(40))
    VersionedTable.commit(spark, root, df(99), overwrite = true)
    assert(VersionedTable.fastForward(spark, root, "wap3").isEmpty)
    assert(idsAt(root) == Set(99), "aborted publish changed nothing")
    // vacuum never reclaims a live branch's staged generations
    VersionedTable.vacuum(spark, root, keepVersions = 1, force = true)
    val b3 = VersionedTable.readBranch(spark, root, "wap3").collect()
      .map(_.getInt(0)).toSet
    assert(b3 == Set(1, 7, 8, 20, 30, 40),
      s"branch view survives main maintenance: $b3")
    // CHECK constraints gate staged writes too — staging is not a
    // quality bypass
    val root2 = freshRoot()
    import spark.implicits._
    assert(VersionedTable.createIfAbsent(spark, root2,
      Seq(1, 2).toDF("id"), Map("constraint.pos" -> "id > 0")))
    VersionedTable.createBranch(spark, root2, "gate")
    intercept[IllegalArgumentException](
      VersionedTable.commitToBranch(spark, root2, "gate",
        Seq(-5).toDF("id")))
    // a constraint added on MAIN after the fork re-validates the staged
    // rows at publish (review fix: the rebase must not smuggle rows
    // under a constraint readers are told to trust unconditionally)
    val root3 = freshRoot()
    VersionedTable.commit(spark, root3, Seq(5).toDF("id"), overwrite = true)
    VersionedTable.createBranch(spark, root3, "w")
    VersionedTable.commitToBranch(spark, root3, "w", Seq(-7).toDF("id"))
    VersionedTable.setProperties(spark, root3,
      Map("constraint.pos" -> "id > 0")) // validates main's data only
    intercept[IllegalArgumentException](
      VersionedTable.fastForward(spark, root3, "w"))
    assert(idsAt(root3) == Set(5), "failed publish changed nothing")
    // …while conforming staged rows rebase through the new constraint
    VersionedTable.createBranch(spark, root3, "w2")
    VersionedTable.commitToBranch(spark, root3, "w2", Seq(6).toDF("id"))
    VersionedTable.commit(spark, root3, Seq(7).toDF("id"), overwrite = false)
    assert(VersionedTable.fastForward(spark, root3, "w2").isDefined)
    assert(idsAt(root3) == Set(5, 6, 7))
    // vacuumed history in (base, tip] makes cleanliness unverifiable —
    // publish aborts instead of trusting a gap (review fix), while the
    // branch itself stays readable (its own base manifest survives)
    val root4 = freshRoot()
    VersionedTable.commit(spark, root4, Seq(1).toDF("id"), overwrite = true)
    VersionedTable.createBranch(spark, root4, "g")
    VersionedTable.commitToBranch(spark, root4, "g", Seq(50).toDF("id"))
    VersionedTable.commit(spark, root4, Seq(2).toDF("id"), overwrite = false)
    VersionedTable.commit(spark, root4, Seq(3).toDF("id"), overwrite = false)
    VersionedTable.vacuum(spark, root4, keepVersions = 1, force = true)
    assert(VersionedTable.readBranch(spark, root4, "g").collect()
      .map(_.getInt(0)).toSet == Set(1, 50))
    assert(VersionedTable.fastForward(spark, root4, "g").isEmpty,
      "gapped history must abort the publish")
  }

  test("every metadata-only tip edit keeps the entries, their stats and dv headers, and the rows") {
    import spark.implicits._
    val root = freshRoot()
    assert(VersionedTable.createIfAbsent(spark, root,
      Seq((1, 10, "a", "x"), (2, 20, "b", "x")).toDF("id", "v", "note", "grp"),
      Map("owner" -> "etl")))
    VersionedTable.commit(spark, root,
      Seq((3, 30, "c", "y"), (4, 40, "d", "y")).toDF("id", "v", "note", "grp"),
      overwrite = false, statsCols = Seq("id", "v"))
    VersionedTable.deleteWhereMor(spark, root, col("id") === 2, "id")
    // the headers a metadata-only commit must carry: entry-scoped stats
    // and per-file records, and the merge-on-read tombstones
    def carriedKinds(v: Long): Map[String, String] =
      VersionedTable.manifestMeta(spark, root, v).filter { case (k, _) =>
        Seq("stats:", "files:", "fstats:", "dv:").exists(k.startsWith)
      }
    val setupTip = VersionedTable.versions(spark, root).last
    assert(carriedKinds(setupTip).keys.exists(_.startsWith("stats:")) &&
      carriedKinds(setupTip).keys.exists(_.startsWith("dv:")))
    // every column as a string, by position, minus the named columns
    def rowsAt(v: Long, without: String*): Set[Seq[String]] = {
      val d = VersionedTable.readAt(spark, root, Some(v))
      d.select(d.columns.filterNot(without.contains).map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    }
    val edits: Seq[(String, Seq[String], () => Long)] = Seq(
      ("setProperties", Nil,
        () => VersionedTable.setProperties(spark, root, Map("tier" -> "gold"))),
      ("renameColumn", Nil,
        () => VersionedTable.renameColumn(spark, root, "v", "w")),
      ("widenColumnType", Nil, () => VersionedTable.widenColumnType(spark, root,
        "w", org.apache.spark.sql.types.LongType)),
      ("dropColumn", Seq("note"),
        () => VersionedTable.dropColumn(spark, root, "note")),
      ("evolvePartitionSpec", Nil,
        () => VersionedTable.evolvePartitionSpec(spark, root, "grp")),
      ("tagVersion", Nil, () => VersionedTable.tagVersion(spark, root, "rel1")),
      ("deleteTag", Nil, () => VersionedTable.deleteTag(spark, root, "rel1")))
    val last = edits.foldLeft(setupTip) { case (prev, (name, dropped, edit)) =>
      val next = edit()
      withClue(s"$name: ") {
        assert(next == prev + 1)
        assert(VersionedTable.manifestDirs(spark, root, next) ==
          VersionedTable.manifestDirs(spark, root, prev))
        val after = VersionedTable.manifestMeta(spark, root, next)
        carriedKinds(prev).foreach { case (k, value) =>
          assert(after.get(k).contains(value), s"lost header $k")
        }
        assert(VersionedTable.tableProperties(spark, root, Some(next))
          .get("owner").contains("etl"))
        assert(rowsAt(next) == rowsAt(prev, dropped: _*))
      }
      next
    }
    assert(last == setupTip + edits.size)
    assert(idsAt(root) == Set(1, 3, 4), "the tombstoned id stays hidden")
  }

  test("snapshot reads reject an uncommitted version as an illegal argument") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    val missing = Some(99L)
    Seq[(String, () => Any)](
      "readAt" -> (() => VersionedTable.readAt(spark, root, missing)),
      "tableProperties" -> (() => VersionedTable.tableProperties(spark, root, missing)),
      "partitionSummary" -> (() => VersionedTable.partitionSummary(spark, root, missing)),
      "filesSummary" -> (() => VersionedTable.filesSummary(spark, root, missing)),
      "readAtPartition" ->
        (() => VersionedTable.readAtPartition(spark, root, missing, "id=1")),
      "scanSizeBytes" ->
        (() => VersionedTable.scanSizeBytes(spark, root, missing, Nil, Nil)),
      "hasDeletionVectors" ->
        (() => VersionedTable.hasDeletionVectors(spark, root, missing)),
      "commitKind" -> (() => VersionedTable.commitKind(spark, root, missing.get)),
      "commitTimestamp" ->
        (() => VersionedTable.commitTimestamp(spark, root, missing.get))
    ).foreach { case (name, read) =>
      withClue(s"$name: ")(intercept[IllegalArgumentException](read()))
    }
  }

  private def rawRoot(): String = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.rawfs.impl", classOf[StockLocalFs].getName)
    "rawfs:" + freshRoot()
  }

  test("on the stock local filesystem a losing publish never replaces a manifest") {
    // a compaction that loses v3 to a concurrent append must abort: a
    // commit point that replaced v3 would drop the append's rows
    val root = rawRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    VersionedTable.commit(spark, root, df(2), overwrite = false)
    val lost = VersionedTable.compact(spark, root, raceHook = () => {
      VersionedTable.commit(spark, root, df(3), overwrite = false); ()
    })
    assert(lost.isEmpty, "losing compaction must abort, not replace v3")
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
    assert(idsAt(root) == Set(1, 2, 3), "the concurrent append survived")
    assertNoOrphans(root)
    // a property edit that loses v2 to a violating append re-validates on
    // the new tip instead of replacing it
    import spark.implicits._
    val root2 = rawRoot()
    def kv(rows: (Int, Int)*) = rows.toDF("id", "v")
    VersionedTable.commit(spark, root2, kv(1 -> 10), overwrite = true)
    val e = intercept[IllegalArgumentException](
      VersionedTable.setProperties(spark, root2,
        Map("constraint.pos" -> "v > 0"),
        raceHook = () => { VersionedTable.commit(spark, root2,
          kv(2 -> -7), overwrite = false); () }))
    assert(e.getMessage.contains("pos"))
    assert(VersionedTable.versions(spark, root2) == Seq(1L, 2L))
    assert(VersionedTable.readAt(spark, root2).count() == 2,
      "the racing append survived")
  }

  test("the default local filesystem publishes through the hard-link commit point") {
    val hfs = new Path(freshRoot())
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(VersionedTable.localFileOf(hfs).isDefined,
      s"${hfs.getClass.getName} would publish by rename")
  }

  test("a commit on the default local filesystem forks no chmod or readlink") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    val (v, spawns) = Spawns.during(VersionedTable.commit(spark, root, df(2), overwrite = false))
    assert(v == 2L && idsAt(root) == Set(1, 2))
    assert(!spawns.contains("chmod") && !spawns.contains("readlink"), spawns)
  }

  test("a rewrite whose base+1 was vacuumed under newer commits aborts below the tip") {
    val root = freshRoot()
    VersionedTable.commit(spark, root, df(1, 2), overwrite = true)
    val lost = VersionedTable.deleteWhere(spark, root, col("id") === 1, raceHook = () => {
      VersionedTable.commit(spark, root, df(3), overwrite = false)
      VersionedTable.commit(spark, root, df(4), overwrite = false)
      VersionedTable.vacuum(spark, root, keepVersions = 1); ()
    })
    assert(lost.isEmpty, "a delete built on v1 must not publish v2 below the tip")
    assert(VersionedTable.versions(spark, root) == Seq(3L))
    assert(idsAt(root) == Set(1, 2, 3, 4), "the tip is unchanged")
    assertNoOrphans(root)
    // only the branch's own log bounds a branch commit, and a fork point
    // below main's tip is no rewrite
    VersionedTable.commit(spark, root, df(5), overwrite = false)
    assert(VersionedTable.createBranch(spark, root, "past", Some(3L)) == 3L)
    assert(VersionedTable.commitToBranch(spark, root, "past", df(6)) == 4L)
    assert(VersionedTable.branchVersions(spark, root, "past") == Seq(3L, 4L))
  }

  test("an append lands at the tip even when its base was vacuumed during the write") {
    // the generation write's _SUCCESS marker is created after the commit
    // resolved its base and before it publishes: two appends land there
    // and a vacuum trims every manifest but the newest, base+1 included
    def race(root: String): Path => Unit = {
      var fired = false
      p => if (!fired && p.getName == "_SUCCESS") {
        fired = true
        VersionedTable.commit(spark, root, df(2), overwrite = false)
        VersionedTable.commit(spark, root, df(3), overwrite = false)
        VersionedTable.vacuum(spark, root, keepVersions = 1)
      }
    }
    val root = rawRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    val v = StockLocalFs.withOnCreate(race(root)) {
      VersionedTable.commit(spark, root, df(4), overwrite = false)
    }
    assert(v == 4L && VersionedTable.versions(spark, root) == Seq(3L, 4L))
    assert(idsAt(root) == Set(1, 2, 3, 4), "the commit's rows are at the tip")
    val root2 = rawRoot()
    VersionedTable.commit(spark, root2, df(1), overwrite = true)
    val (v2, committed) = StockLocalFs.withOnCreate(race(root2)) {
      VersionedTable.idempotentCommit(spark, root2, df(4), "app", 0L)
    }
    assert(committed && v2 == 4L)
    assert(idsAt(root2) == Set(1, 2, 3, 4), "the batch's rows are at the tip")
  }

  test("a commit point that throws reclaims the temp manifest and the generation") {
    val root = rawRoot()
    VersionedTable.commit(spark, root, df(1), overwrite = true)
    val e = StockLocalFs.withOnCreate { p =>
      if (p.getName.startsWith(".tmp-")) throw new java.io.IOException("no links here")
    } {
      intercept[java.io.IOException](
        VersionedTable.commit(spark, root, df(2), overwrite = false))
    }
    assert(e.getMessage == "no links here")
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    val log = new java.io.File(new Path(root).toUri.getPath, "_log")
    assert(!log.list().exists(_.startsWith(".tmp-")), "the temp manifest is gone")
    assertNoOrphans(root)
  }
}
