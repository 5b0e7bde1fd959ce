package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
import org.apache.spark.sql.types.DecimalType

/** One named engine query: a Spark implementation plus (when expressible) an
  * equivalent ANSI/DuckDB SQL oracle over the same parquet tables. The driver
  * hash-compares the two at sf0.01 (SURVEY.md §5.2).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Load one driver test table (TESTDATA.md layout).
    *
    * `events.ts` has shipped in two physical encodings across testdata
    * generations, and the loader normalizes both to a plain microsecond
    * TIMESTAMP so every query downstream sees one type:
    *
    *  - TIMESTAMP(NANOS): Spark only reads it via the
    *    `spark.sql.legacy.parquet.nanosAsLong` flag (pinned in
    *    [[graft.GraftSession]]), which surfaces it as LONG nanos. Convert
    *    back to micros with floor division — the same truncation DuckDB
    *    applies when it reads nanos — so both engines see identical values.
    *  - timestamp[us] with isAdjustedToUTC=false (pandas-written): Spark
    *    4.x reads it as TIMESTAMP_NTZ, which time functions like
    *    `unix_micros` reject. The session timezone is pinned to UTC (in
    *    [[graft.GraftSession]]), so casting NTZ→TIMESTAMP reinterprets the
    *    naive value as UTC — exactly how DuckDB treats a naive timestamp in
    *    epoch arithmetic — and both engines again see identical values.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readWithCachedSchema(spark, s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // floor division (not `div`, which truncates toward zero): pre-epoch
        // nanos must round down to match DuckDB's ns→µs conversion
        df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  // input-table schema cache (r19, the genSchemaCache pattern applied to
  // the driver's test tables): every bare `spark.read.parquet` runs schema
  // INFERENCE as a one-task Spark job (~25-95 ms + its scheduling gap,
  // measured r19), and the bench pays it once
  // per table read per query — hundreds of times per sweep over files
  // that never change. The cache key is (path, length, mtime), so a
  // REGENERATED file re-probes and a hit is provably the same bytes; an
  // explicit `.schema(...)` read of the same file then runs ZERO
  // inference jobs and reads identical values (inference over an
  // unchanged file is deterministic). Only plain FILES are cached —
  // a directory's mtime does not track content rewrites. KNOWN
  // ASSUMPTION (the genSchemaCache contract, documented there): session
  // config that shapes inference (`nanosAsLong`) is the same in every
  // session of the JVM — [[graft.GraftSession]] is the one place it is set.
  private val inputSchemaCache =
    new Lru[(String, Long, Long), org.apache.spark.sql.types.StructType](1024)

  private def readWithCachedSchema(spark: SparkSession,
      path: String): DataFrame = {
    import scala.util.control.NonFatal
    val key = try {
      val p = new org.apache.hadoop.fs.Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      if (st.isFile) Some((path, st.getLen, st.getModificationTime))
      else None
    } catch { case NonFatal(_) => None } // missing path: the plain read
    // below reproduces the legacy error exactly
    key.flatMap(inputSchemaCache.get) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(inputSchemaCache.put(_, df.schema))
        df
    }
  }

  /** Exact-decimal staging for aggregated doubles.
    *
    * Summing doubles is order-dependent, so a Spark partial-agg sum and a
    * DuckDB sequential sum can disagree in the last bits — enough to break
    * the driver's hash compare. Casting each addend to DECIMAL first makes
    * the sum exact and order-independent; casting the exact sum back to
    * DOUBLE is deterministic. Both engines then produce bit-identical
    * doubles. Oracles mirror with CAST(sum(CAST(x AS DECIMAL(p,s))) AS DOUBLE).
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** SQL fragment: exact sum of `expr` returned as DOUBLE. */
  def sumDec(expr: String, scale: Int = 2): String =
    s"CAST(sum(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Hash-spread a table across the session's full parallelism.
    *
    * Small single-file tables scan as ONE partition, which silently
    * single-threads every narrow op downstream of the scan (the expensive
    * per-row pipelines: shingling, hashing, vector math). One keyed
    * repartition restores parallelism; at warehouse scale the same keyed
    * spread is what balances a skewed file layout.
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // inputFiles only lists the relation's files — unlike an `.rdd`
    // partition probe it does not force physical planning (plus a
    // deserializing RDD lineage) once per call. Callers sit ahead of heavy
    // per-row pipelines, where an unneeded extra shuffle of a many-file
    // table is far cheaper than single-threading a one-file scan.
    import scala.util.control.NonFatal
    val files = try df.inputFiles catch { case NonFatal(_) => Array.empty[String] }
    if (files.length >= p) df
    else if (files.isEmpty) {
      // not file-backed (in-memory frame, post-shuffle/view input): no
      // RELIABLE cheap probe exists — `toRdd` wraps AdaptiveSparkPlanExec
      // whose execute() eagerly materializes upstream stages, while the
      // pre-preparation sparkPlan has no exchanges yet (its partition
      // count lies about the real output, and broadcast-shaped plans
      // throw). Callers sit ahead of heavy per-row pipelines where
      // silent single-threading is the catastrophic case and one hash
      // shuffle of in-memory data is cheap insurance, so just pay it.
      df.repartition(p, col(key))
    } else {
      // few files can still scan wide: splittable formats split every
      // maxPartitionBytes, so one big parquet file does NOT single-thread
      // — estimate scan partitions from total bytes before paying a shuffle
      val estSplits = try {
        val conf = spark.sparkContext.hadoopConfiguration
        val maxPart = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
        files.map { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(conf).getFileStatus(path).getLen
        }.sum / maxPart
      } catch { case NonFatal(_) => 0L }
      if (estSplits >= p) df
      else df.repartition(p, col(key))
    }
  }

  /** Eagerly materialize a SMALL final result, then release the persisted
    * intermediates that built it.
    *
    * Queries that persist shared subplans (posting lists, signatures,
    * sketches) would otherwise leak those caches for the rest of the
    * session — across a 73-query bench run the leaked blocks stack up into
    * real memory pressure. The eager localCheckpoint executes the whole
    * pipeline here (so bench timing still charges the query for it) and
    * cuts the lineage; the intermediates are then dead and safe to drop.
    * Downstream consumers (d46's clustering loop, the verify sink) read the
    * flat materialized table instead of re-running the lineage per branch.
    *
    * Only for results small enough to cache on the executors — pair and
    * cluster tables here. A large result should stream straight to its
    * sink and unpersist in a try/finally around the sink action instead.
    */
  def materialized(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    intermediates.foreach { df =>
      df.unpersist(false) // catalog-cached (`persist()`) frames
      releaseBlocks(df)   // `localCheckpoint`ed frames (unpersist is a no-op)
    }
    out
  }

  /** Release the storage blocks behind a `localCheckpoint`ed frame.
    *
    * `Dataset.unpersist` only clears catalog-cached plans; a local
    * checkpoint's blocks belong to a plain persisted RDD inside the plan,
    * which otherwise lingers until the ContextCleaner collects it —
    * across a 90-query bench session that is a slow executor-storage leak.
    * Walking the (checkpoint-truncated, so tiny) RDD lineage finds that
    * persisted ancestor directly. The frame is UNUSABLE afterwards — only
    * call once every consumer has materialized.
    */
  def releaseBlocks(df: DataFrame): Unit = {
    import scala.util.control.NonFatal
    def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Unit =
      if (depth < 8) {
        if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
          r.unpersist(false)
        r.dependencies.foreach(d => walk(d.rdd, depth + 1))
      }
    try walk(df.queryExecution.toRdd, 0) catch { case NonFatal(_) => () }
  }

  /** Drop EVERY persisted RDD block in the session — the between-queries
    * sweep for harness mains (Bench/Verify). Individual queries release
    * their own intermediates ([[materialized]]); this backstop also frees
    * the materialized RESULTS themselves once the harness has consumed
    * them, so no query's blocks survive into the next query's run.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  /** Best-effort reclaim of old `run_<N>` scratch subdirectories.
    *
    * Harness queries that stage data under a shared temp root write each
    * invocation into a FRESH `run_<N>` dir so concurrent callers never
    * read across each other's overwrites — but a long-lived process
    * running repeated benches would then accumulate one staging copy per
    * invocation until the JVM-exit shutdown hook fires. Deleting every
    * run more than `keep` sequence numbers behind the one being started
    * keeps disk bounded MID-process while leaving a window wide enough
    * that any plausibly-in-flight concurrent invocation (parallel spec
    * suites, an overlapping bench run) still owns its dir. Failures are
    * swallowed: reclaim is hygiene, never correctness.
    */
  def reclaimOldRuns(root: java.nio.file.Path, newSeq: Long, keep: Int = 8): Unit = {
    import scala.util.control.NonFatal
    try {
      Option(root.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
        val n = f.getName.stripPrefix("run_")
        if (f.getName.startsWith("run_") && n.nonEmpty && n.forall(_.isDigit) &&
            n.toLong <= newSeq - keep)
          try java.nio.file.Files.walk(f.toPath)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          catch { case NonFatal(_) => () }
      }
    } catch { case NonFatal(_) => () }
  }

  /** Exact-decimal discounted price: cast each FACTOR to decimal before
    * multiplying (decimal × decimal is exact), never cast the double
    * product — engines may fuse double multiply chains (FMA) differently,
    * which breaks cross-engine bit-parity on 3-factor products.
    */
  def discPrice: Column =
    col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1) - col("l_discount")).cast(DecimalType(4, 2))

  def chargePrice: Column =
    discPrice * (lit(1) + col("l_tax")).cast(DecimalType(4, 2))

  val sqlDiscPrice: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(4,2))"
}
