package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. `Bench`, `Verify`,
  * `EtlMain`, the dev tools and the test fixture all build through here,
  * so every session runs the same settings and plans with the same rules
  * from its first query.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  /** The settings list, all of it:
    *   - `local[cpus]`, with one shuffle partition per core;
    *   - session time zone UTC — `Q.t` reads naive `events.ts` as UTC, and
    *     the oracle compares against DuckDB's UTC epoch arithmetic;
    *   - Spark UI off;
    *   - `spark.sql.legacy.parquet.nanosAsLong=true`, the only way Spark
    *     reads `events.ts` stored as parquet TIMESTAMP(NANOS) (see `Q.t`).
    *     The process-wide schema caches (`Q.t`'s input cache,
    *     `VersionedTable`'s genSchemaCache) rely on every session in the
    *     JVM pinning it identically.
    * AQE is left at Spark's default, which is on. The local filesystem
    * is not set here: `core-site.xml` (a resource of this library)
    * registers `graft.fs.NioLocalFileSystem` for `file:`, so sessions
    * built elsewhere get it too.
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Log levels plus graft's functions, planner strategy and optimizer
    * rules. Idempotent: a second call installs nothing twice.
    */
  def setup(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    // Silence `WindowExec: No Partition Defined`: every unpartitioned
    // window in the registry is a deliberately shard-bounded two-phase
    // prefix-sum frame (plan-asserted by WindowAuditSpec), so the warning
    // is noise, and a real global window fails that spec instead.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    graft.expr.GraftFunctions.register(spark)
    spark
  }

  /** A set-up session with the default settings list. */
  def local(): SparkSession = setup(builder(cpus).getOrCreate())

  /** 1-minute system load average, -1.0 when the platform can't report
    * it — the contended-run stamp both Bench and ScalingProbe write into
    * their artifacts (one definition so the stamps can never diverge).
    * JSON-safe: the MXBean returns NaN on some platforms.
    */
  def loadAvg1: Double = {
    val l = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    if (l.isNaN) -1.0 else math.rint(l * 100) / 100
  }
}
