package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
object Bench {
  /** 1-minute load stamp (shared definition, see GraftSession.loadAvg1):
    * written into both bench JSONs at start and end so a contended run is
    * self-identifying in the ARTIFACT (round 10's driver environment
    * inverted a perf conclusion with nothing in the file to flag it).
    */
  private def loadAvg1: Double = GraftSession.loadAvg1

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // dev-only name-prefix filter (the driver never sets it): per-query
    // perf iteration without paying the whole suite; comma-separated
    // prefixes select a set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    def selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
    val spark = GraftSession.local()
    // the EFFECTIVE core count, read back from the live context (not the
    // env echo): emitted in both JSONs so the artifact itself proves the
    // bench honored $SPARK_GRAFT_CPUS (the driver's scaling check flagged
    // `suspect_cpus_ignored` with nothing in the file to refute it)
    val effectiveCpus = spark.sparkContext.defaultParallelism
    // Exhaust the plan through the built-in noop sink: unlike .count(),
    // every column is produced and shipped through the physical plan, so a
    // pure-projection query cannot collapse into a count-only scan.
    def exhaust(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String): Boolean =
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
    // Warm the JVM (classloading, codegen, parquet reader paths) outside the
    // timed region so per-query numbers measure the queries, not first-touch
    // JIT. sf0.001 keeps the warmup itself cheap; the catch is per-query so
    // one failing query cannot skip warmup for the rest.
    selected.foreach { case (name, fn) =>
      exhaust(name, fn, "/root/testdata/sf0.001")
    }
    // Min over `runs` repeats: the shared-machine noise the driver observed
    // in round 2 (uniform 5-6x inflation on unchanged scan-bound queries) is
    // additive contention, so min-of-N is the robust estimator of the plan's
    // cost. Queries unpersist their own intermediates, so repeats are honest
    // re-executions, not cache hits; clearCache() backstops that.
    val results = selected.map { case (name, fn) =>
      var ok = true
      val times = (1 to runs).map { _ =>
        // sweep ALL persisted blocks (checkpointed results included —
        // clearCache alone misses them) so repeats and later queries are
        // honest re-executions against a clean store
        graft.ops.Q.releaseAll(spark)
        val t0 = System.nanoTime()
        ok &= exhaust(name, fn, sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      (name, times.min, times.max, ok)
    }
    graft.ops.Q.releaseAll(spark)
    // a throwing query is still listed with its (meaningless) time, but the
    // `failed` array marks it so a broken query can never read as a perf win
    val failed = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query [min, max] over the repeats: a wide spread on unchanged code
    // marks a contended run (round 10's driver reported e73 at 2.7x its
    // reproducible cost with nothing in the artifact to say so)
    val spread = results.map { case (k, lo, hi, _) =>
      s"\"" + k + "\":[" + lo + "," + hi + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadEnd = loadAvg1
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"cpus":$effectiveCpus,"load_start":$loadStart,"load_end":$loadEnd,"failed":$failed,"queries":$qs,"spread":$spread,"sf":"$sfDir"}"""
    // Full per-query JSON goes to the file; stdout's LAST line is a COMPACT
    // summary (total + counts + 5 slowest) — round 2's driver sliced the
    // ~4 KB full line mid-JSON in its 2000-char tail window, so the printed
    // line must stay well under that.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try Files.writeString(Paths.get(out), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    // locale-independent 3dp rounding: an f-interpolator would emit "0,123"
    // under comma-decimal locales and .toDouble would then throw AFTER the
    // whole timed run, losing the line the driver parses
    val slow5 = results.sortBy(-_._2).take(5)
      .map { case (k, v, _, _) => s"\"" + k + "\":" + math.rint(v * 1000) / 1000 }
      .mkString("{", ",", "}")
    // compact line carries only the failure COUNT — the full name array
    // (in the file/full JSON) could alone overflow the driver's 2000-char
    // tail window if a broken build fails every query
    val nFailed = results.count(!_._4)
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"cpus":$effectiveCpus,"load":[$loadStart,$loadEnd],"n_queries":${results.size},"n_failed":$nFailed,"queries":$slow5,"queries_file":"$out","sf":"$sfDir"}"""
    spark.stop()
    println(compact)
  }
}
