package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** SCALING-EXPONENT REHEARSAL: time every registered query at three scale
  * factors (sf0.001 / sf0.01 / sf0.1 — two decades) and fit each query's
  * log-log slope over the top decade. A slope near 0 means the query is
  * still fixed-overhead-bound at sf0.1; near 1 means it scales linearly
  * with the data; meaningfully ABOVE 1 means superlinear work is hiding
  * somewhere (an accidental all-pairs join, a global sort that stopped
  * collapsing, a candidate set growing faster than its inputs) — exactly
  * the defect class that stays invisible in single-sf benches and then
  * detonates at cluster scale. The committed `SCALING_CURVE.json` turns
  * the "would this survive 100×" design argument into per-query measured
  * evidence, and `ScalingCurveSpec` pins it: every registered query must
  * have a measured curve and none may be flagged superlinear.
  *
  * Flag rule: slope_top = log10(t(sf0.1) / t(sf0.01)) > `Threshold`
  * AND t(sf0.1) > 1 s. The time floor keeps sub-second overhead jitter
  * (where a 0.05 s wobble swings the ratio) from flagging; the threshold
  * of 1.3 (a 20× time ratio for 10× data) sits far above honest linear
  * growth with overheads (ratio ≤ 10) and far below quadratic (ratio
  * ~100), so it is robust to the measured machine noise in both
  * directions. Min-of-`SPARK_GRAFT_SCALE_RUNS` (default 2) per (query,
  * sf) with a warmup pass, the Bench discipline.
  *
  * {{{ runMain graft.tools.ScalingProbe [outFile] }}}
  */
object ScalingProbe {

  val Threshold = 1.3
  val TimeFloorSec = 1.0
  val Sfs: Seq[(String, String)] = Seq(
    "0.001" -> "/root/testdata/sf0.001",
    "0.01" -> "/root/testdata/sf0.01",
    "0.1" -> "/root/testdata/sf0.1")

  private def loadAvg1: Double = graft.GraftSession.loadAvg1

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SCALING_CURVE.json")
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val loadStart = loadAvg1
    val spark = graft.GraftSession.local()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(name.startsWith) }

    def exhaust(fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame, dir: String): Boolean =
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[scaling] failed on $dir: $e"); false }

    // one warmup sweep (JIT, codegen, parquet reader paths) outside timing
    selected.foreach { case (_, fn) => exhaust(fn, Sfs.head._2) }

    val rows = selected.map { case (name, fn) =>
      val times = Sfs.map { case (_, dir) =>
        (1 to runs).map { _ =>
          graft.ops.Q.releaseAll(spark)
          val t0 = System.nanoTime()
          val ok = exhaust(fn, dir)
          val t = (System.nanoTime() - t0) / 1e9
          if (ok) t else Double.NaN
        }.min
      }
      val Seq(t1, t2, t3) = times
      def slope(hi: Double, lo: Double, decades: Double): Double =
        math.rint(math.log10(hi / lo) / decades * 1000) / 1000
      val slopeTop = slope(t3, t2, 1.0)
      val slopeFull = slope(t3, t1, 2.0)
      // a query that FAILED every run at some sf (times NaN) must flag —
      // failure at scale is the superlinear symptom in its worst form,
      // and `NaN > Threshold` alone would silently report it healthy
      val flag = times.exists(_.isNaN) ||
        (slopeTop > Threshold && t3 > TimeFloorSec)
      System.err.println(f"[scaling] $name%-28s ${t1}%.2f ${t2}%.2f ${t3}%.2f slope=$slopeTop%.2f${if (flag) "  ** SUPERLINEAR **" else ""}")
      (name, times, slopeTop, slopeFull, flag)
    }
    graft.ops.Q.releaseAll(spark)
    spark.stop()

    val nFlagged = rows.count(_._5)
    // strict JSON: bare NaN (failed runs, NaN-derived slopes) is not
    // valid JSON and would make the artifact unreadable — emit null
    def num(d: Double): String = if (d.isNaN) "null" else d.toString
    val qJson = rows.map { case (name, ts, sTop, sFull, flag) =>
      s"""{"name":"$name","t":[${ts.map(num).mkString(",")}],"slope_top":${num(sTop)},"slope_full":${num(sFull)},"flag":$flag}"""
    }.mkString("[", ",\n", "]")
    val json =
      s"""{"sfs":[${Sfs.map(s => "\"" + s._1 + "\"").mkString(",")}],"runs":$runs,"threshold":$Threshold,"time_floor_sec":$TimeFloorSec,"load":[$loadStart,$loadAvg1],"n_queries":${rows.size},"n_flagged":$nFlagged,
"queries":$qJson}
"""
    Files.writeString(Paths.get(out), json)
    println(s"""{"n_queries":${rows.size},"n_flagged":$nFlagged,"out":"$out"}""")
  }
}
