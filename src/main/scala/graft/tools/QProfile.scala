package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only per-query job profiler: runs ONE named query (repeated
  * SPARK_GRAFT_BENCH_RUNS times, default 2 — first run warms codegen)
  * through the noop sink and prints, for the LAST run, every Spark job's
  * call site and wall duration plus the DRIVER GAP since the previous
  * job ended (listings, footer reads, manifest IO, planning — everything
  * that is not a job). This is the §1 "where does the time actually go"
  * instrument for multi-commit lifecycle queries, whose cost is mostly
  * fixed overhead per commit rather than data volume.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.QProfile q125_sql_merge"
  */
object QProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QProfile <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    val spark = graft.GraftSession.local()

    final case class JobRec(id: Int, site: String, start: Long,
        var end: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[JobRec]())
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (recording) {
          val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
          val r = JobRec(js.jobId, site, System.nanoTime())
          jobs.put(js.jobId, r); order.add(r)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.end = System.nanoTime()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"no such query: $name"))
      (1 until runs).foreach { _ =>
        graft.ops.Q.releaseAll(spark)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      graft.ops.Q.releaseAll(spark)
      jobs.clear(); order.clear()
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      recording = false
      Thread.sleep(200) // let job-end events drain
      println(s"=== $name total ${f"$total%.3f"}s, ${order.size} jobs ===")
      var prevEnd = t0
      var jobSum = 0.0
      var gapSum = 0.0
      order.forEach { r =>
        val gap = (r.start - prevEnd) / 1e9
        val dur = if (r.end == 0L) Double.NaN else (r.end - r.start) / 1e9
        jobSum += (if (dur.isNaN) 0.0 else dur)
        gapSum += math.max(0.0, gap)
        println(f"  job ${r.id}%4d gap $gap%7.3f dur $dur%7.3f  ${r.site}")
        if (r.end > prevEnd) prevEnd = r.end
      }
      println(f"  [sum] jobs $jobSum%.3f s, driver gaps $gapSum%.3f s, " +
        f"total $total%.3f s")
    }
    spark.stop()
  }
}
