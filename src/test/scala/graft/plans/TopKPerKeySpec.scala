package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Custom physical operator pins: result ≡ the rank-window form, the plan
  * carries the partial/final pair with an exchange between them, the
  * partial stage's bound holds across partitions, and concurrent installs
  * of the strategy add it once.
  */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  test("topK equals the rank-window form on a multi-partition input") {
    val df = (1L to 400L).map(i => (s"k${i % 7}", i, (i * 37 % 101).toDouble))
      .toDF("key", "id", "score").repartition(8)
    val got = TopKPerKey.topK(df, Seq(col("key")),
        Seq(col("score").desc, col("id")), 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("score").desc, col("id"))
    val expect = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === expect)
    assert(got.size === 35) // 7 keys × 5
  }

  test("plan: partial and final TopKPerKeyExec with an exchange between") {
    val df = (1L to 100L).map(i => (s"k${i % 3}", i)).toDF("key", "id")
      .repartition(4)
    val res = TopKPerKey.topK(df, Seq(col("key")), Seq(col("id")), 2)
    res.collect()
    val full = res.queryExecution.executedPlan.toString
    // under AQE the string repeats as Final/Initial plan — inspect the
    // final section only
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert("TopKPerKey \\[".r.findAllIn(plan).size === 2, plan)
    // node prints `TopKPerKey [keys], [order], k, partial`
    val partialIdx = plan.indexOf("2, true")
    val finalIdx = plan.indexOf("2, false")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0 && finalIdx >= 0 && exchangeIdx >= 0, plan)
    // tree prints parents first: final above exchange above partial
    assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx, plan)
  }

  test("metrics: the partial stage emits at most keys×partitions×k rows") {
    // 1000 rows, 3 keys, 5 partitions, k=2 → partial bound 3·5·2 = 30.
    // AQE off so the executed tree holds the LIVE metric instances
    // (adaptive stages re-instantiate plan copies whose accumulators
    // stay at zero).
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = (1L to 1000L).map(i => (s"k${i % 3}", i)).toDF("key", "id")
        .repartition(5)
      val res = TopKPerKey.topK(df, Seq(col("key")), Seq(col("id")), 2)
      // collect() (not count()) — count() builds a SEPARATE QueryExecution
      // whose metrics are the ones that tick
      assert(res.collect().length === 6) // 3 keys × 2
      val partials = res.queryExecution.executedPlan.collect {
        case t: TopKPerKeyExec if t.partial => t }
      assert(partials.nonEmpty, res.queryExecution.executedPlan.toString)
      val emitted = partials.head.metrics("numOutputRows").value
      assert(emitted <= 30, s"partial emitted $emitted rows — pruning broken")
      assert(emitted >= 6)
    } finally saved match {
      case Some(v) => conf.set("spark.sql.adaptive.enabled", v)
      case None => conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("k larger than any group returns everything; ties break on the id") {
    val df = Seq(("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 10.0),
      ("b", 4L, 1.0)).toDF("key", "id", "score").repartition(3)
    val all = TopKPerKey.topK(df, Seq(col("key")),
      Seq(col("score").desc, col("id")), 10).collect()
    assert(all.length === 4)
    val top2 = TopKPerKey.topK(df, Seq(col("key")),
        Seq(col("score").desc, col("id")), 2)
      .filter(col("key") === "a")
      .collect().map(_.getLong(1)).toSet
    assert(top2 === Set(1L, 2L)) // equal scores → lowest ids win
  }

  test("threads racing to install the strategy add it exactly once") {
    val session = spark.newSession()
    def installed = session.experimental.extraStrategies.count(_.isInstanceOf[TopKPerKeyStrategy])
    assert(installed === 0)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val installs = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = { go.await(); (1 to 100).foreach(_ => TopKPerKey.install(session)) }
      }))
      go.countDown()
      installs.foreach(_.get())
    } finally pool.shutdown()
    assert(installed === 1)
  }
}
