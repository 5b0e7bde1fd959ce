package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Pins [[GraftSession]]'s settings list as the test session sees it, and
  * that `setup` installs graft's functions and rules once however often it
  * runs.
  */
class GraftSessionSpec extends SparkSpec {

  test("the session runs the one settings list") {
    val conf = spark.sessionState.conf
    assert(conf.sessionLocalTimeZone === "UTC")
    assert(conf.getConfString("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.adaptiveExecutionEnabled)
    assert(conf.numShufflePartitions === 4)
    assert(spark.sparkContext.master === "local[4]")
    assert(!spark.sparkContext.getConf.getBoolean("spark.ui.enabled", true))
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("setup registers graft's functions, strategy and rules exactly once") {
    def installed(): Seq[Int] = {
      val opt = spark.experimental.extraOptimizations
      Seq(
        spark.experimental.extraStrategies
          .count(_.isInstanceOf[graft.plans.TopKPerKeyStrategy]),
        opt.count(_ == graft.plans.WindowTopKRewrite),
        opt.count(_ == graft.sources.VTableBroadcastHints))
    }
    val reg = spark.sessionState.functionRegistry
    Seq("cosine_sim", "dot_product").foreach { f =>
      assert(reg.functionExists(FunctionIdentifier(f)), s"$f not registered")
    }
    assert(installed() === Seq(1, 1, 1))
    GraftSession.setup(spark)
    assert(installed() === Seq(1, 1, 1))
  }
}
