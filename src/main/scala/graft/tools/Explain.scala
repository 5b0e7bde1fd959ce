package graft.tools

import graft.SparkEntry

/** Dev tool: print the formatted physical plan and wall time for one or
  * more named queries.
  *
  * {{{ runMain graft.tools.Explain <sfDir> <queryName> [queryName...] }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = graft.GraftSession.local()
    names.foreach { name =>
      // time from CONSTRUCTION: iterative queries (e.g. connected
      // components) run jobs while the DataFrame is being built, and the
      // bench harness charges them the same way
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name ====")
      df.explain("formatted")
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      println(f"==== $name rows=$n time=${(t2 - t1) / 1e9}%.2fs build=${(t1 - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
