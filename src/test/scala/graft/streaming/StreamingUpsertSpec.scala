package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** One change-stream row for the upsert sink. */
case class Change(key: Long, ts: Timestamp, change_id: Long, value: Double)

/** Pins the streaming CDC apply: last-write-wins across micro-batches,
  * inserts for new keys, updates for existing ones, idempotent re-merge of
  * an already-applied batch, and a first batch (of the upsert and of the
  * dedup gate) that fails no query.
  */
class StreamingUpsertSpec extends SparkSpec {

  private def ch(k: Long, mm: Int, id: Long, v: Double) =
    Change(k, Timestamp.valueOf(f"2024-01-01 10:$mm%02d:00"), id, v)

  test("foreachBatch merge applies inserts, updates, and LWW across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val table = Files.createTempDirectory("graft-upsert").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-upsert-ckpt").toString
    val ms = MemoryStream[Change]
    val q = StreamingUpsert.start(ms.toDF(), table, ckpt)

    // batch 1: three inserts
    ms.addData(ch(1, 1, 100, 10.0), ch(2, 2, 101, 20.0), ch(3, 3, 102, 30.0))
    q.processAllAvailable()
    // batch 2: update key 2 (later ts), stale change for key 3 (earlier
    // ts — must LOSE), insert key 4
    ms.addData(ch(2, 9, 103, 25.0), ch(3, 1, 104, 99.0), ch(4, 5, 105, 40.0))
    q.processAllAvailable()
    q.stop()

    val state = spark.read.parquet(table).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Double]("value")).toMap
    assert(state === Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0, 4L -> 40.0))
  }

  test("re-merging an applied batch is idempotent (at-least-once safety)") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft-upsert2").toString + "/t"
    val batch = Seq(ch(1, 1, 100, 10.0), ch(2, 2, 101, 20.0)).toDF()
    StreamingUpsert.mergeBatch(spark, batch, table)
    val once = spark.read.parquet(table).orderBy(col("key")).collect().toSeq
    StreamingUpsert.mergeBatch(spark, batch, table) // redelivery
    val twice = spark.read.parquet(table).orderBy(col("key")).collect().toSeq
    assert(once === twice)
  }

  test("equal timestamps fall back to change_id as the deterministic tiebreak") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft-upsert3").toString + "/t"
    StreamingUpsert.mergeBatch(spark,
      Seq(ch(7, 4, 200, 1.0), ch(7, 4, 201, 2.0)).toDF(), table)
    val row = spark.read.parquet(table).collect().head
    assert(row.getAs[Double]("value") === 2.0) // higher change_id wins
  }

  test("the first batch of an upsert or a dedup fails no query") {
    import spark.implicits._
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        failures.add(s"$f: ${e.getMessage}")
    }
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-first-batch").toString
    ListenerBusDrain(sc)
    spark.listenerManager.register(listener)
    try {
      StreamingUpsert.mergeBatch(spark, Seq(ch(1, 1, 100, 10.0)).toDF(), s"$dir/t")
      StreamingDedup.processBatch(spark, Seq(Doc(1, "alpha")).toDF(), s"$dir/fp",
        s"$dir/acc", batchId = 0L)
      ListenerBusDrain(sc)
    } finally spark.listenerManager.unregister(listener)
    assert(failures.isEmpty, failures)
    assert(spark.read.parquet(s"$dir/t").select("key").as[Long].collect().toSeq === Seq(1L))
    assert(spark.read.parquet(s"$dir/acc").select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }
}
