package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.graftops.Bridge

/** Where a `foreachBatch` body runs its micro-batch, and what it reads of
  * the table earlier micro-batches wrote. */
object MicroBatch {

  /** `batch`, the frame a `foreachBatch` body receives, rebuilt over the
    * same logical plan in `spark`, the session that started the query.
    *
    * Spark hands the body a frame of the query's own session, which every
    * `start()` clones from the caller's. Each job records the session it
    * runs in (`ArtifactManager.withResources`), and the executor runs each
    * session's tasks under that session's own class loader. Generated code
    * is cached per (class loader, source) (`CodeGenerator.cache`), so a body
    * that writes in the clone's session compiles all of its task-side code
    * again on every query start: one `Trigger.AvailableNow` drain per
    * invocation never reuses a compiled class. Rebuilt here, the body's
    * jobs run under the caller's long-lived class loader and hit the cache
    * that earlier queries and batch runs filled.
    *
    * Only the session changes. The plan still reads the micro-batch's rows
    * from the query's own execution, so the source is scanned once and its
    * progress (`numInputRows`) still counts them; the stream thread's local
    * properties still tag the jobs with the query's job group (its
    * `runId`), so `stop()` still cancels them. The jobs carry the caller's
    * `spark-session-<uuid>` job tag, so the caller's `interruptAll` reaches
    * them too.
    *
    * `PipelineStream`, `StreamingUpsert` and `StreamingDedup` run their
    * micro-batches through here. `MaterializedView.autoRefresh` needs no
    * rebuild: its body ignores the batch and refreshes in the caller's
    * session already.
    */
  private[graft] def inSession(spark: SparkSession, batch: DataFrame): DataFrame =
    Bridge.ofRows(spark, batch.queryExecution.logical)

  /** The parquet table at `path`, or None before a first batch wrote it.
    * The path is checked first: a read of a missing path fails with
    * `PATH_NOT_FOUND`, and every `QueryExecutionListener` of the session
    * sees that failure (Spark's observation listener logs it as an ERROR
    * with a stack trace). A directory whose schema cannot be inferred
    * (one with no parquet file yet) counts as not written.
    */
  private[graft] def written(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else try Some(spark.read.parquet(path))
    catch { case _: AnalysisException => None }
  }
}
