package graft.plans

import scala.annotation.tailrec
import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Expression, InputFileName, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{FileScanRDD, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftops.Bridge
import org.apache.spark.storage.StorageLevel

/** A WHOLE-OPERATOR Catalyst extension: per-key top-k as a first-class
  * physical operator with MAP-SIDE PARTIAL PRUNING — the (c)-tier custom
  * surface (LogicalPlan + Strategy + SparkPlan via SparkSessionExtensions)
  * that the built-ins genuinely cannot express.
  *
  * The built-in spelling of per-group top-k — `row_number` over a keyed
  * window — shuffles EVERY input row to its key's partition and sorts
  * there: at 100 TB the shuffle carries the whole fact table to keep, per
  * key, only k rows. This operator plans TWO pipelined stages instead:
  *
  *   - PARTIAL (before the exchange): each input partition keeps at most
  *     k rows per key in a bounded heap — shuffle volume drops from
  *     O(rows) to O(distinct keys per partition · k), the same partial/
  *     final contract hash aggregation uses;
  *   - FINAL (after a ClusteredDistribution-induced hash exchange): the
  *     identical heap pass over co-located survivors yields the exact
  *     answer.
  *
  * The ordering must be TOTAL (add a tiebreak column) for the result set
  * to be deterministic — same contract as every rank window in this repo.
  *
  * A `local` node is planned as the partial pass alone: no exchange, no
  * final stage. It is exact only when every key group already lies within
  * one partition, which [[TopKPerKey.localTopK]] proves before it builds one.
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, local: Boolean, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : TopKPerKeyNode = copy(child = newChild)
}

/** One bounded-heap pass; `partial` selects the distribution contract: a
  * partial pass requires none (the first stage of the pair, or the whole
  * of a local node), a final one clusters its input by the keys.
  */
case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  // the partial stage's numOutputRows IS the pruning evidence: it bounds
  // what crosses the exchange at keys-per-partition × k
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"))

  override protected def withNewChildInternal(newChild: SparkPlan)
      : TopKPerKeyExec = copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortExprs = order
    val childOutput = child.output
    val limit = k
    val outRows = longMetric("numOutputRows")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortExprs, childOutput)
      // max-heap per key: head = the WORST kept row; a new row enters only
      // if it beats the head, so each partition holds <= k rows per key
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](
              (a: InternalRow, b: InternalRow) => ord.compare(a, b))
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < limit) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      heaps.valuesIterator.flatMap(_.iterator).map { r =>
        outRows += 1
        r
      }
    }
  }
}

/** Plans the logical node as partial → (exchange via EnsureRequirements)
  * → final, or a local node as the partial pass alone. Injected with
  * `e.injectPlannerStrategy(TopKPerKeyStrategy)`.
  */
case class TopKPerKeyStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, local, child) =>
      val partial = TopKPerKeyExec(keys, order, k, partial = true, planLater(child))
      if (local) partial :: Nil
      else TopKPerKeyExec(keys, order, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** Per-key top-k of `df`: the k first rows of each key under `order`
    * (which must be a total order for determinism). Returns the rows
    * unchanged — callers project/rank afterwards if needed.
    */
  def topK(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int)
      : DataFrame = node(df, keys, order, k, local = false)

  /** [[topK]] as one partition-local pass, with no exchange and no final
    * stage, or None when `df`'s plan does not prove that pass exact. The
    * proof is that every key group lies within one partition:
    *   - one of `keys` is `input_file_name()`, computed in the pass that
    *     reads the file (above a cache it reads "" for every row), so a
    *     group never spans two files;
    *   - the leaf reads each input file whole into one partition: a file
    *     scan whose format does not split its files under the scan's
    *     options (multi-line JSON, say), or an existing RDD (a
    *     `foreachBatch` micro-batch) whose lineage is such a file scan,
    *     one to one and not persisted;
    *   - only row-local operators (`Project`, `Filter`, `Generate`) lie
    *     between the leaf and `df`, so rows keep the partition they were
    *     read in. A persisted frame whose own plan holds the scan and the
    *     file name keeps them too: its cached partitions are those of the
    *     plan it caches.
    * The pass keeps the best k rows per key whatever order they arrive in,
    * so it needs no input ordering.
    */
  def localTopK(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int)
      : Option[DataFrame] = {
    val out = node(df, keys, order, k, local = true)
    out.queryExecution.withCachedData match {
      case n: TopKPerKeyNode
          if readsFilesWhole(n.child, n.keys.collect { case a: Attribute => a.exprId }.toSet,
            named = false) => Some(out)
      case _ => None
    }
  }

  private def node(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
      local: Boolean): DataFrame = {
    val spark = df.sparkSession
    // the strategy travels with the API: sessions built without
    // spark.sql.extensions plan the node too
    install(spark)
    val sortOrders = order.map(c => Bridge.expression(spark, c) match {
      case so: SortOrder => so
      case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    })
    Bridge.ofRows(spark,
      TopKPerKeyNode(keys.map(c => Bridge.expression(spark, c)), sortOrders, k, local,
        df.queryExecution.analyzed))
  }

  /** Adds [[TopKPerKeyStrategy]] to `spark`'s extra strategies unless it is
    * there. The check and the append hold the session's lock on its
    * experimental methods, so threads sharing a session (a stream's
    * micro-batch and its caller) neither drop an entry nor add it twice.
    */
  private[graft] def install(spark: SparkSession): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraStrategies.exists(_.isInstanceOf[TopKPerKeyStrategy]))
        methods.extraStrategies = methods.extraStrategies :+ TopKPerKeyStrategy(spark)
    }
  }

  /** Whether `plan` reads each input file whole into one partition and
    * keeps its rows there, naming each row's file in one of the attributes
    * `names`; `named` once an operator above `plan` has computed that name.
    */
  @tailrec private def readsFilesWhole(plan: LogicalPlan, names: Set[ExprId],
      named: Boolean): Boolean = plan match {
    case Project(list, child) =>
      readsFilesWhole(child, names, named || list.exists {
        case a @ Alias(_: InputFileName, _) => names(a.exprId)
        case _ => false
      })
    case p @ (_: Filter | _: Generate) => readsFilesWhole(p.children.head, names, named)
    case m: InMemoryRelation
        if !named && !m.cacheBuilder.cachedPlan.exists(_.isInstanceOf[InMemoryTableScanExec]) =>
      val cached = m.cacheBuilder.logicalPlan
      val inner = m.output.zip(cached.output).collect {
        case (o, c) if names(o.exprId) => c.exprId
      }.toSet
      readsFilesWhole(cached, inner, named)
    case r: LogicalRelation if named => r.relation match {
      case fs: HadoopFsRelation => fs.location.inputFiles.forall(f =>
        !fs.fileFormat.isSplitable(fs.sparkSession, fs.options, new Path(f)))
      case _ => false
    }
    case r: LogicalRDD if named => scansFilesWhole(r.rdd)
    case _ => false
  }

  /** Whether `rdd` maps one to one onto the partitions of a file scan that
    * reads every file whole, each in one partition.
    */
  @tailrec private def scansFilesWhole(rdd: RDD[_]): Boolean = rdd match {
    case _ if rdd.getStorageLevel != StorageLevel.NONE => false // may skip the scan
    case scan: FileScanRDD =>
      val files = scan.filePartitions.flatMap(_.files)
      files.forall(f => f.start == 0 && f.length == f.fileSize) &&
        files.map(_.filePath).distinct.size == files.size
    case _ => rdd.dependencies match {
      case Seq(d: OneToOneDependency[_]) => scansFilesWhole(d.rdd)
      case _ => false
    }
  }
}
