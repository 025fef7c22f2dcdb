package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{NarrowDependency, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{MultiInstanceRelation, UpdateAttributeNullability}
import org.apache.spark.sql.catalyst.expressions.{Attribute, IntegerLiteral, InterpretedMutableProjection, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.{ConvertToLocalRelation, PropagateEmptyRelation}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LeafNode, LocalLimit, LocalRelation, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.ArraySeq
import scala.util.control.NonFatal

/** A DataFrame over driver-held rows already in Catalyst's internal form.
  * `SparkSession.createDataFrame` takes external `Row`s and converts every
  * one of them on each call; a source that keeps its rows converted (the
  * per-item snapshot cache of [[graft.engine.MemGraph]]) hands them to the
  * plan as they are, so the plan and the cache share one copy.
  *
  * The plan's leaf is a [[DriverRelation]], not Spark's `LocalRelation`.
  * Both hold the rows on the driver, but Catalyst walks a `LocalRelation`'s
  * rows in every plan traversal and comparison (`QueryPlan.expressions`
  * flattens every `Iterable` field of a node); over a 10k-item graph that
  * walk was most of a fetch's planning. A `DriverRelation` keeps its rows
  * behind [[DriverRows]], which is not `Iterable` and compares by
  * reference. What Spark does for a `LocalRelation` is kept: [[FoldDriverRows]]
  * folds projections, filters and limits into the rows on the driver and
  * turns an empty result into an empty `LocalRelation`, so a fetch whose
  * filters match nothing still plans to an empty relation and runs no job.
  * [[DriverScanExec]] scans what is left: one partition, and a broadcast
  * of it collects on the driver without a Spark job.
  *
  * This is the only builder of driver-held frames; it installs the rule
  * and the strategy on the session (idempotently; both match only
  * `DriverRelation`, so they leave every other plan alone).
  * `Dataset.ofRows` is private to Spark's `sql` package, hence this one.
  *
  * [[collect]] is the read side: a plan over driver-held rows alone runs
  * on the calling thread with no Spark job (see [[DriverRun]]). */
object LocalFrame {
  def apply(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    install(spark)
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DriverRelation(DataTypeUtils.toAttributes(schema), new DriverRows(rows.toIndexedSeq)))
  }

  /** `df.collect()`, run on the driver when the executed plan is
    * [[driverOnly]] and its RDD is one partition over narrow dependencies:
    * the same rows, one SQL execution (listeners and SQL metrics as for
    * `collect`), and no Spark job. Any other plan is `df.collect()`. */
  def collect(df: DataFrame): Array[Row] = DriverRun.collect(df)

  /** Whether every leaf of `plan` and of its subqueries is a
    * `LocalTableScanExec` ([[DriverScanExec]] included) and no node is a
    * shuffle; a reused exchange is judged by the exchange it reuses. An
    * adaptive plan is a leaf of another kind, so it fails. */
  def driverOnly(plan: SparkPlan): Boolean = plan.collectWithSubqueries {
    case _: ShuffleExchangeLike => false
    case r: ReusedExchangeExec => driverOnly(r.child)
    case l if l.children.isEmpty => l.isInstanceOf[LocalTableScanExec]
  }.forall(identity)

  private def install(spark: SparkSession): Unit = synchronized {
    val x = spark.experimental
    if (!x.extraOptimizations.contains(FoldDriverRows))
      x.extraOptimizations = x.extraOptimizations :+ FoldDriverRows
    if (!x.extraStrategies.contains(DriverScanStrategy))
      x.extraStrategies = x.extraStrategies :+ DriverScanStrategy
  }
}

/** The rows of a [[DriverRelation]]. Not a collection and compared by
  * reference, so plan traversals and plan equality never visit a row. */
final class DriverRows(val rows: IndexedSeq[InternalRow]) {
  override def toString: String = s"<${rows.length} rows>"
}

/** A leaf over rows held on the driver: what `LocalRelation` is, with its
  * rows out of Catalyst's reach (see [[LocalFrame]]). Size estimate and
  * row count are `LocalRelation`'s, so join selection is unchanged. */
case class DriverRelation(output: Seq[Attribute], data: DriverRows)
    extends LeafNode with MultiInstanceRelation {

  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))

  override def maxRows: Option[Long] = Some(data.rows.length.toLong)

  override def computeStats(): Statistics = Statistics(
    sizeInBytes = EstimationUtils.getSizePerRow(output) * data.rows.length,
    rowCount = Some(data.rows.length))
}

/** `ConvertToLocalRelation` for [[DriverRelation]]: a `Project`, `Filter`
  * or limit directly over driver rows is evaluated on the driver into new
  * rows. A fold that leaves no rows gives an empty `LocalRelation`, and
  * Spark's `PropagateEmptyRelation` then empties the joins and aggregates
  * above it, as Spark's own `LocalRelation` batch does. The rule runs in
  * the session's extra-optimizations batch, after Spark's batches. */
object FoldDriverRows extends Rule[LogicalPlan] {
  import ConvertToLocalRelation.hasUnevaluableExpr

  def apply(plan: LogicalPlan): LogicalPlan = {
    var emptied = false
    def relation(output: Seq[Attribute], rows: IndexedSeq[InternalRow]): LogicalPlan =
      if (rows.isEmpty) { emptied = true; LocalRelation(output) }
      else DriverRelation(output, new DriverRows(rows))
    val folded = plan.transformUp {
      case Project(list, DriverRelation(output, data)) if !list.exists(hasUnevaluableExpr) =>
        val projection = new InterpretedMutableProjection(list, output)
        projection.initialize(0)
        relation(list.map(_.toAttribute), data.rows.map(projection(_).copy()))
      case Filter(condition, DriverRelation(output, data)) if !hasUnevaluableExpr(condition) =>
        val predicate = Predicate.create(condition, output)
        predicate.initialize(0)
        relation(output, data.rows.filter(predicate.eval))
      case GlobalLimit(IntegerLiteral(n), DriverRelation(output, data)) =>
        relation(output, data.rows.take(n))
      // one partition: the per-partition limit is the limit
      case LocalLimit(IntegerLiteral(n), DriverRelation(output, data)) =>
        relation(output, data.rows.take(n))
      case DriverRelation(output, data) if data.rows.isEmpty =>
        relation(output, data.rows)
    }
    if (emptied) UpdateAttributeNullability(PropagateEmptyRelation(folded)) else folded
  }
}

object DriverScanStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: DriverRelation => new DriverScanExec(r.output, r.data.rows, None) :: Nil
    case _ => Nil
  }
}

/** The scan of a [[DriverRelation]]: a `LocalTableScanExec` that reports
  * one partition and hands its rows to a broadcast on the driver.
  *
  *   - `executeCollectIterator` is what `BroadcastExchangeExec` calls on
  *     its child; `LocalTableScanExec` leaves it to `SparkPlan`, which runs
  *     a Spark job to collect rows the driver already holds.
  *   - `SinglePartition`: the rows sit in one heap and `MemGraph` targets
  *     ~10k items, so one task scans them, and an aggregate over the scan
  *     (a chain's uid dedup) needs no Exchange. A plan of such scans is
  *     therefore one partition over narrow dependencies, which is what
  *     lets [[LocalFrame.collect]] compute it on the calling thread
  *     instead of in that one task ([[DriverRun]]).
  *   - It stays a `LocalTableScanExec` because `CollapseCodegenStages`
  *     never makes one the root of a codegen stage; any other leaf would
  *     be wrapped in `WholeStageCodegenExec`, and a broadcast over that
  *     runs its job again.
  *
  * The constructor keeps `LocalTableScanExec`'s three arguments, which
  * Catalyst's reflective `makeCopy` relies on; the body reads them through
  * the inherited (transient) fields. */
class DriverScanExec(output0: Seq[Attribute], rows0: Seq[InternalRow],
    stream0: Option[SparkDataStream]) extends LocalTableScanExec(output0, rows0, stream0) {

  @transient private lazy val scanRows: Array[InternalRow] = {
    lazy val projection = UnsafeProjection.create(output, output)
    rows.iterator.map {
      case u: UnsafeRow => u
      case r => projection(r).copy()
    }.toArray
  }

  @transient private lazy val scanRdd: RDD[InternalRow] =
    sparkContext.parallelize(ArraySeq.unsafeWrapArray(scanRows), 1)

  override def outputPartitioning: Partitioning = SinglePartition

  override def inputRDD: RDD[InternalRow] = scanRdd

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    scanRdd.map { r => numOutputRows += 1; r }
  }

  override def executeCollect(): Array[InternalRow] = {
    longMetric("numOutputRows").add(scanRows.length)
    scanRows
  }

  override def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
    val all = executeCollect()
    (all.length.toLong, all.iterator)
  }
}

/** Runs a [[LocalFrame.driverOnly]] plan on the calling thread.
  *
  * Such a plan reads only rows the driver already holds, and over
  * [[graft.engine.MemGraph]] (a ~10k-item working set) its scans are one
  * partition, so a Spark job for it is one task whose scheduling, task
  * serialization and result encoding cost more than the work. Here the
  * plan's one partition is computed with `rdd.iterator` under a driver-side
  * `TaskContext` that owns its own `TaskMemoryManager` (HashAggregate and
  * Sort allocate through it); on success and on failure the context is
  * marked completed, its memory freed and the `TaskContext` unset.
  *
  * The run sits inside `SQLExecution.withNewExecutionId`, as
  * `Dataset.collect` does, so execution events and
  * `QueryExecutionListener`s see it, and the plan's SQL metrics are reset
  * before and posted after it. A broadcast whose child is driver-only
  * collects that child the same way ([[DriverCollectExec]]). No job means
  * no job group: a driver-run read cannot be cancelled through
  * `SparkContext.cancelJobGroup`; `MemGraph`'s working-set bound is what
  * keeps it short.
  *
  * A plan that fails the predicate (a file scan, a cached relation, a
  * shuffle, an adaptive plan) runs `df.collect()` unchanged; a driver-only
  * plan whose RDD has more than one partition or a shuffle dependency (a
  * union, or an operator over Spark's own `LocalTableScanExec`, which
  * spreads its rows) collects through its job, inside the same execution. */
private[graft] object DriverRun {

  /** Task attempt ids of driver runs: negative, so they never meet the
    * scheduler's ids in the memory manager's per-task accounting. */
  private val taskIds = new AtomicLong(0L)

  def collect(df: DataFrame): Array[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // a plan that fails to build fails again, as it does today, in collect()
    val local = try LocalFrame.driverOnly(ds.queryExecution.executedPlan)
      catch { case NonFatal(_) => false }
    if (local) runOnDriver(ds) else df.collect()
  }

  /** `Dataset.collect`'s execution around [[collectRows]]. */
  private def runOnDriver(ds: classic.Dataset[Row]): Array[Row] = {
    val qe = ds.queryExecution
    val fromRow = ds.exprEnc
      .resolveAndBind(ds.logicalPlan.output, ds.sparkSession.sessionState.analyzer)
      .createDeserializer()
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      QueryExecution.withInternalError("""The "collect" action failed.""") {
        val plan = qe.executedPlan
        plan.resetMetrics()
        val run = withDriverBroadcasts(plan)
        val rows = try collectRows(run) finally {
          keepMetrics(plan, run)
          val sc = ds.sparkSession.sparkContext
          SQLMetrics.postDriverMetricUpdates(sc, sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
            plan.collectWithSubqueries { case p => p.metrics.values }.flatten)
        }
        rows.map(fromRow)
      }
    }
  }

  /** `plan` with each broadcast of a driver-only child (other than a
    * [[DriverScanExec]], which collects without a job already) collecting
    * that child through [[DriverCollectExec]]. A reused broadcast reuses
    * the same wrapped copy, so the child is still collected once. */
  private def withDriverBroadcasts(plan: SparkPlan): SparkPlan = {
    val wrapped = new java.util.IdentityHashMap[BroadcastExchangeExec, BroadcastExchangeExec]()
    def wrap(b: BroadcastExchangeExec): BroadcastExchangeExec = wrapped.computeIfAbsent(b,
      _ => b.withNewChildren(Seq(DriverCollectExec(b.child))).asInstanceOf[BroadcastExchangeExec])
    def driverCollected(b: BroadcastExchangeExec): Boolean =
      !b.child.isInstanceOf[DriverScanExec] && LocalFrame.driverOnly(b.child)
    plan.transformUp {
      case b: BroadcastExchangeExec if driverCollected(b) => wrap(b)
      case r @ ReusedExchangeExec(_, b: BroadcastExchangeExec) if driverCollected(b) =>
        r.copy(child = wrap(b))
    }
  }

  /** The plan's rows: a scan's own rows (its collect runs no job), else
    * computed on the driver when the plan's RDD is one partition over
    * narrow dependencies, else collected through a Spark job. */
  def collectRows(plan: SparkPlan): Array[InternalRow] = plan match {
    case scan: LocalTableScanExec => scan.executeCollect()
    case _ =>
      val rdd = plan.execute()
      if (rdd.partitions.length == 1 && narrow(rdd)) compute(rdd) else plan.executeCollect()
  }

  private def narrow(rdd: RDD[_]): Boolean = rdd.dependencies.forall {
    case d: NarrowDependency[_] => narrow(d.rdd)
    case _ => false
  }

  /** Partition 0 of `rdd`, computed on this thread as an executor would
    * compute it in a task. */
  private def compute(rdd: RDD[InternalRow]): Array[InternalRow] = {
    val env = SparkEnv.get
    val taskId = taskIds.decrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, taskId)
    val context = new TaskContextImpl(0, 0, 0, taskId, 0, 1, memory,
      org.apache.spark.util.Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      env.metricsSystem)
    TaskContext.setTaskContext(context)
    try {
      val rows = rdd.iterator(rdd.partitions(0), context).map(_.copy()).toArray
      context.markTaskCompleted(None)
      rows
    } catch {
      case e: Throwable =>
        try context.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
        context.markTaskCompleted(Some(e))
        throw e
    } finally {
      try memory.cleanUpAllAllocatedMemory() finally TaskContext.unset()
    }
  }

  /** Copies into `orig` the metrics its nodes' copies in `run` counted:
    * wrapping a broadcast child copies the broadcast and its ancestors,
    * while the listeners registered the original plan's metrics. */
  private def keepMetrics(orig: SparkPlan, run: SparkPlan): Unit = run match {
    case _ if run eq orig => ()
    case DriverCollectExec(child) => keepMetrics(orig, child)
    case _ =>
      orig.metrics.foreach { case (k, m) => run.metrics.get(k).foreach(m.merge) }
      orig.children.zip(run.children).foreach { case (o, r) => keepMetrics(o, r) }
  }
}

/** The child of a broadcast, collected by [[DriverRun]]. `BroadcastExchangeExec`
  * collects its child with `executeCollectIterator`, which for any node but
  * a scan of driver rows runs a Spark job; under this wrapper a driver-only
  * child (the aggregate of an FTS match set) runs on the driver instead.
  * The broadcast counts the rows it receives into its own `numOutputRows`. */
case class DriverCollectExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
    val rows = DriverRun.collectRows(child)
    (rows.length.toLong, rows.iterator)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DriverCollectExec =
    copy(child = newChild)
}
