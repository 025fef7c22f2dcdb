package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
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
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.ArraySeq

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
  * `Dataset.ofRows` is private to Spark's `sql` package, hence this one. */
object LocalFrame {
  def apply(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    install(spark)
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DriverRelation(DataTypeUtils.toAttributes(schema), new DriverRows(rows.toIndexedSeq)))
  }

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
  *     (a chain's uid dedup) needs no Exchange.
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
