package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.ops.ManifestFileIndex

/** Metadata-only aggregates over a manifest-backed table — the
  * Iceberg/Delta "answer from table metadata" optimization as a Catalyst
  * [[Rule]]: a grouping-free aggregate whose every expression is
  * `count(1)`, `min(col)`, or `max(col)` over span-covered columns, and
  * whose child bottoms out at a [[graft.ops.ManifestFileIndex]] relation
  * (through row-preserving Projects only), folds to a [[LocalRelation]]
  * computed from the manifest — zero tasks, zero file opens. Spans record
  * EXACT per-file min/max (not sketches), so the fold is exact:
  *
  *   - `count(1)` (non-null literal) → Σ span rows; `count(col)` over a
  *     declared stat column → Σ (rows − nulls) when every file records a
  *     v3 null counter (Iceberg's null_value_counts);
  *   - `min`/`max` of a LAYOUT key (integral attribute only — a
  *     timestamp layout key's spans live in cast-long SECONDS, not the
  *     micros Catalyst wants) → min/max over span intervals;
  *   - `min`/`max` of a declared STAT column → same, already recorded in
  *     Catalyst's internal literal domains (micros/days/integral), with
  *     all-null files' EMPTY intervals skipped and an all-null table
  *     answering NULL — exactly what the scan would return.
  *
  * Any filter, grouping key, DISTINCT, filter clause, other aggregate, or
  * uncovered column blocks the fold; so does a generation carrying
  * deletion-vector tombstones (tombstoned rows may hold the extremes, and
  * the physical count overcounts — that plan shape reads through a
  * Filter and never matches here, but the index check backstops it).
  *
  * Registration: `ManifestAggs.enable(spark)` appends the rule to
  * `spark.experimental.extraOptimizations` (idempotent; `disable`
  * removes that copy), and sessions built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` get it
  * injected at build time (that copy has no off switch — it matches
  * only manifest-backed relations, so it is inert on every other
  * plan). A plain SparkSession without either is byte-identical to
  * earlier rounds.
  */
object ManifestAggs extends Rule[LogicalPlan] {

  def enable(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }

  def disable(spark: SparkSession): Unit = synchronized {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq this)
  }

  /** The chain below the aggregate must preserve rows exactly: Projects
    * do, nothing else is admitted. Returns the index when the relation
    * is manifest-backed and tombstone-free, PLUS the exprIds of relation
    * output attributes each Project passed through UNCHANGED — min/max
    * may only fold on those (an expression ALIASED to a span-covered
    * column's name, e.g. `withColumn("a", a * 2)` or
    * `select(b.as("a"))`, must not resolve to the manifest's extremes
    * by name). */
  private def manifestOf(
      plan: LogicalPlan): Option[(ManifestFileIndex, Set[ExprId])] =
    plan match {
      case Project(list, child) => manifestOf(child).map { case (mfi, ids) =>
        (mfi, list.collect {
          case a: Attribute if ids.contains(a.exprId) => a.exprId
        }.toSet)
      }
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case mfi: ManifestFileIndex if !mfi.hasTombstones =>
            Some((mfi, l.output.map(_.exprId).toSet))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  private def isIntegral(dt: DataType): Boolean =
    graft.ops.SpanDomains.isIntegral(dt)

  /** Render a span-domain Long back into the column's Catalyst-internal
    * value. Timestamp/date stat spans are ALREADY micros/days (the
    * domains statLongExpr recorded); integral values narrow to the
    * column's width. */
  private def internalValue(v: Long, dt: DataType): Option[Any] = dt match {
    case LongType => Some(v)
    case IntegerType => Some(v.toInt)
    case ShortType => Some(v.toShort)
    case ByteType => Some(v.toByte)
    case TimestampType => Some(v)
    case DateType => Some(v.toInt)
    case _ => None
  }

  /** Fold one aggregate expression to its manifest answer (the value in
    * the output row), or None when it isn't foldable. `passedIds` =
    * relation output attributes the Project chain passed through
    * unchanged: min/max attributes must be among them (count(1) only
    * needs row preservation, which Projects give). */
  private def fold(ae: AggregateExpression, mfi: ManifestFileIndex,
      passedIds: Set[ExprId]): Option[Any] = ae match {
    // non-null literal only: count(NULL) is 0, not the row count. Spark's
    // NullPropagation normally rewrites count(null) before this rule
    // fires, but correctness must not rest on rule ordering (it breaks
    // under spark.sql.optimizer.excludedRules)
    case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _)
        if v != null =>
      Some(mfi.manifestRowCount)
    // count(col) — non-null rows — folds from the v3 per-file null
    // counters when every file records one (pre-v3 files block the fold:
    // their null counts are unknown)
    case AggregateExpression(Count(Seq(a: Attribute)), Complete, false, None, _)
        if passedIds.contains(a.exprId) =>
      mfi.spanNonNullCount(a.name)
    case AggregateExpression(Min(a: Attribute), Complete, false, None, _)
        if passedIds.contains(a.exprId) =>
      mfi.spanExtremes(a.name, isIntegral(a.dataType))
        .flatMap { case (lo, _) =>
          lo.map(v => internalValue(v, a.dataType)).getOrElse(Some(null))
        }
    case AggregateExpression(Max(a: Attribute), Complete, false, None, _)
        if passedIds.contains(a.exprId) =>
      mfi.spanExtremes(a.name, isIntegral(a.dataType))
        .flatMap { case (_, hi) =>
          hi.map(v => internalValue(v, a.dataType)).getOrElse(Some(null))
        }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case agg @ Aggregate(Nil, aggExprs, child, _)
        if aggExprs.nonEmpty && aggExprs.forall {
          case Alias(_: AggregateExpression, _) => true
          case _ => false
        } =>
      manifestOf(child) match {
        case Some((mfi, passedIds)) =>
          val vals = aggExprs.map {
            case Alias(ae: AggregateExpression, _) => fold(ae, mfi, passedIds)
            case _ => None
          }
          if (vals.forall(_.isDefined))
            LocalRelation(agg.output.map(_.toAttribute),
              Seq(InternalRow.fromSeq(vals.map(_.get))))
          else agg
        case None => agg
      }
  }
}
