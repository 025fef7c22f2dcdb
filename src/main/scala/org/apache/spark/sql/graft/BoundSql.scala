package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

import java.util.Locale
import scala.collection.mutable

/** SQL text over DataFrames bound by plan, with no temp view.
  *
  * `spark.sql` resolves a table name through the session catalog, so a
  * DataFrame must first be registered as a temp view, and a registration
  * is a command of its own: one more SQL execution, with its analysis,
  * execution id and listener events, before the query itself. Here the
  * text is parsed with the session parser, as `spark.sql` does (inside
  * the tracker's parsing phase), and every single-part relation name that
  * `frames` knows is replaced by the analyzed plan of the DataFrame it
  * gives, under a `SubqueryAlias` of that name, which is what a temp view
  * resolves to. The Dataset is then built from the plan, so running it
  * is the one SQL execution of the read, and nothing is left in the
  * catalog.
  *
  * `frames` is asked only for the names the text reads, once per name,
  * case-insensitively as the catalog matches temp views; a name it does
  * not know resolves through the catalog as in `spark.sql`. Names are
  * bound in the main query, in subquery expressions and in CTE bodies. */
object BoundSql {
  def apply(spark: SparkSession, sqlText: String)(
      frames: String => Option[DataFrame]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive {
      val tracker = new QueryPlanningTracker
      val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING) {
        session.sessionState.sqlParser.parsePlan(sqlText)
      }
      val bound = mutable.HashMap.empty[String, Option[LogicalPlan]]
      def planOf(name: String): Option[LogicalPlan] =
        bound.getOrElseUpdate(name.toLowerCase(Locale.ROOT),
          frames(name).map(df => SubqueryAlias(name, df.queryExecution.analyzed)))
      def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
        case r @ UnresolvedRelation(Seq(name), _, _) => planOf(name).getOrElse(r)
        case w: UnresolvedWith =>
          w.copy(cteRelations = w.cteRelations.map { case (n, q, depth) =>
            (n, bind(q).asInstanceOf[SubqueryAlias], depth)
          })
      }
      classic.Dataset.ofRows(session, bind(parsed), tracker)
    }
  }
}
