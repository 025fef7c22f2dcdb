package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** A DataFrame over driver-held rows already in Catalyst's internal form.
  * `SparkSession.createDataFrame` takes external `Row`s and converts every
  * one of them on each call; a source that keeps its rows converted (the
  * per-item snapshot cache of [[graft.engine.MemGraph]]) hands them to the
  * plan as they are, so the plan and the cache share one copy. The plan is
  * a `LocalRelation`, exactly as `createDataFrame` builds it, so the
  * optimizer still folds filters and projections over it on the driver.
  * `Dataset.ofRows` is private to Spark's `sql` package, hence this one. */
object LocalFrame {
  def apply(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
