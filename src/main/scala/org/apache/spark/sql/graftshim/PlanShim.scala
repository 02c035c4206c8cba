package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Catalyst entry points that Spark 4 keeps `private[sql]`, for the
  * catalog's driver-side planning (`graft.catalog.CatalogStore` and
  * `graft.catalog.LocalFold`). Like [[ColumnShim]], this one-file shim lives
  * inside the sql package. */
object PlanShim {

  /** A typed Dataset over an existing logical plan: the catalog publishes a
    * snapshot `LocalRelation` whose rows are already encoded, instead of
    * encoding them again through `createDataset`. */
  def dataset[T: Encoder](spark: SparkSession, plan: LogicalPlan): Dataset[T] =
    classic.Dataset[T](spark.asInstanceOf[classic.SparkSession], plan)

  /** A grouping key with NaN and -0.0 normalised, as Spark's planner
    * normalises aggregate keys before hashing them. */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
