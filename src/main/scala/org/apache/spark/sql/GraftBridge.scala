package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface needed to expose custom Catalyst
  * Expressions as user-facing Columns in Spark 4 (Column moved to
  * sql-api and lost its public Expression constructor). */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Spark's `ExpectsInputTypes` over plain types (its
    * `AbstractDataType` is `private[sql]`): argument i accepts any type
    * in `accepted(i)`, nullability ignored; no implicit cast. */
  trait AcceptsTypes extends catalyst.expressions.ExpectsInputTypes {
    def accepted: Seq[Seq[types.DataType]]
    override def inputTypes: Seq[types.AbstractDataType] = accepted.map {
      case Seq(t) => t
      case ts => types.TypeCollection(ts: _*)
    }
  }

  /** Re-enter the DataFrame world from an `InternalRow` RDD produced by
    * `df.queryExecution.toRdd` (used by operators that must pin ONE
    * physical plan instance across multiple jobs — see
    * [[graft.operators.Ranks.withGlobalRank]]). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
