package graft.operators

import graft.functions.Expressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed empirical-CDF lookup (reference: statsmodels ECDF used by
  * pOOBAH, samples.py:1591-1592): for each query row, F(v) = #(background
  * values ≤ v) / n_background within its group.
  *
  * Algorithm: the background is reduced to ONE ascending array per group
  * ([[sortedBackground]]: `sort_array(collect_list(value))`, its length
  * and its ascending sum), the queries are equi-joined to that frame on
  * the group columns, and each query's count of background values ≤ v is
  * a binary search of its group's array ([[ecdf]], the `ecdf_count`
  * kernel). Comparisons use Spark's double ordering — NaN is greatest and
  * equals NaN, −0.0 = 0.0 — so a background value tied with the query
  * counts as ≤ (right-continuous, like statsmodels).
  *
  * No driver state: the arrays are built by a distributed aggregate and
  * joined, never collected, so broadcast versus shuffle is Spark's own
  * join selection (AQE and `autoBroadcastJoinThreshold`). A collected,
  * broadcast lookup table would be O(total background) DRIVER memory —
  * ~3 GB per 1000 samples for pOOBAH — and cap at the JVM. Memory bound:
  * one sorted array per group, held by the task that aggregates it and
  * by each task that probes it (8 bytes per background value).
  */
object Ecdf {

  /** The sorted-background frame: one row per group of `groupCols` and,
    * for each `name -> value`, three columns: `${name}_sorted` (the
    * group's non-null values cast to double, ascending), `${name}_n`
    * (its length) and `${name}_sum` (the array folded in ascending order
    * — deterministic at any parallelism; null when the array is empty,
    * like SQL's `sum`). Several named values share one aggregate, e.g.
    * one array per channel over a per-sample grouping. */
  def sortedBackground(background: DataFrame, groupCols: Seq[String],
      values: (String, Column)*): DataFrame = {
    val aggs = values.map { case (name, v) =>
      sort_array(collect_list(v.cast("double"))).as(s"${name}_sorted")
    }
    val sorted = background.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    values.foldLeft(sorted) { case (df, (name, _)) =>
      val arr = col(s"${name}_sorted")
      df.withColumn(s"${name}_n", size(arr))
        .withColumn(s"${name}_sum",
          when(size(arr) > 0, aggregate(arr, lit(0.0), _ + _)))
    }
  }

  /** F(v) = #(sorted ≤ v) / n by binary search over a
    * [[sortedBackground]] array and its length. Null for a null `v`, a
    * null array (group absent from the background) or an empty one. */
  def ecdf(sorted: Column, n: Column, v: Column): Column =
    when(n > 0, Expressions.ecdfCount(sorted, v) / n)

  /** Attach `outCol` = F(valueCol) to `queries` (any schema containing
    * groupCols + valueCol; its columns and rows are kept as they are).
    * Null values, groups absent from `background` and null group keys
    * yield null. `background` must expose groupCols + valueCol. */
  def ecdfLookup(queries: DataFrame, background: DataFrame,
      groupCols: Seq[String], valueCol: String,
      outCol: String): DataFrame = {
    require(!queries.columns.contains(outCol),
      s"ecdfLookup: output column '$outCol' collides with a query column")
    val bg = sortedBackground(background, groupCols, "_ec" -> col(valueCol))
    queries.join(bg, groupCols, "left")
      .select(queries.columns.map(col) :+
        ecdf(col("_ec_sorted"), col("_ec_n"), col(valueCol)).as(outCol): _*)
  }
}
