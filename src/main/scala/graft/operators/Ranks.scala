package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField}

/** Global-order operators (row_number / ntile / prefix sum /
  * Benjamini-Hochberg over a TOTAL order) without a single-partition
  * window.
  *
  * `Window.orderBy(...)` with no partition spec moves every row to one
  * task — the textbook scale cliff (WindowExec even warns). The scale
  * path used here is the `RDD.zipWithIndex` shape ([[Ranks.scan]]):
  *
  *   1. `repartitionByRange(n, sortCols)` — ONE wide shuffle; rows end up
  *      range-ordered across partitions, then sorted within them;
  *   2. eager numParts-row jobs over the same `toRdd` instance give each
  *      partition its starting state (a count offset, a running minimum);
  *   3. one narrow map attaches each row's value from its partition's
  *      starting state and the rows before it in the partition.
  *
  * So every operator here costs one data shuffle plus one or two
  * numParts-row collects, at any cluster width. Determinism: callers
  * pass sort columns that form a total order (unique tiebreaker) when
  * the rank value itself must be reproducible; BH is invariant to tie
  * order either way (tied p-values share one adjusted value).
  */
object Ranks {

  /** Attach 1-based global `row_number() over (order by sortCols)` as
    * `outCol` (and the total row count as `totalCol` if asked — it falls
    * out of the offset computation for free).
    *
    * Implementation is the RDD `zipWithIndex` shape: range-repartition +
    * per-partition sort, then ONE `toRdd` instance feeds both the
    * per-partition count job and the rank-attach map. Pinning a single
    * physical plan is the correctness point, not a micro-optimization:
    * the earlier spelling branched the DataFrame into a counts subtree
    * and a data subtree over the same exchange and joined them on
    * `spark_partition_id()`. Whenever exchange reuse did NOT collapse
    * the branches (AQE re-plans them independently — observed under
    * `local[4]` with a UDF-heavy upstream), the two evaluations ran the
    * range sampler twice, disagreed on the partition layout, and the
    * inner join silently dropped whole partitions (nondeterministic
    * 1-4% row loss in computeDmp's BH chain). With one RDD instance the
    * count job and the data job read the same shuffle outputs and the
    * same range boundaries by construction — the same guarantee
    * `RDD.zipWithIndex` relies on.
    *
    * NOTE: eager — the count job runs when this is called (exactly like
    * `RDD.zipWithIndex`). Rows flow through one extra narrow map; both
    * jobs reuse the single shuffle written by the repartition. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column], outCol: String,
      totalCol: Option[String] = None, numParts: Int = 0): DataFrame = {
    val (ranked, total) = scan(df, sortCols, numParts,
      StructField(outCol, LongType, nullable = false), _ => 1L) {
      (_, before, _, _) => before + 1
    }
    totalCol.fold(ranked)(t => ranked.withColumn(t, lit(total)))
  }

  /** SQL-standard `ntile(buckets) over (order by sortCols)` from the
    * global rank: with N rows, the first N mod k buckets get one extra
    * row — pure arithmetic on (rank, N), no second pass. */
  def withNtile(df: DataFrame, buckets: Int, sortCols: Seq[Column],
      outCol: String): DataFrame = {
    withGlobalRank(df, sortCols, "_nt_rank", totalCol = Some("_nt_total"))
      .withColumn(outCol, expr(
        s"""CASE WHEN _nt_rank <= (_nt_total div $buckets + 1)
                               * (_nt_total % $buckets)
             THEN (_nt_rank - 1) div (_nt_total div $buckets + 1) + 1
             ELSE _nt_total % $buckets
                  + (_nt_rank - 1 - (_nt_total div $buckets + 1)
                                  * (_nt_total % $buckets))
                    div (_nt_total div $buckets) + 1 END"""))
      .drop("_nt_rank", "_nt_total")
  }

  /** Benjamini-Hochberg FDR adjustment (reference dm.py:475-477), scale
    * path: p_adj(i) = min(1, min over rank j >= i of n·p_j/j), where the
    * rank is p-ascending over the n non-null, non-NaN p-values.
    *
    * One forward [[scan]] over one range shuffle by `p` DESCENDING: the
    * suffix-min of the ascending order is a running minimum in that
    * order, and a row's ascending rank is n minus the count of non-null,
    * non-NaN rows before it. Two eager jobs read the shuffle: the
    * per-partition counts, then each partition's minimum of p·n/rank;
    * the attach map carries the running minimum from the prefix minimum
    * of the earlier partitions and caps it at 1. Null and NaN p-values
    * ride the same scan with a null adjusted value, as in the reference.
    * The input is referenced once, so folding calls keeps a linear plan.
    * `pCol` must be DoubleType: p·n/rank is evaluated in double, then
    * exact minima, as the SQL oracle does.
    *
    * Tie order cannot change the result (tied p share one adjusted
    * value), so no tiebreaker is required for correctness; pass one via
    * `tieCols` when the range layout itself must be reproducible. */
  def bhAdjust(df: DataFrame, pCol: String, outCol: String,
      tieCols: Seq[Column] = Nil): DataFrame = {
    val pIdx = df.schema.fieldIndex(pCol)
    require(df.schema(pIdx).dataType == DoubleType,
      s"bhAdjust needs $pCol as DoubleType")
    val good: InternalRow => Boolean = row =>
      !row.isNullAt(pIdx) && !row.getDouble(pIdx).isNaN
    scan(df, col(pCol).desc +: tieCols, 0,
      StructField(outCol, DoubleType, nullable = true),
      row => if (good(row)) 1L else 0L,
      minOf = Some((row, before, n) =>
        if (good(row)) row.getDouble(pIdx) * n / (n - before)
        else Double.PositiveInfinity)) { (row, _, _, runMin) =>
      if (good(row)) math.min(runMin, 1.0) else null
    }._1
  }

  /** Global prefix sum of `valueCol` (LongType; NULL counts as 0) in
    * `sortCols` order, attached as `outCol` — the [[withGlobalRank]]
    * zipWithIndex shape generalized from counting rows to summing a
    * value: one range shuffle, a numParts-row partial-sum collect, and
    * a running-sum map over the SAME shuffle outputs. `exclusive` emits
    * the sum of strictly-preceding rows (the natural spelling for
    * offsets — e.g. a document's first-token position in a packed
    * token stream); inclusive emits sum-through-current-row. Same
    * single-physical-plan guarantee as withGlobalRank: the partial-sum
    * job and the data job read one RDD instance, so the range sampler
    * cannot disagree between them. */
  def withGlobalPrefixSum(df: DataFrame, sortCols: Seq[Column],
      valueCol: String, outCol: String, exclusive: Boolean = false,
      numParts: Int = 0): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    require(df.schema(vIdx).dataType == LongType,
      s"withGlobalPrefixSum needs $valueCol as LongType")
    val inc: InternalRow => Long = row =>
      if (row.isNullAt(vIdx)) 0L else row.getLong(vIdx)
    scan(df, sortCols, numParts,
      StructField(outCol, LongType, nullable = false), inc) {
      (row, before, _, _) => if (exclusive) before else before + inc(row)
    }._1
  }

  /** The zipWithIndex scan behind every operator here: range-repartition
    * on `sortCols` into `numParts` partitions (0: the shuffle partition
    * count), sort within them, and attach the column `out`. One `toRdd`
    * instance feeds every eager job and the attach map, so they all read
    * one shuffle and one set of range boundaries:
    *   - a job for each partition's total of `inc(row)`, whose prefix
    *     sums give every row `before`, the running total strictly before
    *     it, and the grand total `n`;
    *   - if `minOf` is given, a job for each partition's minimum of
    *     `minOf(row, before, n)`, whose prefix minima start a running
    *     minimum through each row.
    * `cell(row, before, n, runMin)` is the row's value of `out`
    * (`runMin` is +∞ without `minOf`). Returns the frame and `n`. */
  private def scan(df: DataFrame, sortCols: Seq[Column], numParts: Int,
      out: StructField, inc: InternalRow => Long,
      minOf: Option[(InternalRow, Long, Long) => Double] = None)(
      cell: (InternalRow, Long, Long, Double) => Any): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = if (numParts > 0) numParts
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = sorted.queryExecution.toRdd
    def perPartition[T: ClassTag](f: (Int, Iterator[InternalRow]) => T) =
      rdd.mapPartitionsWithIndex((pid, it) => Iterator((pid, f(pid, it))))
        .collect().sortBy(_._1).map(_._2)
    val offsets = perPartition { (_, it) =>
      var s = 0L
      while (it.hasNext) s += inc(it.next())
      s
    }.scanLeft(0L)(_ + _)
    val n = offsets.last
    val mins = minOf.fold(offsets.map(_ => Double.PositiveInfinity)) { v =>
      perPartition { (pid, it) =>
        var before = offsets(pid)
        var m = Double.PositiveInfinity
        while (it.hasNext) {
          val row = it.next()
          m = math.min(m, v(row, before, n))
          before += inc(row)
        }
        m
      }.scanLeft(Double.PositiveInfinity)(math.min)
    }
    val withOut = rdd.mapPartitionsWithIndex { (pid, it) =>
      var before = offsets(pid)
      var runMin = mins(pid)
      val outRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      // The consumer (RDDScanExec) projects each row to its own buffer
      // before advancing, so reusing the holders is safe.
      it.map[InternalRow] { row =>
        minOf.foreach(v => runMin = math.min(runMin, v(row, before, n)))
        outRow.update(0, cell(row, before, n, runMin))
        before += inc(row)
        joined(row, outRow)
      }
    }
    (GraftBridge.internalCreateDataFrame(spark, withOut,
      sorted.schema.add(out)), n)
  }
}
