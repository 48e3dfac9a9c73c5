package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Global-order operators (row_number / ntile / Benjamini-Hochberg over a
  * TOTAL order) without a single-partition window.
  *
  * `Window.orderBy(...)` with no partition spec moves every row to one
  * task — the textbook scale cliff (WindowExec even warns). The scale
  * path used here is the zipWithIndex shape, kept declarative:
  *
  *   1. `repartitionByRange(n, sortCols)` — ONE wide shuffle; rows end up
  *      range-ordered across partitions (AQE does not coalesce an
  *      explicit-N repartition, so partition ids are stable within the
  *      query);
  *   2. per-partition counts from a side branch over the SAME exchange
  *      (ReuseExchange collapses the two subtrees to one shuffle; the
  *      branch aggregates map-side to one row per partition);
  *   3. cumulative counts over the tiny (numParts-row) frame give each
  *      partition its global offset, broadcast-joined back;
  *   4. the within-partition index comes from `monotonically_increasing_id`
  *      evaluated AFTER `sortWithinPartitions` (its documented layout is
  *      partitionId·2^33 + recordIndex; the projection holding it cannot be
  *      reordered below the sort because the expression is nondeterministic).
  *
  * Global rank therefore costs one data shuffle + one numParts-row
  * broadcast, at any cluster width. Determinism: callers pass sort
  * columns that form a total order (unique tiebreaker) when the rank
  * value itself must be reproducible; BH is invariant to tie order either
  * way (tied p-values share one adjusted value).
  */
object Ranks {

  private val MidMask = (1L << 33) - 1

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
    val (ranked, total) = scan(df, sortCols, outCol, numParts,
      exclusive = false)(_ => 1L)
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
    * path: p_adj(i) = min(1, min over rank j >= i of n·p_j/j) — a global
    * suffix-min over the p-ascending order.
    *
    * After ranking (one wide shuffle), rows land in `numShufflePartitions`
    * rank buckets derived from the rank itself; the suffix min is the
    * within-bucket window suffix (second, bucket-hash shuffle) combined
    * with a broadcast suffix-min over the numParts-row bucket minima —
    * the classic distributed scan decomposition. Null/NaN p-values pass
    * through with a null adjusted value, as in the reference.
    *
    * Tie order cannot change the result (tied p share one adjusted
    * value), so no tiebreaker is required for correctness; pass one via
    * `tieCols` when the intermediate rank itself must be reproducible. */
  def bhAdjust(df: DataFrame, pCol: String, outCol: String,
      tieCols: Seq[Column] = Nil): DataFrame = {
    val spark = df.sparkSession
    val nBuckets = spark.sessionState.conf.numShufflePartitions
    val good = col(pCol).isNotNull && !isnan(col(pCol))
    val ranked = withGlobalRank(df.filter(good),
      col(pCol) +: tieCols, "_bh_rank", totalCol = Some("_bh_n"))
      .withColumn("_bh_v", col(pCol) * col("_bh_n") / col("_bh_rank"))
      .withColumn("_bh_b",
        expr(s"((_bh_rank - 1) * $nBuckets) div _bh_n"))
    val wSuffix = Window.partitionBy(col("_bh_b"))
      .orderBy(col("_bh_rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucketMins = ranked.groupBy(col("_bh_b"))
      .agg(min(col("_bh_v")).as("_bh_bmin"))
    val wAfter = Window.partitionBy(pmod(col("_bh_b"), lit(1)))
      .orderBy(col("_bh_b"))
      .rowsBetween(1, Window.unboundedFollowing)
    val minAfter = bucketMins
      .withColumn("_bh_after", min(col("_bh_bmin")).over(wAfter))
      .select(col("_bh_b"), col("_bh_after"))
    val adjusted = ranked
      .withColumn("_bh_ls", min(col("_bh_v")).over(wSuffix))
      .join(broadcast(minAfter), Seq("_bh_b"))
      .withColumn(outCol,
        least(least(col("_bh_ls"), coalesce(col("_bh_after"),
          col("_bh_ls"))), lit(1.0)))
      .drop("_bh_rank", "_bh_n", "_bh_v", "_bh_b", "_bh_ls", "_bh_after")
    adjusted.unionByName(
      df.filter(!good).withColumn(outCol, lit(null).cast("double")))
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
    scan(df, sortCols, outCol, numParts, exclusive)(row =>
      if (row.isNullAt(vIdx)) 0L else row.getLong(vIdx))._1
  }

  /** The zipWithIndex scan behind [[withGlobalRank]] and
    * [[withGlobalPrefixSum]]: range-repartition on `sortCols` into
    * `numParts` partitions (0: the shuffle partition count), sort within
    * them, and attach the running sum of `inc(row)` as LongType `outCol`,
    * through the current row or, if `exclusive`, before it. One `toRdd`
    * instance feeds the per-partition total job (eager) and the attach
    * map. Returns the frame and the grand total. */
  private def scan(df: DataFrame, sortCols: Seq[Column], outCol: String,
      numParts: Int, exclusive: Boolean)(
      inc: InternalRow => Long): (DataFrame, Long) = {
    val spark = df.sparkSession
    val n = if (numParts > 0) numParts
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = sorted.queryExecution.toRdd
    val partTotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      while (it.hasNext) s += inc(it.next())
      Iterator((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val bOff = spark.sparkContext.broadcast(offsets)
    val withOut = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bOff.value(pid)
      val outRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      // The consumer (RDDScanExec) projects each row to its own buffer
      // before advancing, so reusing the holders is safe.
      it.map[InternalRow] { row =>
        val before = acc
        acc += inc(row)
        outRow.update(0, if (exclusive) before else acc)
        joined(row, outRow)
      }
    }
    val outSchema = sorted.schema
      .add(StructField(outCol, LongType, nullable = false))
    (GraftBridge.internalCreateDataFrame(spark, withOut, outSchema),
      offsets.last)
  }
}
