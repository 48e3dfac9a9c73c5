package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shared helpers for the single-run benchmark mains. */
object BenchUtil {

  /** `f`'s result and its wall seconds. */
  def timeIt[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Untimed session warmup: the first Spark job of a session pays JVM
    * classloading + whole-stage-codegen compilation (~5 s at
    * local[32]) that would otherwise be charged entirely to whichever
    * stage happens to run first — the reference's timings measure
    * pandas after import, so single-run stage timings here should
    * measure the operators too. One scan+join+window+agg round trip
    * loads every code path the domain stages use. */
  def warmup(spark: SparkSession): Unit = {
    val wdf = spark.range(100000L)
      .select(col("id"), pmod(col("id"), lit(7)).as("g"))
    wdf.join(wdf.groupBy("g").agg(count(lit(1)).as("c")), "g")
      .withColumn("r", sum(col("id")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("id")))
      .agg(sum("r")).collect()
    ()
  }
}
