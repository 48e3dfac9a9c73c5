package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are registered per operator family (SURVEY.md §2) in
  * graft.queries.*; each carries a DuckDB oracle when SQL-expressible.
  */
object SparkEntry {

  val registry: Seq[Q] =
    Relational.all ++ Windows.all ++ Stats.all ++ IntervalQ.all ++
      TextQ.all ++ SimilarityQ.all ++ ExtraQ.all ++ EventTimeQ.all ++
      CurationQ.all ++ DomainQ.all ++ DomainQ2.all ++ IoQ.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the multiway broadcast star join + grouped aggregation. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q06.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2; built once. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check). */
  val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
