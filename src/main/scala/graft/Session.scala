package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a session: every main and the test suites
  * get the same engine configuration ([[Q.sessionConfigs]]) this way. */
object Session {
  /** Cores for a local session: SPARK_GRAFT_CPUS, else every core the
    * host offers. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core and no UI;
    * [[Q.sessionConfigs]] apply first, then `extra` (which wins on a
    * shared key). Log level is WARN. */
  def local(cpus: Int, extra: Map[String, String] = Map.empty)
      : SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    (Q.sessionConfigs ++ extra).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
