package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(8, Map(
      "spark.app.name" -> "graft-test",
      "spark.driver.host" -> "localhost"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
