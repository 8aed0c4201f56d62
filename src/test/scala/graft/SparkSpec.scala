package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, from the same factory as the mains. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session()

  def sf(d: String = "0.001"): String = s"/root/testdata/sf$d"
}
