package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared spec base: one SparkSession per suite (SURVEY.md §5), built by
  * the same [[GraftSession]] as Bench and Verify, on 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(4).appName("graft-test").getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"
}
