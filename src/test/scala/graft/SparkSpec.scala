package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.tools.Dev.local(4)
}
