package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(4)

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
