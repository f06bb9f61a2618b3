package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. One session per suite JVM — Spark
  * reuses the context across suites via getOrCreate.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local("4")

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same JVM
  }
}
