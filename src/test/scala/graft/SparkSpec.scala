package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. One session per suite JVM — Spark
  * reuses the context across suites via getOrCreate.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local("4")

  /** Runs `body` with `spark.sql.codegen.factoryMode` pinned to `mode`
    * (`FALLBACK` compiles, `NO_CODEGEN` interprets). A `Tables.load`
    * inside `body` sets the mode of its dir again, so build the frames
    * first.
    */
  def withCodegenMode[T](mode: String)(body: => T): T =
    SparkSpec.withConf(spark, "spark.sql.codegen.factoryMode", mode)(body)

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same JVM
  }
}

object SparkSpec {
  /** Runs `body` with the session conf `key` set to `value`, then puts
    * the session's previous value back.
    */
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
