package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs `body` starts on this thread, counted by a listener once
    * the listener bus is drained.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spec_jobs_${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "spec job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

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

  private val layouts = scala.collection.mutable.HashMap.empty[String, String]

  /** The data dir `src` in the production layout: each table is a
    * directory holding the same file. `Tables` treats a
    * directory-shaped table as large, so plans built here are the
    * partitioned, compiled plans a large dir gets; the plan-shape lints
    * read theirs here. One copy per source dir and JVM, deleted on exit.
    */
  def scaleLayout(src: String): String = synchronized {
    layouts.getOrElseUpdate(src, {
      val dst = Files.createTempDirectory("graft_scale_layout")
      dst.toFile.deleteOnExit()
      Tables.names.foreach { t =>
        val table = Files.createDirectory(dst.resolve(s"$t.parquet"))
        table.toFile.deleteOnExit()
        Files.copy(Paths.get(src, s"$t.parquet"), table.resolve("part-0.parquet"))
          .toFile.deleteOnExit()
      }
      dst.toString
    })
  }
}
