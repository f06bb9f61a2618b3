package graft.tools

import graft.Tables

/** Dev-only smoke runner: prints schema + a few rows per table and runs
  * each SparkEntry query at the given sf. Not part of the driver contract.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local("8")
    Tables.names.foreach { t =>
      val df = Tables.load(spark, dir, t)
      println(s"=== $t ${df.count()} rows")
      df.printSchema()
    }
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      println(s"--- query $name")
      try fn(spark, dir).show(5, false)
      catch { case e: Throwable => println(s"FAILED: $e") }
    }
    spark.stop()
  }
}
