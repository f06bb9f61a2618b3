package graft.tools

/** Dev tool: time several queries once each in one JVM (mirrors the
  * bench loop, including cache clearing); repeat a name to time it
  * again in the same JVM. Prints each query's wall, the Spark jobs it
  * ran and the Janino compiles it started, then the totals. Usage:
  *   runMain graft.tools.TimeMany <q1,q2,...> [sfDir]
  */
object TimeMany {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // honors the bench's core-count knob so scale probes can compare
    // low/high-core walls (round 22); default matches the bench's 32
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // same warmup as Bench
    graft.SparkEntry.queries("q1_pricing_summary")(spark, graft.Bench.warmDir(dir))
      .write.format("noop").mode("overwrite").save()
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val c0 = compiles.getCount
    var wall = 0.0
    names.foreach { q =>
      // same keep-warm rule as Bench: clusters/apply consume the pair
      // frame the preceding ngram entry built
      if (!graft.SparkEntry.keepWarmQueries(q)) {
        spark.catalog.clearCache()
        System.gc()
      }
      val (c, j, t0) = (compiles.getCount, jobs.get, System.nanoTime())
      graft.SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      wall += sec
      org.apache.spark.ListenerBusDrain(sc)
      println(f"[timemany] $q: $sec%.2f s, ${jobs.get - j} jobs, ${compiles.getCount - c} compiles")
    }
    println(f"[timemany] total: $wall%.2f s, ${jobs.get} jobs, ${compiles.getCount - c0} compiles")
    spark.stop()
  }
}
