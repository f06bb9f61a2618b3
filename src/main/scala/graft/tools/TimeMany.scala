package graft.tools

/** Dev tool: time several queries once each in one JVM (mirrors the
  * bench loop, including cache clearing); repeat a name to time it
  * again in the same JVM. Usage:
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
    names.foreach { q =>
      // same keep-warm rule as Bench: clusters/apply consume the pair
      // frame the preceding ngram entry built
      if (!graft.SparkEntry.keepWarmQueries(q)) {
        spark.catalog.clearCache()
        System.gc()
      }
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[timemany] $q: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
