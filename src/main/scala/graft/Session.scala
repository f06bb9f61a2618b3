package graft

import org.apache.spark.sql.SparkSession

/** The engine's one local-session recipe: `local[cpus]` with as many
  * shuffle partitions, UTC session time, the graft planner extensions
  * and no UI. Bench, Verify, the dev tools and the specs all build
  * their session here, so a session-level setting lands everywhere at
  * once.
  *
  * AQE coalescing stays at parallelism-first (the Spark default): a
  * measured A/B at sf0.1 showed size-based coalescing
  * (parallelismFirst=false, 64MB advisory) serializing mid-size
  * CPU-heavy shuffles to 1 task — q16 exact percentile 3.2→5.2 s,
  * minhash 5.2→7.5 s — a net loss on every probe query.
  */
object Session {
  def local(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
