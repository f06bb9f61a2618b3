package graft.tools

import graft.Bench

/** Dev tool (round 15, VERDICT r14 #6): the Bench's `measureEps` leg,
  * alone, on an idle box — literally the same basis, because the
  * warmup, load sampling, and timed section are [[graft.Bench]]'s own
  * `warmIngest`/`loadavg1`/`timedIngestEps` (review r15: the first cut
  * copy-pasted them, which would let a future Bench tweak silently
  * invalidate this tool's "same basis" claim). Its number therefore
  * adjudicates the sweep artifacts' EPS drift directly. Usage:
  *   runMain graft.tools.EpsOnly [sfDir] [reps]
  */
object EpsOnly {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Session.local("32")
    Bench.warmIngest(spark, dir)
    (1 to reps).foreach { i =>
      val l0 = Bench.loadavg1()
      val (eps, sec, _) = Bench.timedIngestEps(spark, dir)
      println(f"[eps] rep $i: $eps%.0f eps ($sec%.2f s, loadavg $l0%.2f -> ${Bench.loadavg1()}%.2f)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
