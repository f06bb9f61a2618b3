package graft.tools

import graft.SparkEntry

/** Dev tool: dump formatted physical plans for selected queries and
  * grep-able plan health signals — filter pushdown (PushedFilters),
  * column pruning (ReadSchema), join strategies, codegen spans.
  * Usage: runMain graft.tools.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q1_pricing_summary", "q2_filter_project", "q3_topn_orders",
               "q4_star_join", "q13_range_join", "logs_timerange",
               "x_sim_topk", "x_dedup_ngram")
    val spark = graft.Session.local("8")
    val out = new java.io.PrintWriter("/tmp/graft_explain.txt")
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        out.println(s"\n========== $n ==========")
        val df = fn(spark, dir)
        out.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    out.close()
    println("wrote /tmp/graft_explain.txt")
    spark.stop()
  }
}
