package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name substrings — dev
    // shortcut to re-verify a handful of queries without the full sweep
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Same ordering AND cache-flush contract as Bench/TimeMany, both
    // derived from SparkEntry.keepWarmQueries (round 6 — the rule was
    // previously hardcoded by name here, so extending the warm chain
    // would have silently flushed it mid-chain in Verify only): before
    // each query, drop persisted frames UNLESS the query is part of the
    // keep-warm chain (it rides the frame its predecessor built).
    val ordered = SparkEntry.orderedQueryNames
      .filter(n => only.forall(_.exists(n.contains)))
    ordered.foreach { name =>
      if (!SparkEntry.keepWarmQueries(name))
        spark.catalog.clearCache() // drop per-query persisted frames
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    graft.ext.Dedup.releaseCaches()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.exists(k.contains)) } // match the query filter, or compare.py FAILs every undumped query
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // A filtered run must not masquerade as the full sweep (ADVICE r11):
    // write the subset oracle under a DIFFERENT name so a judged compare
    // pointed at this outDir fails loudly (no oracle_sql.json) instead of
    // passing over only the matching subset, and say so on stderr.
    if (only.isDefined) {
      System.err.println(
        s"[verify] PARTIAL SWEEP — only ${ordered.size}/${SparkEntry.queries.size} queries " +
          s"(filter: ${args(2)}); oracle written to oracle_sql.partial.json, NOT oracle_sql.json")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.partial.json"), json)
    } else Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
