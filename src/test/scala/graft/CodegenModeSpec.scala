package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, ColumnarToRowExec, FileSourceScanExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}
import graft.functions.GraftFunctions

/** The two execution paths and the gate between them. `Tables.load`
  * runs a dir of small tables interpreted (`NO_CODEGEN`) over
  * single-partition scans and any other dir compiled (`FALLBACK`) over
  * partitioned ones, so the specs, which read sf0.001, take the small
  * path by default; these pin each mode in turn to keep the compiled
  * path under test, and check both plan shapes.
  */
class CodegenModeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.1"
  private val modeKey = "spark.sql.codegen.factoryMode"

  /** One frame per input table, calling every expression that has a
    * hand-written `doGenCode`: CosineSim, DotLong, SqDistL2,
    * NearestSeed, PqEncode, AdcScore and NfcNormalize.
    */
  private def kernels(): Seq[DataFrame] = {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val cents = Similarity.seedCentroids(e, 16)
    val (m, ksub, sub) = (2, 4, 4)
    val books = Array.tabulate(m * ksub * sub)(i => 0.125 * ((i * 7) % 11) - 0.5)
    val codes = GraftFunctions.pqEncode(col("d"), m, ksub, books)
    Seq(
      e.select(col("vec_id"), col("embedding"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("d"),
          expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").as("l"))
        .select(col("vec_id"),
          GraftFunctions.cosineSim(col("embedding"), reverse(col("embedding"))).as("cos"),
          GraftFunctions.dotLong(col("l"), reverse(col("l"))).as("dot"),
          GraftFunctions.sqDistL2(col("d"), reverse(col("d"))).as("l2"),
          Similarity.nearestCells(spark, cents, 4).as("near"),
          codes.as("codes"),
          GraftFunctions.adcScore(col("d"), codes, m, ksub, books).as("adc")),
      // decomposed marks, so composition has work on every row
      Tables.documents(spark, dir).select(col("doc_id"),
        GraftFunctions.nfcNormalize(concat(col("text"), lit(" e\u0301 A\u030a"))).as("nfc")))
  }

  /** A value with every double and float replaced by its raw bits. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o => o
  }

  private def fused(df: DataFrame): Boolean =
    collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }.nonEmpty

  /** Each kernel frame's rows as bits, sorted by id, run in `mode`, and
    * whether any of the plans fused stages into generated code.
    */
  private def runIn(mode: String): (Seq[Seq[Seq[Any]]], Boolean) = {
    val frames = kernels()
    withCodegenMode(mode) {
      val rows = frames.map(_.collect().toSeq
        .map(r => r.toSeq.map(bits)).sortBy(_.head.asInstanceOf[Long]))
      (rows, frames.exists(fused))
    }
  }

  test("every hand-written doGenCode kernel returns the same bits compiled and interpreted") {
    val (compiled, compiledFused) = runIn("FALLBACK")
    val (interpreted, interpretedFused) = runIn("NO_CODEGEN")
    assert(compiledFused, "FALLBACK must run the kernels in whole-stage generated code")
    assert(!interpretedFused, "NO_CODEGEN must generate no whole-stage code")
    assert(compiled.forall(_.nonEmpty), s"empty kernel frame: ${compiled.map(_.length)}")
    compiled.zip(interpreted).zipWithIndex.foreach { case ((c, i), f) =>
      assert(c.length == i.length, s"frame $f: ${c.length} compiled vs ${i.length} interpreted rows")
      c.zip(i).foreach { case (a, b) => assert(a == b, s"frame $f: compiled $a vs interpreted $b") }
    }
  }

  test("a load from sf0.001 runs interpreted: a panel query fuses no stage and starts at most a handful of compiles") {
    Tables.load(spark, dir, "lineitem")
    assert(spark.conf.get(modeKey) == "NO_CODEGEN")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val q = SparkEntry.queries("q1_pricing_summary")(spark, dir)
    assert(q.collect().nonEmpty)
    val n = compiles.getCount - before
    assert(!fused(q), "an interpreted dir must generate no whole-stage code")
    assert(n <= 4, s"$n Janino compiles for one interpreted panel query")
  }

  private def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  test("a load from sf0.001 scans single-partition: a panel query plans no exchange and runs in one job") {
    def q1(d: String) = SparkEntry.queries("q1_pricing_summary")(spark, d)
    val rows = q1(dir).collect().toSeq // warms the schema memo
    assert(rows.nonEmpty)
    val q = q1(dir)
    assert(exchanges(q).isEmpty, s"a small dir's panel query must plan no exchange:\n${q.queryExecution.executedPlan}")
    var again = Seq.empty[Row]
    val jobs = jobsOf { again = q1(dir).collect().toSeq }
    assert(jobs == 1, s"$jobs Spark jobs for one small-dir panel query")
    assert(again == rows)
    // the same files in the production layout keep the partitioned plan
    val scale = q1(SparkSpec.scaleLayout(dir))
    assert(exchanges(scale).nonEmpty, "a large dir's panel query must keep its exchanges")
    assert(scale.collect().toSeq == rows)
  }

  test("a load from sf0.1 runs compiled") {
    Tables.load(spark, sf01, "region")
    assert(spark.conf.get(modeKey) == "FALLBACK")
    Tables.load(spark, dir, "region")
    assert(spark.conf.get(modeKey) == "NO_CODEGEN", "the last load's dir decides")
  }

  test("one codegen decision per dir: a changed dir replaces it, a directory-shaped table counts as large, release drops it") {
    def decisionKeys = Dedup.Frames.residentKeys(spark).filter(_.startsWith("small:"))
    def coalesces(df: DataFrame) =
      collect(df.queryExecution.executedPlan) { case c: CoalesceExec => c }
    Dedup.releaseCaches()
    Tables.names.foreach { t =>
      val c = coalesces(Tables.load(spark, dir, t))
      // a vectorized scan reaches row operators through ColumnarToRow
      val overScan = c.headOption.map(_.child).exists {
        case ColumnarToRowExec(_: FileSourceScanExec) | _: FileSourceScanExec => true
        case _ => false
      }
      assert(c.length == 1 && c.head.numPartitions == 1 && overScan,
        s"$t: a small dir's load must plan one Coalesce 1 directly over its scan: $c")
    }
    Tables.region(spark, sf01)
    assert(decisionKeys == Set(s"small:$dir", s"small:$sf01"), "one entry per dir")
    assert(coalesces(Tables.region(spark, sf01)).isEmpty, "a large dir's scan must stay partitioned")

    val tmp = Files.createTempDirectory("graft_codegen")
    Files.copy(Paths.get(s"$dir/orders.parquet"), tmp.resolve("orders.parquet"))
    Tables.orders(spark, tmp.toString)
    assert(spark.conf.get(modeKey) == "NO_CODEGEN")
    // a multi-file table beside it reports a small length for its
    // directory entry, but may hold any amount of data
    Files.createDirectory(tmp.resolve("lineitem.parquet"))
    Files.copy(Paths.get(s"$dir/lineitem.parquet"), tmp.resolve("lineitem.parquet/part-0.parquet"))
    assert(coalesces(Tables.orders(spark, tmp.toString)).isEmpty,
      "a directory-shaped table must make its dir's scans partitioned")
    assert(spark.conf.get(modeKey) == "FALLBACK", "a directory-shaped table must run compiled")
    assert(decisionKeys == Set(s"small:$dir", s"small:$sf01", s"small:$tmp"),
      s"a changed dir must replace its decision, not add one: $decisionKeys")

    Dedup.releaseCaches()
    assert(decisionKeys.isEmpty, "release must drop every codegen decision")
  }
}
