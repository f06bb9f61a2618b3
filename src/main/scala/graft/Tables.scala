package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided analytic tables
  * (`/root/testdata/sf*` — see TESTDATA.md). One parquet file per table.
  *
  * All loads go through [[Tables.load]] so every query sees the same
  * conventions: column pruning + predicate pushdown are left to Catalyst,
  * the only things kept between loads are each table file's schema and
  * the dir's size decision (never a frame or its rows), and the
  * temp-view registration is idempotent so `spark.sql` text queries can
  * refer to tables by name.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's schema
    * converter rejects outright (PARQUET_TYPE_ILLEGAL). The supported
    * route (SPARK-40819) is to read nanos as raw Long and convert:
    * integer-division to micros (never double math — ns epochs exceed
    * 2^53), then NTZ to match the other tables' naive timestamps and
    * DuckDB's truncating TIMESTAMP_NS → TIMESTAMP read of the same file.
    *
    * The file's schema is inferred once and memoized in the engine's one
    * cache store ([[graft.ext.Dedup.Frames]]) under the file's
    * fingerprint: inference is a one-task Spark job per read (on a
    * 4-core box at sf0.001, ~71 ms warm vs ~7 ms for a read given its
    * schema), and the query surface reads the same ten files over and
    * over. A rewritten file, a
    * stopped context or `releaseCaches` drops the entry. Every call
    * still builds a fresh relation (fresh attribute ids), so self-joins
    * behave as with a plain read.
    *
    * Every load also applies the dir's size decision ([[smallDir]]): a
    * small dir runs interpreted and its scans are single-partition.
    */
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val small = smallDir(spark, sfDir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", if (small) "NO_CODEGEN" else "FALLBACK")
    val path = s"$sfDir/$table.parquet"
    val schema = graft.ext.Dedup.Frames.getOrComputeValue(spark,
        s"schema:$table:$sfDir", sfDir, Seq(s"$table.parquet")) {
      spark.read.parquet(path).schema
    }
    val scan = spark.read.schema(schema).parquet(path)
    val df = if (small) scan.coalesce(1) else scan
    if (table == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
    else df
  }

  /** The largest table file a small data dir may hold: 4 MiB.
    *
    * Below it a query's fixed driver cost (code generation, Spark jobs
    * and the gaps between them) outweighs the work on the rows, so a
    * small dir runs interpreted and without shuffles (see
    * [[smallDir]]). A pass over the
    * 57 non-`x_` queries on a 4-core box (`graft.tools.TimeMany`;
    * BASELINE.md "Small-dir interpreted execution"), compiled vs
    * interpreted:
    *
    *   - sf0.001 (largest file 194 KB): ~660 vs 55 Janino compiles,
    *     35.5 → 21.4 s;
    *   - sf0.01 (1.04 MB): 33.2 → 24.5 s;
    *   - sf0.1 (10.8 MB): 51.3 → 55.1 s, a loss (`q17_stats_aggs`
    *     0.60 → 5.47 s).
    *
    * The bound sits between sf0.01 and sf0.1, so sf0.1 and anything
    * larger keep compiled, partitioned plans by construction. It also
    * equals Spark's default `spark.sql.files.openCostInBytes`, which
    * floors the split size: a file under it is never split, so its
    * scan is one partition whatever the core count.
    */
  private[graft] val SmallDirMaxBytes: Long = 4L << 20

  /** Whether `sfDir` is a small dir: every table entry in it is a plain
    * file under [[SmallDirMaxBytes]]. A directory-shaped table (a
    * multi-file production layout) counts as large, whatever its entry
    * reports as length. Both consequences are applied in [[load]].
    *
    * Interpreted execution: a small dir sets
    * `spark.sql.codegen.factoryMode` to `NO_CODEGEN`, any other dir to
    * `FALLBACK` (Spark's default). `NO_CODEGEN` makes Spark build every
    * projection, predicate and ordering interpreted, and it also turns
    * `CollapseCodegenStages` off, so no whole-stage code is generated
    * (the trade of Kohn, Leis & Neumann, "Adaptive Execution of
    * Compiled Queries", ICDE 2018). Classes without an interpreted form
    * still compile (55 on the pass above). Spark marks `factoryMode` as
    * internal: it exists so Spark's own expression tests can run both
    * paths. The engine's specs pin each mode in turn for the same
    * reason (CodegenModeSpec). The mode is a session setting: the last
    * load decides, so one session reading a small and a large dir in
    * concurrent queries runs both in the mode of whichever it loaded
    * last.
    *
    * Single-partition scans: a small dir's scan is returned as
    * `coalesce(1)`. Its file is one split (see [[SmallDirMaxBytes]]),
    * so the coalesce moves no row: it is the identity on the data. What
    * it changes is the physical plan. `CoalesceExec(1)` reports
    * `SinglePartition`, which satisfies every clustered, ordered and
    * all-tuples requirement, so `EnsureRequirements` inserts no shuffle
    * above it: aggregates, windows, sort-merge joins and the final
    * total `ORDER BY` run inside the result stage, with no exchange, no
    * range-sampling job and no AQE stage boundary (AQE would have
    * coalesced each of those shuffles back to one task anyway).
    * Broadcast exchanges and subqueries stay as they are, and Catalyst
    * pushes filters and column pruning through the coalesce to the
    * scan. Unlike the session-wide mode, the coalesce belongs to the
    * frame, so a concurrent large load keeps its partitioned plan.
    * Measured on a 4-core box (BASELINE.md "Single-partition small-dir
    * scans"): a pass over the 57 non-`x_` queries runs 246 → 109 Spark
    * jobs at sf0.001; a traced `panel` op runs 5.3 → 2.9 jobs and its
    * shuffle writes fall to about zero; `panel` throughput rises
    * 2.49 → 3.02 ops/s (10 of 10 pairs).
    *
    * The decision is memoized in [[graft.ext.Dedup.Frames]] under
    * `small:<dir>`, stamped with one listing of the whole dir, so a
    * load adds one filesystem call and a rewritten file, a stopped
    * context or `releaseCaches` drops the entry.
    */
  private def smallDir(spark: SparkSession, sfDir: String): Boolean =
    graft.ext.Dedup.Frames.getOrComputeValue(spark, s"small:$sfDir", sfDir, Nil) {
      val dir = new org.apache.hadoop.fs.Path(sfDir)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val tables =
        try fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      tables.forall(s => s.isFile && s.getLen < SmallDirMaxBytes)
    }

  /** Scan-parallelism floor for CPU-HEAVY consumers only (round 21,
    * guide §2.5 "input skew: repartition immediately after the read" +
    * §6): every sf* table is ONE parquet file with ONE row group
    * (graft.tools.ScanLayout), so Spark's split machinery — correctly —
    * gives the scan a single non-empty partition whatever
    * `maxPartitionBytes` / `openCostInBytes` say, and every CPU-heavy
    * per-row projection (shingle md5, token-sketch explodes, percentile
    * buffers, ingest decode) serialized on ONE of the session's cores
    * (profiled: x_lang_trained's feature build 6.1 s / 1 task,
    * x_kmv_overlap 2×3.5 s / 1 task).
    *
    * NOT applied inside [[load]] (round-21 full-bench A/Bs r21b/r21d):
    * a blanket widen taxed every LIGHT consumer ~+0.5-1 s — the extra
    * exchange adds an AQE stage boundary + replanning round per
    * reference, and AQE's stage-local exchange reuse re-materializes it
    * per broadcast subquery — summing to far more than the heavy faces
    * saved. Only the builders whose per-row work dominates call
    * [[documentsWide]]/[[lineitemWide]] explicitly.
    *
    * The exchange hashes on the table's unique id (skew-free WITHOUT
    * the local sort a keyless round-robin pays — sortBeforeRepartition,
    * SPARK-23207 — and retry-deterministic). Guards are scale-adaptive,
    * not local[32] constants: on a production layout (many files /
    * row groups) `scanParts >= defaultParallelism` and this is the
    * identity; a table past 1 GiB never enters the branch.
    */
  private val widenKeys: Map[String, String] = Map(
    "documents"  -> "doc_id",
    "lineitem"   -> "l_orderkey",
    "embeddings" -> "vec_id")

  /** The decision is memoized in the engine's one cache store
    * ([[graft.ext.Dedup.Frames]]) under the table file's fingerprint, so
    * the stat runs only on a miss and a regenerated file replaces its
    * entry (ADVICE r21: a fixed key silently kept a stale floor
    * decision; values were still correct — the repartition is
    * semantics-preserving — but the floor could stop applying). The
    * probe goes through the Hadoop FileSystem API (VERDICT r21 #7:
    * `java.io.File` returns isFile=false on HDFS/S3, silently disabling
    * the floor exactly where a single-file table would still serialize).
    */
  private def widen(spark: SparkSession, sfDir: String,
      table: String, df: DataFrame): DataFrame = {
    if (!widenKeys.contains(table)) return df
    val p = spark.sparkContext.defaultParallelism
    val doWiden = graft.ext.Dedup.Frames.getOrComputeValue(spark,
        s"widen:$table:$sfDir", sfDir, Seq(s"$table.parquet")) {
      val path = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
      val s = path.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(path)
      // a directory-shaped table (multi-file production layout) or a
      // large file never widens; tiny dimension tables (broadcast
      // sides) aren't worth an exchange
      s.isFile && s.getLen >= 262144 && s.getLen < (1L << 30) &&
        df.rdd.getNumPartitions < p
    }
    if (doWiden) df.repartition(p, col(widenKeys(table))) else df
  }

  /** The documents table widened for a CPU-heavy per-row consumer —
    * see [[widen]]; identical rows, scan-parallelism floored.
    */
  def documentsWide(s: SparkSession, d: String): DataFrame =
    widen(s, d, "documents", documents(s, d))

  /** The lineitem table widened for a CPU-heavy per-row consumer. */
  def lineitemWide(s: SparkSession, d: String): DataFrame =
    widen(s, d, "lineitem", lineitem(s, d))

  /** The embeddings table widened for a CPU-heavy per-row consumer
    * (round 21: ONLY the PQ residual-encode path — the one embedding
    * face whose per-row work, m·ksub argmin encodes, profiled at
    * seconds per 1-task reference; the cosine pair faces get their
    * parallelism from their join exchanges and measured a net TAX from
    * a widened scan, BENCH_r21d).
    */
  def embeddingsWide(s: SparkSession, d: String): DataFrame =
    widen(s, d, "embeddings", embeddings(s, d))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register the named tables as temp views for `spark.sql` queries —
    * only those the query's text reads, since each view is one load.
    */
  def registerViews(spark: SparkSession, sfDir: String, views: String*): Unit =
    views.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
