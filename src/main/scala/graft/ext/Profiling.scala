package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-profiling operators — the ANALYZE/summary pass a pipeline runs
  * before trusting a new corpus drop: per-column row/null/distinct
  * counts and value ranges, computed in ONE scan of the table.
  */
object Profiling {

  /** Multi-column profile of the lineitem measures: for each column its
    * non-null count, exact distinct count, min/max/avg. Two narrow
    * passes over the scan, neither amplifying rows:
    *
    *   1. every non-distinct statistic for every column in ONE wide
    *      aggregate (partial map-side state only), unpivoted by `stack`
    *      from the single wide row;
    *   2. the exact distinct counts via dedup-first: `stack` each row
    *      into (column_name, value) pairs, hash-aggregate the pairs to
    *      distinct, count per column — one distinct aggregate, so no
    *      Expand.
    *
    * The previous form asked one aggregate for 4 `countDistinct`s over
    * DIFFERENT columns, which Spark plans as an Expand — every scan row
    * duplicated ×(#distinct-columns + 1) through the first aggregate
    * (3M rows from 600k at sf0.1; measured 2.4→1.4 s steady dropping
    * it, and the q21 commit measured the same Expand tax at 3×). At
    * 100 TB the row amplification is the whole cost of the job; two
    * clean passes of the columnar scan beat one ×5-amplified pass.
    *
    * Exact distinct is the point at this granularity (row counts are
    * the driver's gate); swap the dedup-first leg for
    * `approx_count_distinct` in the wide aggregate when profiling every
    * column of a wide fact table (the q21 HLL entry shows that route).
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        Seq(
          count(col(c)).as(s"${c}_n"),
          min(col(c)).cast("double").as(s"${c}_min"),
          max(col(c)).cast("double").as(s"${c}_max"),
          round(avg(col(c)), 4).as(s"${c}_avg"))
      }
    val li = Tables.lineitem(spark, dir)
    val wide = li.agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${cols.size}, " + cols.map(c =>
      s"'$c', ${c}_n, ${c}_min, ${c}_max, ${c}_avg").mkString(", ") +
      ") AS (column_name, n_non_null, min_val, max_val, avg_val)"
    val stats = wide.select(col("n_rows"), expr(stackExpr))
    // dedup-first distinct: (column, value) pairs → distinct → count.
    // NULLs drop (countDistinct semantics); one distinct agg, no Expand.
    val pairStack = s"stack(${cols.size}, " + cols.map(c =>
      s"'$c', CAST($c AS DOUBLE)").mkString(", ") + ") AS (column_name, v)"
    val distincts = li.select(expr(pairStack))
      .filter(col("v").isNotNull)
      .distinct()
      .groupBy(col("column_name"))
      .agg(count(lit(1)).as("n_distinct"))
    stats.join(distincts, Seq("column_name"), "left")
      .select(col("column_name"), col("n_rows"), col("n_non_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_val"), col("max_val"), col("avg_val"))
      .orderBy(col("column_name"))
  }

  /** Token-count histogram of the corpus: documents bucketed by
    * tokens÷10, capped at bucket 10 (100+ tokens). The length
    * distribution is the first thing a data pipeline plots for a new
    * corpus drop; one narrow scan + one tiny hash aggregate.
    */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(expr("CAST(least(size(split(text, ' ')) div 10, 10) AS BIGINT)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lo_tokens", col("bucket") * 10)
      .select(col("bucket"), col("lo_tokens"), col("n_docs"))
      .orderBy(col("bucket"))

  /** Exact distributed order statistics (round 8): the boundary
    * quantiles used to come from Spark's `percentile` aggregate, which
    * materializes and sorts EVERY value of the single group on one
    * reducer — the one single-task funnel left on the query surface
    * (its doc hand-waved "swap in t-digest at 100 TB", giving up
    * exactness). This replaces it with distributed selection, exact at
    * any scale: range-partition the values (Spark samples split points;
    * order across partitions is total), sort within partitions, count
    * per partition (a P-row aggregate), convert each quantile's global
    * index into (partition, local index) via the prefix offsets, and
    * fetch just those ≤2·|qs| rows with a per-partition scan. No task
    * ever holds more than its partition slice; the driver sees P counts
    * and the picked values. Interpolation mirrors DuckDB's
    * `quantile_cont` form (lo + frac·(hi − lo)).
    */
  private[graft] def exactQuantilesDistributed(values: DataFrame, qs: Seq[Double]): Seq[Double] = {
    // each quantile q needs rows floor((n-1)q) and ceil((n-1)q)
    val (n, picked) = pickAtGlobalIndices(values) { n =>
      qs.flatMap { q =>
        val idx = (n - 1) * q
        Seq(math.floor(idx).toLong, math.ceil(idx).toLong)
      }.distinct
    }
    qs.map { q =>
      val idx = (n - 1) * q
      val lo = picked(math.floor(idx).toLong)
      val hi = picked(math.ceil(idx).toLong)
      val frac = idx - math.floor(idx)
      if (frac == 0.0) lo else lo + frac * (hi - lo)
    }
  }

  /** Exact values at the given 1-BASED global ranks of `values`'
    * single numeric column under ascending order — the DISCRETE
    * (`quantile_disc`-class) sibling of [[exactQuantilesDistributed]],
    * same two-pass partition-offset selection, no interpolation. The
    * VALUE at a rank is well-defined regardless of tie order among
    * equal values, so no tie-break contract is needed. Ranks beyond n
    * clamp to n (the last element).
    */
  private[graft] def exactValuesAtRanks(values: DataFrame,
      ranks: Seq[Long]): (Long, Map[Long, Double]) = {
    val (n, picked) = pickAtGlobalIndices(values) { n =>
      ranks.map(r => math.min(math.max(r, 1L), n) - 1).distinct
    }
    (n, ranks.map(r => r -> picked(math.min(math.max(r, 1L), n) - 1)).toMap)
  }

  /** The selection core behind [[exactQuantilesDistributed]] and
    * [[exactValuesAtRanks]]: range-sort the single numeric column,
    * count per partition, then fetch exactly the rows at the requested
    * 0-based global sort indices (chosen AFTER n is known, via
    * `indicesFor`) with a per-partition scan. No task ever holds more
    * than its partition slice; the driver sees P counts and the ≤
    * |indices| picked values.
    */
  private def pickAtGlobalIndices(values: DataFrame)(
      indicesFor: Long => Seq[Long]): (Long, Map[Long, Double]) = {
    val spark = values.sparkSession
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    val sorted = values.select(col(values.columns.head).cast("double").as("v")).as[Double]
      .repartitionByRange(parts, col("v"))
      .sortWithinPartitions(col("v"))
      .persist()
    try {
      val pidCounts = sorted.toDF("v").select(spark_partition_id().as("pid"))
        .groupBy(col("pid")).agg(count(lit(1)).as("c"))
        .as[(Int, Long)].collect().sortBy(_._1)
      val n = pidCounts.map(_._2).sum
      require(n > 0, "global-index selection needs a non-empty input")
      val offsets = pidCounts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) => (pid, acc + c) }
        .init.map(_._2) // global index of each partition's first row
      def locate(globalIdx: Long): (Int, Long) = {
        val slot = offsets.lastIndexWhere(_ <= globalIdx)
        (pidCounts(slot)._1, globalIdx - offsets(slot))
      }
      val targets: Seq[Long] = indicesFor(n)
      val wanted: Map[Int, Set[Long]] = targets.map(locate)
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val wantedB = spark.sparkContext.broadcast(wanted)
      val picked: Map[Long, Double] = sorted.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val want = wantedB.value.getOrElse(pid, Set.empty[Long])
        if (want.isEmpty) Iterator.empty
        else {
          var i = -1L
          it.flatMap { v => i += 1; if (want.contains(i)) Iterator((pid, i, v)) else Iterator.empty }
        }
      }.collect()
        .map { case (pid, local, v) =>
          (offsets(pidCounts.indexWhere(_._1 == pid)) + local) -> v }.toMap
      (n, picked)
    } finally { sorted.unpersist(); () }
  }

  /** KEYED exact distributed order statistics (round 14) — the
    * per-group generalization of [[exactQuantilesDistributed]], built
    * for the "per-language tercile boundary" shape VERDICT r13 asked
    * for: return, for each key, the full row at the 1-indexed ranks
    * `ranksFor(n_key)` under the total order of the non-key columns
    * (ties impossible when the last sort column is a unique id;
    * irrelevant when only the sorted value is read back, since the
    * value at rank k is tiebreak-invariant), PLUS the per-key totals —
    * they fall out of the counts pass, so callers need no counting
    * scan of their own. Out-of-range ranks are dropped (a key with
    * n < 3 simply gets no tercile boundary).
    *
    * Why not a `Window.partitionBy(key)` rank: on a real crawl one
    * language is ~half the corpus, so a keyed window funnels ~50 TB
    * through ONE task — the exact scale-killer PlanLintSpec's
    * low-cardinality-window detector now rejects. Here the data is
    * range-partitioned on (key, sortCols…) — a dominant key SPREADS
    * over many partitions by value range instead of concentrating —
    * sorted within partitions, counted per (partition, key) (a
    * P·|keys| aggregate, collected bounded), each rank converted to a
    * (partition, local row index) via the per-key prefix offsets plus
    * the key run's offset inside its partition, and only the ≤|ranks|
    * picked rows ever reach the driver.
    *
    * Partition-order contract: rows of one key occupy a contiguous
    * ascending run of partitions (range partitioning is total on the
    * leading key), and WITHIN a partition keys appear in sorted order,
    * so a key's run offset is the summed counts of lexicographically
    * smaller keys in that partition. Key comparison uses UTF-8 byte
    * order — the same order Spark's range partitioner applies to
    * StringType — so non-ASCII keys locate correctly too.
    *
    * Scale bound (ADVICE r14): the counts pass collects P·|keys| rows
    * and the driver does O(|keys| + |runs|) hash work over them — fine
    * for language/source cardinalities (≤10⁴ keys × ≤10³ partitions =
    * 10⁷ tuples, megabytes), but NOT a substitute for a distributed
    * algorithm when the key is user-id-grade (10⁸+ keys); at that
    * cardinality use a plain per-key aggregate instead — a selection
    * over millions of tiny groups has no skew problem for a window to
    * cause.
    */
  private[graft] def exactRankRowsByKey(df: DataFrame,
      ranksFor: Long => Seq[Long]):
      (Map[(String, Long), org.apache.spark.sql.Row], Map[String, Long]) = {
    val spark = df.sparkSession
    val keyCol = df.columns.head
    // fail fast: the run-offset math below reads the key via getString
    // and orders runs by UTF-8 bytes — both assume a StringType leading
    // column (ADVICE r14: a non-string key died as a ClassCastException
    // deep inside a collected job)
    require(df.schema.head.dataType == org.apache.spark.sql.types.StringType,
      s"exactRankRowsByKey needs a StringType leading key column, got " +
        s"'$keyCol': ${df.schema.head.dataType.simpleString}")
    val parts = spark.sparkContext.defaultParallelism
    val orderCols = df.columns.toIndexedSeq.map(col)
    val sorted = df.repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*).persist()
    try {
      val utf8 = (s: String) => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      implicit val byteOrd: Ordering[Array[Byte]] = (a: Array[Byte], b: Array[Byte]) => {
        val n = math.min(a.length, b.length)
        var i = 0
        var r = 0
        while (i < n && r == 0) { r = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
        if (r != 0) r else a.length - b.length
      }
      val cnt = sorted.groupBy(spark_partition_id().as("pid"), col(keyCol).as("k"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      // run offset of each key inside its partition = counts of
      // byte-order-smaller keys sharing the partition
      val runOffset: Map[(Int, String), Long] = cnt.groupBy(_._1).flatMap {
        case (pid, rows) =>
          val ordered = rows.sortBy(r => utf8(r._2))
          ordered.scanLeft(("", 0L, 0L)) { case ((_, off, c0), (_, k, c)) =>
            (k, off + c0, c)
          }.tail.map { case (k, off, _) => (pid, k) -> off }
      }
      // Group the counts by key ONCE — the earlier per-key
      // cnt.filter(...) rescanned all P·|keys| tuples for every key,
      // O(|keys|²·P) driver work (ADVICE r14); per-key totals and run
      // lists both derive from this single grouping (review r15)
      val runsByKey: Map[String, Array[(Int, String, Long)]] =
        cnt.groupBy(_._2).map { case (k, rows) => k -> rows.sortBy(_._1) }
      // per-key totals fall out of the same counts pass — returned to
      // the caller, which previously ran its own groupBy(key).count()
      // collect over the full frame just to derive the ranks it wanted
      // (review r14: one redundant corpus scan per adopter)
      val totals: Map[String, Long] =
        runsByKey.map { case (k, rows) => k -> rows.map(_._3).sum }
      val wanted = scala.collection.mutable.HashMap
        .empty[Int, scala.collection.mutable.HashMap[Long, (String, Long)]]
      totals.foreach { case (k, total) =>
        val runs = runsByKey(k) // (pid, k, c) ascending pid
        ranksFor(total).distinct.filter(r => r >= 1 && r <= total).foreach { r =>
          var rem = r - 1 // 0-indexed position among the key's rows
          var i = 0
          while (i < runs.length && rem >= runs(i)._3) { rem -= runs(i)._3; i += 1 }
          val pid = runs(i)._1
          val local = runOffset((pid, k)) + rem
          wanted.getOrElseUpdate(pid, scala.collection.mutable.HashMap.empty)
            .put(local, (k, r))
        }
      }
      val wantedB = spark.sparkContext.broadcast(
        wanted.map { case (p, m) => p -> m.toMap }.toMap)
      val picked = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val want = wantedB.value.getOrElse(pid, Map.empty[Long, (String, Long)])
        if (want.isEmpty) Iterator.empty
        else {
          var i = -1L
          it.flatMap { row =>
            i += 1
            want.get(i).map { case (k, r) => ((k, r), row) }.iterator
          }
        }
      }.collect().toMap
      (picked, totals)
    } finally { sorted.unpersist(); () }
  }

  /** Equi-depth histogram of l_extendedprice — the ANALYZE statistic
    * optimizers build for selectivity estimates (ClickHouse's
    * quantile-family stats). Two-phase, each phase scale-clean:
    * boundaries come from [[exactQuantilesDistributed]] (exact order
    * statistics with no single-reducer sort), rounded to 2 dp so both
    * engines see identical literals; bucket assignment is then a pure
    * per-row comparison against those 9 broadcast literals — no global
    * sort, no ntile window funneling the table through one task (which
    * is the formulation PlanLintSpec exists to reject).
    */
  /** 2-dp rounding that reproduces the oracle's `round(x, 2)` exactly
    * (VERDICT r7 defect 2). DuckDB computes `std::round(x*100)/100` —
    * nearest integer of the PRODUCT double, ties away from zero. The
    * prior `math.rint(b*100)/100` was half-EVEN on ties, and
    * `BigDecimal(b).setScale(2)` would round b's own decimal expansion,
    * which disagrees whenever the ×100 multiply lands exactly on .5
    * (e.g. double 2.005 = 2.00499…, but 2.005×100 == 200.5 exactly →
    * DuckDB 2.01, expansion-rounding 2.00). Rounding the product via
    * BigDecimal HALF_UP matches std::round on every double.
    */
  private[graft] def round2HalfAway(b: Double): Double =
    BigDecimal(b * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 100

  def equiDepthHist(spark: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice").as("v"))
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val bounds = exactQuantilesDistributed(li, qs).map(round2HalfAway)
    val bucket = bounds.map(b => when(col("v") > b, 1L).otherwise(0L))
      .reduce(_ + _) + 1L
    li.withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 2).as("lo"),
        round(max(col("v")), 2).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Exact corpus heavy hitters via sketch-then-verify (the ClickHouse
    * `topK` query class, made deterministic): tokens whose count is at
    * least 1/`invPhi` of the total token count.
    *
    * Pass 1 aggregates the whole token stream into ONE Misra-Gries
    * sketch ([[graft.functions.FreqSketch]]) alongside the exact total
    * — the shuffle carries `capacity` counters per partition instead of
    * one row per distinct token, which is what makes a corpus-wide
    * top-k viable at 100 TB vocabulary sizes. With capacity >
    * invPhi, MG guarantees every qualifying token is among the
    * counters, so pass 2 re-counts ONLY the ≤ capacity candidates
    * (an `isin` filter compiles to a hash-set probe at the scan) and
    * applies the exact threshold — output identical to the
    * full `groupBy(token)` a small-data engine would run, which is
    * precisely what the DuckDB oracle does. Same candidates-then-verify
    * shape as the MinHash dedup path.
    */
  /** Deterministic HyperLogLog vocabulary estimate (`x_hll_distinct`,
    * round 15): Flajolet et al. 2007's cardinality sketch, built so
    * the SKETCH ITSELF hash-gates — the contrast with
    * `q21_approx_distinct`, whose built-in `approx_count_distinct`
    * (also HLL) is implementation-defined and can only be rows-checked.
    * Everything is a pure function of md5: bucket = first 16 hash bits
    * mod m (the [[graft.ext.Corpus.sampleSplit]] draw idiom), value =
    * the next 32 bits, rank = leading zeros + 1 via `33 − len(bin(w))`
    * (both engines print unpadded binary; w = 0 pins rank 33), and the
    * register is a plain `max` — so duplicate tokens need NO distinct
    * pass, the sketch absorbs them, which is the whole point of the
    * algorithm and exactly its 100 TB shape: one token scan collapsing
    * to an m-row aggregate with map-side partial maxima, mergeable
    * across any partitioning.
    *
    * The estimate stays integer-exact: E_raw = α₆₄·m²·2^rmax div S with
    * S = Σ 2^(rmax−Mⱼ) (an exact integer sum ≤ m·2³³) and α₆₄ = 0.709
    * as the literal ratio 709/1000; the small-range regime applies
    * linear counting (E_lin = ⌊m·ln(m/V) + 0.5⌋ — the one ln, on the
    * exact small-integer ratio m/V, the cross-engine ln convention)
    * when `2·E_raw ≤ 5·m` and zero registers exist — all integer
    * compares. Output: the 64 registers (the sketch, hash-gated) with
    * the estimate legs and the error vs the EXACT distinct count as
    * constant columns (the cellImbalance literal-key join-back idiom);
    * at 100 TB the exact leg is the expensive one — the sketch is why
    * you would not run it.
    */
  /** The HLL register aggregation, run as-is by the batch report and
    * on a streaming frame — the same md5 bucket/rank projection and
    * the same ≤64-row max aggregate, so the two sketches cannot drift;
    * on a stream the max is the textbook bounded-state cardinality
    * sketch (64 register rows of state, ever), and because `max` is
    * idempotent a re-delivered micro-batch cannot corrupt it.
    */
  private[graft] def hllRegistersFor(docs: DataFrame): DataFrame =
    // the corpus-wide face IS the grouped face under one constant key
    // (review r16: two copies of the md5 bucket/rank projection were
    // the "one definition, not a copy" drift this file forbids)
    hllRegistersByKeyFor(docs.withColumn("lang", lit("")))
      .select(col("bucket"), col("register"))

  /** The PRODUCTION face of the HLL sketch (round 16, VERDICT r15 #6):
    * the Flajolet estimate applied to a standing register frame — the
    * sketch-only read path a 100 TB deployment actually runs, with NO
    * truth leg. The registered `x_hll_distinct` is the VERDICT face:
    * it carries the exact distinct count beside the estimate so the
    * oracle can price the error — correct for correctness gating, but
    * its exact leg is the corpus-wide distinct aggregate the sketch
    * exists to avoid. Registers built by [[hllRegistersFor]] on a
    * batch or a streaming frame read identically here: densify to
    * m = 64 (absent bucket = register 0), then the integer-exact
    * estimate — one ≤ 64-row job. Output: one
    * row (r_max, n_zero, s_sum, raw_est, est).
    */
  /** Densify a (bucket, register) frame to all m = 64 buckets (absent
    * bucket = register 0) — ONE definition shared by the verdict
    * face's register rows and the production estimator (review r16:
    * two copies of the densify were exactly the construction drift
    * VERDICT r15 #6 set out to close; now only the spec AND the
    * shared code pin them).
    */
  private[graft] def hllDensify(regs: DataFrame): DataFrame =
    regs.sparkSession.range(64).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("register"), lit(0L)).as("register"))

  def hllEstimateFor(regs: DataFrame): DataFrame = {
    val m = 64
    val full = hllDensify(regs)
    val c1 = full.agg(
      max(col("register")).as("r_max"),
      sum(when(col("register") === 0L, 1L).otherwise(0L)).as("n_zero"))
    full.withColumn("j", lit(1))
      .join(broadcast(c1.withColumn("j", lit(1))), "j")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(r_max - register AS INT))")).as("s_sum"),
        max(col("r_max")).as("r_max"), max(col("n_zero")).as("n_zero"))
      .select(col("r_max"), col("n_zero"), col("s_sum"),
        expr(s"709 * ${m.toLong * m} * shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT))"
          + " DIV (1000 * s_sum)").as("raw_est"))
      .withColumn("est",
        expr(s"CAST(CASE WHEN raw_est * 2 <= ${5L * m} AND n_zero > 0"
          + s" THEN floor($m * ln(CAST($m AS DOUBLE) / n_zero) + 0.5)"
          + " ELSE raw_est END AS BIGINT)"))
  }

  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    // fixed m = 64: the bucket modulus, the m² = 4096 factor, AND the
    // bias constant α₆₄ = 0.709 are all instantiated for this register
    // count (α is m-specific in Flajolet's analysis), so a tunable m
    // would be dead generality inviting a silent constant mismatch
    // (review r15) — change all three together or not at all
    val m = 64
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val regs = hllRegistersFor(docs)
    val full = hllDensify(regs)
    // estimate legs via the shared production-face estimator — one
    // expression tree, so the verdict face cannot drift from the path
    // a deployment reads (VERDICT r15 #6)
    val estF = hllEstimateFor(regs)
    val exact = toks.agg(countDistinct(col("token")).as("exact_distinct"))
    val consts = estF.withColumn("j", lit(1))
      .join(broadcast(exact.withColumn("j", lit(1))), "j")
      // zero-guarded (ADVICE r15): on an EMPTY corpus exact_distinct
      // is 0 and ANSI Spark would throw on the integer division where
      // DuckDB's // quietly yields NULL — the same cross-engine
      // divergence class the qx3 empty-text guard fixed. NULL is the
      // honest answer (no truth to price error against).
      .withColumn("err_pct",
        expr("CASE WHEN exact_distinct = 0 THEN NULL"
          + " ELSE abs(est - exact_distinct) * 100 DIV exact_distinct END"))
    full.withColumn("j", lit(1))
      .join(broadcast(consts), "j")
      .select(col("bucket"), col("register"), col("r_max"), col("n_zero"),
        col("raw_est"), col("est"), col("exact_distinct"), col("err_pct"))
      .orderBy(col("bucket"))
  }

  /** Deterministic Count-Min sketch (`x_countmin`, round 15): Cormode
    * & Muthukrishnan 2005's frequency sketch, completing the classic
    * mergeable-sketch triad next to the Misra-Gries heavy hitters
    * (exact-candidate counts) and [[hllDistinct]] (cardinality) — CM
    * is the point-FREQUENCY estimator with the one-sided guarantee
    * est ≥ true (an increment can only land ON a counter, never miss
    * it), which this face hash-gates per token rather than asserting.
    * d = 4 rows × w = 256 columns; the row hashes are four disjoint
    * 8-bit slices of ONE md5(token) (the same portable-draw idiom as
    * every md5 face — DuckDB decodes them with runtime-position strpos
    * arithmetic). Build shape: one token scan exploding 4 row-local
    * (row, col) pairs, collapsing to a ≤1024-cell hash aggregate with
    * map-side partials — mergeable across any partitioning, the whole
    * reason stream processors carry CM at scale. The report prices the
    * sketch against truth on the exact top-10 tokens (by (count DESC,
    * token) via the bounded TopKByScoreStr cut): true count, CM
    * estimate (min over the 4 row counters — joined cell-wise against
    * the tiny broadcast top-10 key set), and the non-negative
    * overestimate.
    */
  /** The sketch-cell aggregation, run as-is by the batch report and
    * on a streaming frame — the same row-local (row, col) projection
    * and the same ≤d·w-cell aggregate, so the two sketches cannot
    * drift; on a stream the aggregate is the textbook bounded-state
    * streaming sketch (complete-mode cells, state capped at d·w by
    * construction). Cell counts are at-least-once sensitive: a
    * replayed micro-batch adds again, so run behind an exactly-once
    * source commit log.
    */
  private[graft] def cmCellsFor(docs: DataFrame, d: Int = 4, w: Int = 256): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("token"), explode(expr(s"sequence(0, ${d - 1})")).as("row_i"))
      .withColumn("cm_col",
        expr(s"CAST(conv(substring(md5(token), row_i * 2 + 1, 2), 16, 10) AS BIGINT) % $w"))
      .groupBy(col("row_i"), col("cm_col"))
      .agg(count(lit(1)).as("cell"))

  /** The PRODUCTION face of the Count-Min sketch (round 16, VERDICT
    * r15 #6): point-frequency estimates for an arbitrary (small) query
    * key set against a standing cell frame — the sketch-only read path
    * a 100 TB deployment actually runs, with NO truth leg. The
    * registered `x_countmin` is the VERDICT face: it carries the exact
    * top-10 counts beside the estimates so the oracle can hash-gate
    * est ≥ true per token — correct for correctness pricing, but its
    * truth leg is a full token aggregate the sketch exists to avoid.
    * This face is one broadcast equi-join of |queries|·d rows against
    * ≤ d·w cells plus a d-way min — corpus never touched. Cells built
    * by [[cmCellsFor]] on a batch or a streaming frame read
    * identically here; a key hitting an absent cell estimates 0 (the
    * sketch never saw it — CM's one-sided floor).
    */
  def cmEstimateFor(cells: DataFrame, queryTokens: DataFrame,
      d: Int = 4, w: Int = 256): DataFrame = {
    // fail loudly on a builder/reader parameter mismatch (review r16:
    // a silent one breaks CM's one-sided est ≥ true guarantee — the
    // exact property the verdict face hash-gates). d IS derivable from
    // a nonempty frame (the builder populates every row 0..d−1); w is
    // not, but a frame built wider than the reader's w must contain a
    // column index ≥ w — the dangerous direction (wrong-cell lookups)
    // — so both common mismatches trip. A frame built NARROWER only
    // yields absent-cell zero floors, which the est-vs-true read
    // exposes; the builder contract is documented here.
    val dims = cells.agg(max(col("row_i")).cast("long").as("dmax"),
      max(col("cm_col")).cast("long").as("wmax")).head()
    if (!dims.isNullAt(0)) {
      require(dims.getLong(0) == (d - 1).toLong,
        s"cmEstimateFor: cells frame has rows 0..${dims.getLong(0)} but d=$d — " +
          "the reader's depth must match the builder's")
      require(dims.getLong(1) < w.toLong,
        s"cmEstimateFor: cells frame has column index ${dims.getLong(1)} >= w=$w — " +
          "the reader's width must match the builder's")
    }
    queryTokens.select(col("token"),
        explode(expr(s"sequence(0, ${d - 1})")).as("row_i"))
      .withColumn("cm_col",
        expr(s"CAST(conv(substring(md5(token), row_i * 2 + 1, 2), 16, 10) AS BIGINT) % $w"))
      .join(cells, Seq("row_i", "cm_col"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("cell"), lit(0L))).as("est"))
  }

  def countMin(spark: SparkSession, dir: String,
      d: Int = 4, w: Int = 256, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documentsWide(spark, dir) // token-sketch explode is CPU-heavy (Tables.widen)
    val toks = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val cells = cmCellsFor(docs, d, w)
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("n_true"))
      .agg(graft.functions.GraftFunctions
        .topKByScoreStr(col("n_true").cast("double"), col("token"), k).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rk"), col("s.id").as("token"),
        col("s.score").cast("long").as("n_true"))
    val topKeys = top.select(col("rk"), col("token"), col("n_true"),
        explode(expr(s"sequence(0, ${d - 1})")).as("row_i"))
      .withColumn("cm_col",
        expr(s"CAST(conv(substring(md5(token), row_i * 2 + 1, 2), 16, 10) AS BIGINT) % $w"))
    cells.join(broadcast(topKeys), Seq("row_i", "cm_col"))
      .groupBy(col("rk"), col("token"), col("n_true"))
      .agg(min(col("cell")).as("est"))
      .select(col("rk"), col("token"), col("n_true"), col("est"),
        (col("est") - col("n_true")).as("overcount"))
      .orderBy(col("rk"))
  }

  def heavyHitters(spark: SparkSession, dir: String,
      invPhi: Int = 500, capacity: Int = 1024): DataFrame = {
    require(capacity > invPhi,
      "MG completeness needs capacity+1 counters per 1/phi of mass")
    graft.functions.GraftFunctions.register(spark)
    def tokens = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val row = tokens.agg(
      count(lit(1)).as("total"),
      graft.functions.GraftFunctions.freqSketch(col("tok"), capacity).as("sk")).head()
    val total = row.getLong(0)
    val candidates = row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
    tokens.filter(col("tok").isin(candidates: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      // integer form of cnt >= total/invPhi — no float boundary
      .filter(col("cnt") * invPhi >= lit(total))
      .orderBy(col("tok"))
  }

  /** The AMS sign-register aggregation, run as-is by the batch F2
    * report and on a streaming frame — one definition, so the two
    * sketches cannot drift (like [[cmCellsFor]]'s counters, a replayed
    * micro-batch adds again). Each of the `s` estimators draws its ±1 sign for a token from one hex
    * digit of md5(token) (digit i even → +1, odd → −1 — the same
    * disjoint-slices-of-ONE-digest idiom as [[cmCellsFor]]'s row
    * hashes, portable to the oracle via strpos arithmetic) and sums
    * signs over token OCCURRENCES: Z_i = Σ sign_i(t). The register
    * frame is s rows EVER — plain integer sums, so map-side partials
    * collapse each partition to ≤ s rows before the one tiny shuffle,
    * and shard registers merge by addition (the property that makes
    * AMS the distributed-sketch textbook example alongside CM/HLL).
    */
  /** The ±1 sign draw shared by BOTH AMS register builders — expects
    * `token` and `est_i` columns; one expression (the qLevelCol
    * precedent), so the corpus-wide and grouped sketches cannot drift.
    */
  private[graft] def f2SignCol: Column =
    expr("CASE WHEN CAST(conv(substring(md5(token), CAST(est_i + 1 AS INT), 1)"
      + ", 16, 10) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END")

  private[graft] def f2RegistersFor(docs: DataFrame, s: Int = 16): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("token"), explode(expr(s"sequence(0, ${s - 1})")).as("est_i"))
      .select(col("est_i"), f2SignCol.as("sgn"))
      .groupBy(col("est_i"))
      .agg(sum(col("sgn")).as("z"))

  /** The PRODUCTION face of the AMS F2 sketch: the
    * Alon–Matias–Szegedy second-moment estimate off a standing
    * register frame — the sketch-only read path with NO truth leg
    * (same contract as [[hllEstimateFor]]/[[cmEstimateFor]]). One
    * ≤ s-row job: F̂2 = mean of Z_i² (each Z_i² is an unbiased F2
    * estimator; averaging s of them divides the variance by s). `s`
    * is derived from the frame — the register count IS the estimator
    * population, so a builder/reader mismatch cannot exist.
    */
  def f2EstimateFor(regs: DataFrame): DataFrame =
    regs.agg(count(lit(1)).as("s_est"),
        sum(col("z") * col("z")).as("zsq_sum"))
      .select(col("s_est"), expr("zsq_sum DIV s_est").as("f2_est"))

  /** The per-key AMS sign-register frame — the grouped twin of
    * [[f2RegistersFor]] (the [[hllRegistersByKeyFor]] relationship):
    * (k, est_i, z) from ONE token scan, ≤ s rows per key, the same md5
    * hex-digit sign expression so the grouped and corpus-wide sketches
    * cannot drift. Registers are plain integer sums → map-side
    * partials, shard-merge by addition per key.
    */
  private[graft] def f2RegistersByKeyFor(docs: DataFrame, s: Int = 16): DataFrame =
    docs.select(col("source").as("k"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("k"), col("token"), explode(expr(s"sequence(0, ${s - 1})")).as("est_i"))
      .select(col("k"), col("est_i"), f2SignCol.as("sgn"))
      .groupBy(col("k"), col("est_i"))
      .agg(sum(col("sgn")).as("z"))

  private def f2RegsByKeyMemo(spark: SparkSession, dir: String): DataFrame =
    Dedup.Frames.getOrCompute(spark, s"f2regsbykey:$dir", dir,
      tables = Seq("documents.parquet")) {
      f2RegistersByKeyFor(Tables.documentsWide(spark, dir))
    }

  /** Per-(source, token) occurrence counts — the ONE truth-leg
    * tokenization both f2 chain faces read (review: two verbatim
    * copies let a tokenization-rule edit desynchronize the chain's
    * truth legs about the same corpus).
    */
  private def tokenCountsBySource(docs: DataFrame): DataFrame =
    docs.select(col("source").as("k"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("k"), col("token")).agg(count(lit(1)).as("cnt"))

  /** Grouped AMS F2 (`x_f2_by_key`): per-source second frequency
    * moment — each source's token self-join size from its own s = 16
    * sign sums, the "sketches GROUP" completion for the AMS family
    * beside [[hllByKey]]/`quantileByKey` (the register maintenance is
    * a per-item projection, so ONE token scan builds every key's
    * sketch at once). Estimate per key = mean of Z², integer-exact;
    * exact per-key F2 truth leg beside it with the zero-guard NULL
    * err. Anchors the f2 chain: the grouped register frame is
    * memoized, and [[f2JoinSize]] rides it.
    */
  def f2ByKey(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir) // truth-leg token counts are CPU-heavy
    val regs = f2RegsByKeyMemo(spark, dir)
    val est = regs.groupBy(col("k"))
      .agg(count(lit(1)).as("s_est"), sum(col("z") * col("z")).as("zsq_sum"))
      .select(col("k"), expr("zsq_sum DIV s_est").as("f2_est"))
    val exact = tokenCountsBySource(docs)
      .groupBy(col("k")).agg(sum(col("cnt") * col("cnt")).as("f2_exact"))
    est.join(exact, Seq("k"), "left")
      .select(col("k").as("source"), col("f2_est"), col("f2_exact"),
        expr("CASE WHEN f2_exact IS NULL OR f2_exact = 0 THEN NULL"
          + " ELSE abs(f2_est - f2_exact) * 100 DIV f2_exact END").as("err_pct"))
      .orderBy(col("source"))
  }

  /** AMS equi-join cardinality (`x_f2_join_size`): for every ordered
    * source pair, |A ⋈ B on token| = Σ_t cntA(t)·cntB(t) estimated
    * from the two sources' INDEPENDENTLY-built sign registers as the
    * mean of Za_i·Zb_i — Alon, Gibbons, Matias & Szegedy's join-size
    * estimator (PODS'99), THE textbook application of the F2 sketch
    * and the quantity an equi-join planner prices before choosing a
    * strategy. E[Za·Zb] = Σ cntA·cntB exactly (sign independence
    * across tokens), and everything is integer products of integer
    * sums, so the oracle hash-gates the estimates themselves. The
    * registered face carries the exact join size beside it — the
    * token-keyed join the sketch replaces at 100 TB (here the truth
    * join runs on per-source COUNT frames, never row pairs). Rides
    * the f2 chain's memoized grouped registers: prices pair-matrix
    * arithmetic over ≤ s·|sources| rows, never a token scan. |pairs|
    * = |sources|²/2 IS the output size (the kmvOverlapReport
    * exemption class).
    */
  def f2JoinSize(spark: SparkSession, dir: String): DataFrame = {
    // Round 22 (VERDICT r21 #2 — this face regressed 2× when round 21
    // widened it): 4-rep TimeMany A/B, widened truth leg 2.8-3.6 s vs
    // UNWIDENED 1.8-2.0 s. The truth leg's token-counts aggregate gets
    // its parallelism from its own groupBy(k, token) exchange after
    // map-side partials, so the upstream widen exchange is pure tax
    // here (the memo build keeps its widen inside f2RegsByKeyMemo,
    // where the r21 A/B measured it a win for x_f2_by_key).
    val docs = Tables.documents(spark, dir)
    val regs = f2RegsByKeyMemo(spark, dir)
    val prod = regs.as("a").join(regs.as("b"),
        col("a.est_i") === col("b.est_i") && col("a.k") < col("b.k"))
      .select(col("a.k").as("s1"), col("b.k").as("s2"),
        (col("a.z") * col("b.z")).as("zz"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("s_est"), sum(col("zz")).as("zz_sum"))
      .select(col("s1"), col("s2"), expr("zz_sum DIV s_est").as("join_est"))
    val cnts = tokenCountsBySource(docs)
    val truth = cnts.as("a").join(cnts.as("b"),
        col("a.token") === col("b.token") && col("a.k") < col("b.k"))
      .groupBy(col("a.k").as("s1"), col("b.k").as("s2"))
      .agg(sum(col("a.cnt") * col("b.cnt")).as("join_true"))
    prod.join(truth, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"), col("join_est"),
        coalesce(col("join_true"), lit(0L)).as("join_true"),
        expr("CASE WHEN coalesce(join_true, 0) = 0 THEN NULL"
          + " ELSE abs(join_est - join_true) * 100 DIV join_true END").as("err_pct"))
      .orderBy(col("s1"), col("s2"))
  }

  /** AMS second frequency moment (`x_f2_skew`): F2 = Σ count(token)²
    * — the SELF-JOIN SIZE of the token column and the standard skew
    * statistic (F2/F1² is the collision probability a join planner
    * prices; a heavy-hitter-dominated corpus has F2 near F1²). The
    * fourth classic mergeable sketch beside [[hllDistinct]]
    * (cardinality), [[countMin]] (point frequency), and
    * [[heavyHitters]] (top mass): s = 16 deterministic ±1 sign sums
    * built by [[f2RegistersFor]] in one token scan, estimate = mean
    * of Z² — integer-exact end to end (Z is an integer sum; Z² ≤
    * F1² fits bigint comfortably), so the ORACLE HASH-GATES THE
    * SKETCH VALUES themselves, not just the rows. The report carries
    * the exact F2 beside the estimate (the truth leg is the token
    * self-join aggregate the sketch replaces at 100 TB — the verdict
    * face prices the error; production reads [[f2EstimateFor]] off
    * the standing registers alone) with the qx3 zero-guard on the
    * terminal division (empty corpus → 0 rows on both engines).
    * Output: s rows (est_i, z, z_sq) + the broadcast constants
    * (f2_est, f2_exact, err_pct) — the [[hllDistinct]] shape.
    *
    * Oracle contract (ADVICE r17): ONLY the default s = 16 face is
    * oracle-checked — the registered `x_f2_skew` SQL hardcodes 16
    * registers, so a caller tuning `s` gets a correct Spark answer
    * with no DuckDB witness (the convention for every parameterized
    * face here).
    */
  def f2Skew(spark: SparkSession, dir: String, s: Int = 16): DataFrame = {
    require(s >= 1 && s <= 32, "sign digits come from one 32-hex-digit md5")
    val docs = Tables.documentsWide(spark, dir) // token-sketch explode is CPU-heavy (Tables.widen)
    val toks = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val regs = f2RegistersFor(docs, s)
    val est = f2EstimateFor(regs)
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt") * col("cnt")).as("f2_exact"))
    val consts = est.withColumn("j", lit(1))
      .join(broadcast(exact.withColumn("j", lit(1))), "j")
      // zero-guarded (the qx3/hllDistinct convention): an all-empty
      // corpus has f2_exact NULL-or-0 where ANSI Spark would throw on
      // the integer division and DuckDB would quietly yield NULL
      .withColumn("err_pct",
        expr("CASE WHEN f2_exact IS NULL OR f2_exact = 0 THEN NULL"
          + " ELSE abs(f2_est - f2_exact) * 100 DIV f2_exact END"))
    regs.withColumn("j", lit(1))
      .join(broadcast(consts), "j")
      .select(col("est_i").cast("long").as("est_i"), col("z"),
        (col("z") * col("z")).as("z_sq"),
        col("f2_est"), col("f2_exact"), col("err_pct"))
      .orderBy(col("est_i"))
  }

  /** The md5 level draw shared by the batch quantile sketch and
    * [[quantileLevelHist]] on a streaming frame — one expression, not
    * a copy, so the two sketches cannot drift.
    * Expects a string `qkey` column (the item's identity);
    * level = leading zeros of the first 32 hash bits (the
    * [[hllRegistersFor]] `32 − len(bin(w))` idiom, unpadded binary on
    * both engines; w = 0 pins the 2⁻³² tail at 32), so
    * P[level ≥ j] = 2⁻ʲ exactly — every item's whole promotion
    * trajectory is one deterministic draw.
    */
  private[graft] def qLevelCol: Column =
    expr("CAST(CASE WHEN CAST(conv(substring(md5(qkey), 1, 8), 16, 10) AS BIGINT) = 0"
      + " THEN 32 ELSE 32 - length(bin(CAST(conv(substring(md5(qkey), 1, 8), 16, 10) AS BIGINT)))"
      + " END AS BIGINT)")

  /** The per-key HLL register frame — the grouped twin of
    * [[hllRegistersFor]], run as-is by the batch grouped estimate and
    * on a streaming frame: tokens → (k, bucket, register) with the identical md5 bucket/rank
    * projection and a per-(key, bucket) max — ≤ 64 register rows per
    * key out of any corpus, idempotent under replay like the
    * corpus-wide face.
    */
  private[graft] def hllRegistersByKeyFor(docs: DataFrame): DataFrame =
    docs.select(col("lang").as("k"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select(col("k"),
        expr("CAST(conv(substring(md5(token), 1, 4), 16, 10) AS BIGINT) % 64").as("bucket"),
        expr("CAST(conv(substring(md5(token), 5, 8), 16, 10) AS BIGINT)").as("w"))
      .select(col("k"), col("bucket"),
        when(col("w") === 0L, lit(33L))
          .otherwise(lit(33L) - length(bin(col("w")))).as("r"))
      .groupBy(col("k"), col("bucket")).agg(max(col("r")).as("register"))

  /** The grouped Flajolet estimator over a standing (k, bucket,
    * register) frame — the production read path of
    * [[hllRegistersByKeyFor]] maintained on a stream, so a
    * deployment maintaining per-key registers has a callable
    * estimator instead of re-implementing the arithmetic (review r16
    * — the estimator-duplication drift VERDICT r15 #6 closed for the
    * corpus-wide face, closed here for the grouped one). A present
    * bucket's register is ≥ 1, so absent buckets ARE the zero
    * registers: n_zero and their 2^rmax mass in S come off the
    * sparse frame with no per-key densify.
    */
  def hllEstimateByKeyFor(regs: DataFrame): DataFrame = {
    val m = 64
    val stats = regs.groupBy(col("k"))
      .agg(max(col("register")).as("r_max"),
        (lit(m.toLong) - count(lit(1))).as("n_zero"))
    val sSum = regs.join(stats.select(col("k"), col("r_max").as("rm")), Seq("k"))
      .groupBy(col("k"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(rm - register AS INT))")).as("s_present"))
    stats.join(sSum, Seq("k"))
      .select(col("k"), col("r_max"), col("n_zero"),
        (col("s_present")
          + col("n_zero") * expr("shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT))"))
          .as("s_sum"))
      .withColumn("raw_est",
        expr(s"709 * ${m.toLong * m} * shiftleft(CAST(1 AS BIGINT), CAST(r_max AS INT))"
          + " DIV (1000 * s_sum)"))
      .withColumn("est",
        expr(s"CAST(CASE WHEN raw_est * 2 <= ${5L * m} AND n_zero > 0"
          + s" THEN floor($m * ln(CAST($m AS DOUBLE) / n_zero) + 0.5)"
          + " ELSE raw_est END AS BIGINT)"))
  }

  /** Grouped HLL cardinality (`x_hll_by_key`, round 16): per-language
    * distinct-vocabulary estimates — the "sketches GROUP" completion
    * beside [[quantileByKey]]: the register maintenance is a per-item
    * projection, so one token scan builds every key's 64-register
    * sketch at once (map-side partial maxima, mergeable across any
    * partitioning), and the Flajolet estimate runs per key off the
    * bounded ≤ 64·|keys| register frame. A present bucket's register
    * is ≥ 1, so the m − |present| absent buckets ARE the zero
    * registers: n_zero and the 2^(rmax−0) mass they contribute to S
    * are plain integer arithmetic off the sparse frame — no per-key
    * densify join needed. Same integer estimate as the corpus-wide
    * face (α₆₄ = 709/1000, linear-counting branch on the identical
    * integer compares); exact per-key distinct beside it (the truth
    * leg the sketch replaces at scale) with the zero-guard NULL err.
    */
  def hllByKey(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    // the ≤ 64·|keys|-row register frame feeds BOTH estimator legs
    // (stats + the rmax re-join) — memoized like the kmv truth frame
    // so the token explode runs once, not per reference (review r16)
    val regs = graft.ext.Dedup.Frames.getOrCompute(spark, s"hllregsbykey:$dir",
      dir, tables = Seq("documents.parquet")) {
      hllRegistersByKeyFor(docs)
    }
    val exact = docs
      .select(col("lang").as("k"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("k")).agg(countDistinct(col("token")).as("exact_distinct"))
    hllEstimateByKeyFor(regs)
      .join(exact, Seq("k"))
      .select(col("k").as("lang"), col("r_max"), col("n_zero"), col("s_sum"),
        col("raw_est"), col("est"), col("exact_distinct"),
        expr("CASE WHEN exact_distinct = 0 THEN NULL"
          + " ELSE abs(est - exact_distinct) * 100 DIV exact_distinct END")
          .as("err_pct"))
      .orderBy(col("lang"))
  }

  /** The per-source KMV (k-minimum-values / bottom-k theta sketch)
    * frame — the PRODUCTION face a deployment persists: for each
    * source, the `k` smallest 32-bit md5 values over its DISTINCT
    * 8-char shingle set (Bar-Yossef et al., RANDOM 2002; the Theta
    * sketch of the DataSketches line). Shared by the batch overlap
    * report and a streaming frame so the two cannot drift; the KMV
    * insert is idempotent, so at-least-once replay cannot corrupt it.
    * One explode → [[graft.functions.BottomKDistinct]] aggregate — the
    * duplicate-absorbing KMV insert, so there is NO corpus-wide
    * distinct shuffle anywhere on the sketch path and ≤ k rows per
    * (partition, source) cross the wire. State is k rows per source,
    * EVER — the whole point: set overlap between two
    * 100 TB-shingle-set sources becomes arithmetic over two k-row
    * frames instead of a corpus-scale shingle join.
    */
  /** The (source, h) shingle-hash projection under the KMV sketch
    * (duplicates included — the sketch absorbs them): every 8-char
    * character shingle (the dedup family's shingle width, here kept
    * as PORTABLE md5 text hashes rather than the engine-private
    * [[graft.functions.NgramShingles]] packing so the oracle can
    * replay values), hashed to its first 32 md5 bits. ~3.7k distinct
    * shingles per source at sf0.01 — well past k, so the registered
    * sketch exercises the real sampling regime, not the degenerate
    * exact-small-set one.
    */
  private def kmvShingleHashes(docs: DataFrame): DataFrame = {
    // texts shorter than the shingle width have NO 8-char shingle and
    // are filtered out (ADVICE r16: the old greatest(...,1) floor
    // emitted the truncated text — and md5('') for empty texts — so an
    // all-short-text source entered the pair universe and the shared
    // '' shingle manufactured artificial cross-source overlap); the
    // oracle applies the same WHERE, keeping the documented "no set,
    // no overlap" semantics true on both engines.
    // Round 21: the explode(sequence)+substring+md5+conv chain is one
    // compiled window kernel — identical hash VALUES (the md5 runs
    // over each window's UTF-8 byte span; the oracle SQL is
    // unchanged), four fewer allocations per corpus-scale window
    // (guide §1.2 step 2: per-task work on the dominant scan).
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.filter(length(col("text")) >= 8)
      .select(col("source"),
        explode(graft.functions.GraftFunctions.charWindowMd5(col("text"), 8)).as("h"))
  }

  private[graft] def kmvSketchFor(docs: DataFrame, k: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // NO distinct pass: BottomKDistinct absorbs duplicate hashes inside
    // the aggregate buffer (the HLL argument) — one scan collapses to
    // ≤ k rows per source with map-side partials; the distinct-set
    // semantics the sketch needs live in the buffer, not in a
    // corpus-wide shuffle
    kmvShingleHashes(docs)
      .groupBy(col("source"))
      .agg(graft.functions.GraftFunctions.bottomKDistinct(col("h"), k).as("mins"))
      .select(col("source"), explode(col("mins")).as("h"))
  }

  /** Pairwise source-vocabulary overlap from KMV sketches
    * (`x_kmv_overlap`, round 16) — the SKETCH path of the
    * source-similarity audit family: [[graft.ext.Dedup.sourceOverlap]]
    * reads exact near-dup pair mass, this estimates SHINGLE-SET
    * Jaccard for every source pair from k-row sketches. The estimator is the
    * standard bottom-k one: M = the k smallest hashes of S_a ∪ S_b
    * (computed by re-aggregating the two sketches — bottomk(A ∪ B) =
    * bottomk(bottomk(A) ∪ bottomk(B)), the mergeability theorem the
    * spec asserts), overlap = |M ∩ S_a ∩ S_b|, Ĵ = overlap / |M|;
    * when the true union is smaller than k the sketch degenerates to
    * the exact sets and Ĵ IS Jaccard (spec-asserted). All-integer:
    * jaccard in micro-units by truncating div, zero-size pairs NULL
    * (the qx3 empty-corpus convention).
    *
    * The exact truth leg (one vocabulary self-equi-join on h +
    * inclusion–exclusion) sits beside the estimate as the verdict
    * face — at 100 TB the truth leg is the join the sketch exists to
    * avoid, and would run on a sampled source pair list. The
    * |sources|² pair matrix is the OUTPUT's own size (a report over
    * the source list, bounded by construction — the documented
    * PlanLint exemption), not a corpus-scale cross join.
    */
  def kmvSourceOverlap(spark: SparkSession, dir: String, k: Int = 64): DataFrame =
    kmvOverlapReport(spark, Tables.documentsWide(spark, dir), k, s"kmvtok:$dir", dir)

  /** Cross-split contamination estimate (`x_kmv_decontam`, round 16):
    * the KMV overlap machinery pointed at the TRAIN/VAL/TEST splits —
    * "how much shingle mass do my eval splits share with training?"
    * answered from three k-row sketches instead of the cross-split
    * shingle join the exact decontamination family
    * ([[graft.ext.Corpus.decontaminate]] and friends) runs. The split
    * label is [[graft.ext.Corpus.splitLabelCol]] — the SAME md5 draw
    * as `x_sample_split`, one definition — used as the sketch key, so
    * this face is literally [[kmvSourceOverlap]] over a different
    * keying (compose, never copy). At 100 TB this is the cheap
    * always-on contamination MONITOR; a non-trivial estimate routes
    * to the exact 13-gram/near-dup decontam faces for adjudication.
    */
  def kmvSplitOverlap(spark: SparkSession, dir: String, k: Int = 64): DataFrame =
    kmvOverlapReport(spark,
      Tables.documentsWide(spark, dir)
        .select(Corpus.splitLabelCol.as("source"), col("text")),
      k, s"kmvtoksplit:$dir", dir)

  /** KMV a-not-b (set DIFFERENCE) estimator (`x_kmv_diff`, round 17 —
    * VERDICT r16 #7): completes the theta-sketch algebra next to
    * [[kmvSourceOverlap]]'s Jaccard — "how much of source a's shingle
    * mass is NEW relative to source b?", the incremental-crawl /
    * standing-corpus read, answered from the SAME two k-row sketches.
    * Estimator: M = bottomk(skA ∪ skB) partitions into {both, A-only,
    * B-only} by sketch membership (every h ∈ M came from at least one
    * sketch), and the A-only fraction |M ∩ skA \ skB| / |M| estimates
    * |A\B| / |A∪B| — the DataSketches AnotB read in the bottom-k
    * form, the exact complement of the overlap face's estimator on
    * the same M, so overlap + onlyA + onlyB = |M| BY PARTITION
    * (spec-asserted). Exact truth beside it: |A\B| = n_a − |A∩B| off
    * the SAME tok/inter frames. Output is the ORDERED pair matrix
    * (the operation is asymmetric — both directions of each unordered
    * pair read off ONE union re-aggregation). Rides the overlap
    * report's memoized tok and sketch frames (identical memo keys) —
    * the kmv chain's rider convention: a warm run prices pair-matrix
    * arithmetic, never a second corpus shingle build. At 100 TB the
    * production monitor is sketch-only (drop the truth legs); a
    * non-trivial "new mass" estimate routes the crawl to the exact
    * dedup/decontam faces.
    */
  def kmvSourceDiff(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documentsWide(spark, dir) // shingle explode is CPU-heavy (Tables.widen)
    val tok = graft.ext.Dedup.Frames.getOrCompute(spark, s"kmvtok:$dir", dir,
      tables = Seq("documents.parquet"), eager = true) {
      kmvShingleHashes(docs).distinct()
    }
    // eager one-shot materialization like the overlap report's sk —
    // see the round-21 reversal note there (the a-not-b face
    // references the sketch in even more broadcast-child legs: the
    // scaffold, all three M-partition legs)
    val sk = graft.ext.Dedup.Frames.trackPersist(kmvSketchFor(docs, k))
    sk.count()
    val (pairs, m, mStats, nSrc, inter) = kmvPairScaffold(sk, tok, k)
    // Round 22 (VERDICT r21 #3): the union-sketch M is referenced by
    // FOUR legs here (mStats + all three kmvMPartition joins), each in
    // its own broadcast-child plan, so M's pair⋈sk re-aggregation ran
    // once per leg even with sk cached. |pairs|·k rows — eager persist
    // like sk, build once, legs read blocks.
    graft.ext.Dedup.Frames.trackPersist(m)
    m.count()
    // the three-way partition of M by sketch membership — the shared
    // kmvMPartition legs (A-only: equi-join on (source_a, h),
    // anti-join on (source_b, h))
    val (_, mOnlyA, mOnlyB) = kmvMPartition(sk, m)
    val base = pairs
      .join(mStats, Seq("source_a", "source_b"), "left")
      .join(mOnlyA, Seq("source_a", "source_b"), "left")
      .join(mOnlyB, Seq("source_a", "source_b"), "left")
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(nSrc.select(col("source").as("source_a"), col("n").as("n_a")), Seq("source_a"), "left")
      .join(nSrc.select(col("source").as("source_b"), col("n").as("n_b")), Seq("source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("m_size"), lit(0L)).as("m_size"),
        coalesce(col("only_a"), lit(0L)).as("only_a"),
        coalesce(col("only_b"), lit(0L)).as("only_b"),
        coalesce(col("exact_inter"), lit(0L)).as("xi"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    // both ordered directions off the one unordered scaffold
    val ordered = base.select(col("source_a"), col("source_b"), col("m_size"),
        col("only_a").as("kmv_only_a"),
        (col("n_a") - col("xi")).as("exact_only_a"),
        (col("n_a") + col("n_b") - col("xi")).as("exact_union"))
      .union(base.select(col("source_b").as("source_a"), col("source_a").as("source_b"),
        col("m_size"),
        col("only_b").as("kmv_only_a"),
        (col("n_b") - col("xi")).as("exact_only_a"),
        (col("n_a") + col("n_b") - col("xi")).as("exact_union")))
    ordered.select(col("source_a"), col("source_b"), col("m_size"), col("kmv_only_a"),
        expr("CASE WHEN m_size = 0 THEN NULL"
          + " ELSE kmv_only_a * 1000000 DIV m_size END").as("kmv_only_a_micro"),
        col("exact_only_a"), col("exact_union"),
        expr("CASE WHEN exact_union = 0 THEN NULL"
          + " ELSE exact_only_a * 1000000 DIV exact_union END").as("exact_only_a_micro"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** KMV distinct-cardinality estimator (`x_kmv_card`, round 17):
    * the third read of the theta-sketch algebra — overlap gives
    * Jaccard, a-not-b gives new-mass FRACTIONS, this gives the
    * absolute SIZE: per source, |S| ≈ (k−1)·2³² div θ_k where θ_k is
    * the sketch's k-th smallest hash (Bar-Yossef et al.'s bottom-k
    * estimator — the k-th order statistic of k uniform draws sits at
    * ≈ k/|S| of the hash space, inverted). When the source's shingle
    * set is smaller than k the sketch IS the set and the estimate is
    * exact BY DEFINITION (m_size < k branch — spec-asserted
    * degeneracy; θ = 0 is unreachable outside it: k distinct
    * nonnegative hashes force θ ≥ k−1). Beside HLL (`x_hll_distinct`)
    * this is the second, independent sketch answering the same
    * cardinality question — the cross-validation a monitoring stack
    * wants — and unlike HLL the SAME k-row sketch also serves
    * overlap/difference. Exact truth from the shared memoized tok
    * frame (the kmv chain's rider convention); integer-exact:
    * (k−1)·2³² ≈ 2.7·10¹¹ and the error is the guarded micro
    * division. 100 TB shape: the sketch aggregate + a |sources|-row
    * report; the truth leg is the corpus-wide distinct the sketch
    * replaces.
    */
  def kmvCardinality(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documentsWide(spark, dir)
    val tok = graft.ext.Dedup.Frames.getOrCompute(spark, s"kmvtok:$dir", dir,
      tables = Seq("documents.parquet"), eager = true) {
      kmvShingleHashes(docs).distinct()
    }
    val sk = kmvSketchFor(docs, k) // inline — the sk A/B note in kmvOverlapReport
    val skStats = sk.groupBy(col("source"))
      .agg(count(lit(1)).as("m_size"), max(col("h")).as("theta"))
    val exact = tok.groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))
    skStats.join(exact, Seq("source"))
      .select(col("source"), col("m_size"), col("theta"),
        expr(s"CASE WHEN m_size < $k THEN m_size"
          + s" ELSE CAST(${k - 1} AS BIGINT) * 4294967296 DIV theta END")
          .as("est_distinct"),
        col("exact_distinct"))
      .withColumn("err_micro",
        expr("CASE WHEN exact_distinct = 0 THEN NULL"
          + " ELSE abs(est_distinct - exact_distinct) * 1000000 DIV exact_distinct END"))
      .orderBy(col("source"))
  }

  /** The production KMV cardinality read (the [[f2EstimateFor]] /
    * hllEstimateFor convention): per-source (m_size, θ = max sketch
    * hash) → the (k−1)·2³² div θ bottom-k estimator, degenerate-exact
    * below k — k·|sources| standing rows in, |sources| rows out, NO
    * truth leg. `k` is a parameter because a sketch at capacity
    * carries no k of its own (m_size < k IS the degenerate signal).
    */
  def kmvEstimateFor(sk: DataFrame, k: Int = 64): DataFrame =
    sk.groupBy(col("source"))
      .agg(count(lit(1)).as("m_size"), max(col("h")).as("theta"))
      .select(col("source"), col("m_size"), col("theta"),
        expr(s"CASE WHEN m_size < $k THEN m_size"
          + s" ELSE CAST(${k - 1} AS BIGINT) * 4294967296 DIV theta END")
          .as("est_distinct"))

  /** `x_kmv_card_prod` (round 18 — VERDICT r17 #4): the PRODUCTION
    * face of the KMV cardinality monitor — [[kmvEstimateFor]] with NO
    * exact truth leg. The verdict face (`x_kmv_card`) deliberately
    * prices "proving the monitor right" (the corpus-wide distinct the
    * sketch replaces); this chain rider prices the monitor itself: a
    * bottom-k re-aggregate over the chain's STANDING distinct-hash
    * frame (bottomk(distinct S) ≡ bottomk(S) — the duplicate-absorbing
    * insert; by mergeability the standing frame stands in for the
    * shard sketches a deployment would merge) plus k·|sources|-row
    * arithmetic. The bench now separates monitor cost from audit cost.
    */
  def kmvCardinalityProd(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val tok = graft.ext.Dedup.Frames.getOrCompute(spark, s"kmvtok:$dir", dir,
      tables = Seq("documents.parquet"), eager = true) {
      kmvShingleHashes(Tables.documentsWide(spark, dir)).distinct()
    }
    val sk = tok.groupBy(col("source"))
      .agg(graft.functions.GraftFunctions.bottomKDistinct(col("h"), k).as("mins"))
      .select(col("source"), explode(col("mins")).as("h"))
    kmvEstimateFor(sk, k).orderBy(col("source"))
  }

  /** `x_f2_prod` (round 18 — VERDICT r17 #4): the PRODUCTION corpus-
    * wide F2 read — the per-source sign registers the f2 chain anchor
    * memoized MERGE BY ADDITION into corpus-wide registers (the AMS
    * mergeability property: Z_i = Σ_k Z_{k,i}; the exact shard-merge
    * a deployment runs over per-executor or per-day register frames),
    * then [[f2EstimateFor]]. ≤ s·|sources| standing rows in, ONE row
    * out, NO truth leg — the f2 chain rider pricing the monitor alone.
    */
  def f2Prod(spark: SparkSession, dir: String): DataFrame =
    f2EstimateFor(
      f2RegsByKeyMemo(spark, dir)
        .groupBy(col("est_i")).agg(sum(col("z")).as("z")))

  /** The ONE pair scaffold both pair-matrix reports build on (review
    * r17: the a-not-b face had copy-pasted these seven frames):
    * unordered (lo < hi) source pairs read off the k·|sources|-row
    * SKETCH frame (an all-empty-text source has no set to overlap,
    * matching the oracle's tok-derived list; deriving the list from
    * the corpus-scale truth frame put the full shingle build on the
    * pair matrix's critical path — a measured 1.6× on the bench,
    * review r16), the per-pair union re-aggregated with the SAME
    * duplicate-absorbing bottom-k insert (no distinct pass), its size,
    * and the two exact truth frames off `tok` (per-source counts + the
    * inclusion–exclusion intersection self-join). Returns (pairs, m,
    * mStats, nSrc, inter).
    */
  private def kmvPairScaffold(sk: DataFrame, tok: DataFrame, k: Int):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (pairs, m, mStats) = kmvPairSketch(sk, k)
    val nSrc = tok.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = tok.select(col("source").as("source_a"), col("h"))
      .join(tok.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("exact_inter"))
    (pairs, m, mStats, nSrc, inter)
  }

  /** The SKETCH-ONLY half of the pair scaffold (round 18 — factored so
    * the standing-state report composes it instead of copying):
    * unordered pairs, the re-aggregated union sketch M, its size.
    */
  private def kmvPairSketch(sk: DataFrame, k: Int): (DataFrame, DataFrame, DataFrame) = {
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val uni = pairs.join(sk.select(col("source").as("source_a"), col("h")), Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("h"))
      .union(pairs.join(sk.select(col("source").as("source_b"), col("h")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("h")))
    val m = uni.groupBy(col("source_a"), col("source_b"))
      .agg(graft.functions.GraftFunctions.bottomKDistinct(col("h"), k).as("mins"))
      .select(col("source_a"), col("source_b"), explode(col("mins")).as("h"))
    val mStats = m.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("m_size"))
    (pairs, m, mStats)
  }

  /** M's three-way partition by sketch membership — (both, A-only,
    * B-only) counts per pair, the arithmetic core shared by the
    * overlap report, the a-not-b report, and the standing-state read
    * (one definition, never copies).
    */
  private def kmvMPartition(sk: DataFrame, m: DataFrame):
      (DataFrame, DataFrame, DataFrame) = {
    val both = m
      .join(sk.select(col("source").as("source_a"), col("h")), Seq("source_a", "h"))
      .join(sk.select(col("source").as("source_b"), col("h")), Seq("source_b", "h"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("kmv_overlap"))
    val onlyA = m
      .join(sk.select(col("source").as("source_a"), col("h")), Seq("source_a", "h"))
      .join(sk.select(col("source").as("source_b"), col("h")), Seq("source_b", "h"), "left_anti")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("only_a"))
    val onlyB = m
      .join(sk.select(col("source").as("source_b"), col("h")), Seq("source_b", "h"))
      .join(sk.select(col("source").as("source_a"), col("h")), Seq("source_a", "h"), "left_anti")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("only_b"))
    (both, onlyA, onlyB)
  }

  /** The standing-state KMV report (round 18 — VERDICT r17 #6, the
    * [[f2EstimateFor]] read-path convention): every pairwise read the
    * verdict faces carry — union-sketch size, overlap, Jaccard micro,
    * and the two a-not-b partitions — off a STANDING (source, h)
    * sketch frame ALONE: no corpus access, no truth leg. The online
    * face: a deployment maintaining sketches via [[kmvSketchFor]] on
    * a stream reads this per micro-batch (or on demand) for live
    * cross-source overlap/diff;
    * cost is |sources|²·k rows by construction. Spec asserts the
    * stream-maintained report equals the batch verdict faces' sketch
    * columns after corpus replay.
    *
    * CONTRACT (the templateRouteFor width-note convention, ADVICE
    * r18): `k` must equal the k the standing sketch was MAINTAINED
    * with — a smaller read-k silently truncates the union
    * re-aggregate (minima beyond k vanish), a larger one under-caps
    * it (the union "bottom-k" can never fill), both skewing
    * m_size/overlap/Jaccard with no error. The truncation direction
    * is guarded eagerly: any per-source sketch holding MORE than k
    * rows is a loud failure (the frame is |sources|·k rows by
    * construction, so the check is a bounded aggregate, not a corpus
    * scan). The under-cap direction is unguardable from the frame
    * alone (a source with fewer than k distinct shingles is
    * legitimate), hence the documented contract.
    */
  def kmvReportFor(sk: DataFrame, k: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(sk.sparkSession)
    // the truncation guard is an EAGER bounded aggregate (groupBy +
    // head), legal only on a standing batch frame; a STREAMING frame
    // would throw AnalysisException at construction, so the guard
    // applies only off-stream and the documented k-contract carries
    // alone there
    // (ADVICE r19). Batch callers (the verdict faces, the foreachBatch
    // read over the standing sink) keep the loud check.
    if (!sk.isStreaming) {
      val maxPerSource = sk.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head()
      require(maxPerSource.isNullAt(0) || maxPerSource.getLong(0) <= k,
        s"kmvReportFor(k=$k) read a standing sketch maintained with a larger k " +
          s"(max per-source rows ${maxPerSource.getLong(0)}): the union re-aggregate " +
          "would silently truncate — pass the sketch's own maintenance k")
    }
    val (pairs, m, mStats) = kmvPairSketch(sk, k)
    val (both, onlyA, onlyB) = kmvMPartition(sk, m)
    pairs
      .join(mStats, Seq("source_a", "source_b"), "left")
      .join(both, Seq("source_a", "source_b"), "left")
      .join(onlyA, Seq("source_a", "source_b"), "left")
      .join(onlyB, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("m_size"), lit(0L)).as("m_size"),
        coalesce(col("kmv_overlap"), lit(0L)).as("kmv_overlap"),
        expr("CASE WHEN coalesce(m_size, 0) = 0 THEN NULL"
          + " ELSE coalesce(kmv_overlap, 0) * 1000000 DIV m_size END")
          .as("kmv_jaccard_micro"),
        coalesce(col("only_a"), lit(0L)).as("kmv_only_a"),
        coalesce(col("only_b"), lit(0L)).as("kmv_only_b"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private def kmvOverlapReport(spark: SparkSession, docs: DataFrame, k: Int,
      tokMemoKey: String, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // exact truth leg ONLY — referenced three times below (per-source
    // counts + both sides of the intersection self-join), so the
    // distinct (source, h) frame rides the session frame memo like
    // pairFrame rather than re-running the explode+md5 per reference
    // (bench r16: the unshared frame tripled the query's scan cost)
    val tok = graft.ext.Dedup.Frames.getOrCompute(spark, tokMemoKey, dir,
      tables = Seq("documents.parquet"), eager = true) {
      kmvShingleHashes(docs).distinct()
    }
    // Round 21 REVERSAL of the round-17 "inline beats persist" A/B:
    // that measurement was taken in the 1-task-scan world, where the
    // duplicated sketch builds ran as overlapping single-core
    // broadcast-child jobs on an otherwise idle box (lazy persist
    // 8.6–11.9 s, eager 7.9 s, inline 5.6 s). With the scan-
    // parallelism floor (Tables.widen) each duplicated build now
    // grabs every core, the builds SERIALIZE, and exchange reuse
    // still cannot cross broadcast/AQE subquery plan boundaries — so
    // the |sources|·k-row sketch is built once, eagerly, and the five
    // references read the cache (guide §2.4/§5).
    val sk = graft.ext.Dedup.Frames.trackPersist(kmvSketchFor(docs, k))
    sk.count()
    val (pairs, m, mStats, nSrc, inter) = kmvPairScaffold(sk, tok, k)
    // Round 22 (VERDICT r21 #3): M is referenced by mStats AND the
    // kmvMPartition overlap leg, each in its own broadcast-child plan —
    // the pair⋈sk union re-aggregation ran once per leg even with sk
    // cached. |pairs|·k rows — eager persist like sk.
    graft.ext.Dedup.Frames.trackPersist(m)
    m.count()
    val (mBoth, _, _) = kmvMPartition(sk, m)
    pairs
      .join(mStats, Seq("source_a", "source_b"), "left")
      .join(mBoth, Seq("source_a", "source_b"), "left")
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(nSrc.select(col("source").as("source_a"), col("n").as("n_a")), Seq("source_a"), "left")
      .join(nSrc.select(col("source").as("source_b"), col("n").as("n_b")), Seq("source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("m_size"), lit(0L)).as("m_size"),
        coalesce(col("kmv_overlap"), lit(0L)).as("kmv_overlap"),
        expr("CASE WHEN coalesce(m_size, 0) = 0 THEN NULL"
          + " ELSE coalesce(kmv_overlap, 0) * 1000000 DIV m_size END")
          .as("kmv_jaccard_micro"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L))
          - coalesce(col("exact_inter"), lit(0L))).as("exact_union"),
        expr("CASE WHEN coalesce(n_a, 0) + coalesce(n_b, 0) - coalesce(exact_inter, 0) = 0 THEN NULL"
          + " ELSE coalesce(exact_inter, 0) * 1000000"
          + " DIV (coalesce(n_a, 0) + coalesce(n_b, 0) - coalesce(exact_inter, 0)) END")
          .as("exact_jaccard_micro"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The level-histogram aggregation over an already-leveled frame:
    * (lvl) → (lvl, c) with map-side partials — ≤ 33 rows out of any
    * corpus, mergeable across any partitioning (count sums are
    * associative), which is what lets the sketch's level selection run
    * on partial sketches unioned from anywhere.
    */
  private def levelHist(leveled: DataFrame): DataFrame =
    leveled.groupBy(col("lvl")).agg(count(lit(1)).as("c"))

  /** [[levelHist]] over items carrying a string `qkey` identity — the
    * same histogram the batch sketch aggregates, run on a streaming
    * frame. Counts are at-least-once sensitive: a replayed micro-batch
    * drifts them upward, so run behind exactly-once sinks.
    */
  private[graft] def quantileLevelHist(items: DataFrame): DataFrame =
    levelHist(items.withColumn("lvl", qLevelCol))

  /** max(1, ⌈p·n/100⌉) in the truncating integer form both engines
    * share — ONE definition for the corpus-wide and grouped sketches
    * (review r16: two copies of the rank formula drift silently).
    */
  private[graft] def qRankFor(p: Int, n: Long): Long =
    math.max(1L, (p.toLong * n + 99L) / 100L)

  /** j* = min{j ≤ depth : |S_j| ≤ cap} off a level histogram, with
    * the loud grow-depth-with-log(n) failure; returns (j*, m = |S_j*|).
    * Shared by the corpus-wide and grouped sketch faces.
    */
  private[graft] def qSelectLevel(byLvl: Map[Long, Long], depth: Int,
      cap: Int, label: String): (Int, Long) = {
    def nAtLeast(j: Int): Long = byLvl.collect { case (l, c) if l >= j => c }.sum
    val j = (0 to depth).find(j => nAtLeast(j) <= cap).getOrElse(
      throw new IllegalArgumentException(
        s"quantile sketch: |S_$depth| = ${nAtLeast(depth)} > cap=$cap — " +
          s"raise depth toward ceil(log2(n/cap)) for $label (n=${nAtLeast(0)})"))
    val m = nAtLeast(j)
    // ADVICE r16: per-level counts CAN jump from >cap straight to 0
    // (every item drew a shallow level), selecting an EMPTY sample that
    // estimates nothing — downstream that surfaced as a bare
    // NoSuchElementException on the missing sample row (and the DuckDB
    // oracle silently DROPS the key — a failure-mode divergence). Fail
    // loudly here, at the selection, with the fix spelled out.
    require(m >= 1L,
      s"quantile sketch: selected level $j has an EMPTY sample for $label " +
        s"(per-level counts drop from >cap at level ${j - 1} to 0) — raise cap")
    (j, m)
  }

  /** Decode a TopKByScore(−v, …) sample array into ascending values —
    * the shared negated-score convention of both sketch faces.
    */
  private[graft] def qSampleAsc(arr: Seq[org.apache.spark.sql.Row]): IndexedSeq[Double] =
    arr.map(r => -r.getDouble(0)).toIndexedSeq

  /** The per-key level histogram — the grouped twin of
    * [[quantileLevelHist]], run as-is by the batch grouped sketch and
    * on a streaming frame: items → (key, lvl, c) with map-side
    * partials, ≤ 33 rows per key out of any corpus. Expects a string `k` key column beside `qkey`.
    */
  private[graft] def quantileLevelHistByKey(items: DataFrame): DataFrame =
    items.withColumn("lvl", qLevelCol)
      .groupBy(col("k"), col("lvl")).agg(count(lit(1)).as("c"))

  /** Grouped quantile sketch (`x_quantile_by_key`, round 16): the
    * [[quantileSketch]] md5-level machinery keyed by language — the
    * "per-domain length percentiles" read every packing/batching
    * policy wants (sequence-length curricula, per-language truncation
    * budgets), demonstrating that the KLL sampling view GROUPS: the
    * level draw is per-item, so S_j(key) = {x ∈ key : lvl(x) ≥ j} and
    * every key gets its own j* from ONE shared ≤ 33·|keys|-row
    * histogram — one corpus scan for the histogram, one
    * pushed-filter scan for ALL keys' samples (each key filters at
    * its own j* via a |keys|-literal CASE — no per-key jobs).
    *
    * Value = `n_chars` (a plain numeric column — doc-length
    * percentiles), so every cross-engine number is an INTEGER: rank
    * formulas are the shared `(p·n + 99) div 100` truncating form,
    * est/exact are bigint values, err in integer micro-units with the
    * zero-guard NULL convention. Truth leg = the per-key two-pass
    * distributed selection ([[exactRankRowsByKey]] — at 100 TB the
    * range-sort truth pass is the expensive one; the sketch is why
    * you would not run it).
    *
    * 100 TB shape: histogram = bounded hash aggregate; samples = one
    * filtered scan into a per-key bounded [[graft.functions.
    * TopKByScore]] (≤ cap rows per (partition, key) on the wire);
    * driver state = |keys|·33 histogram rows + |keys|·cap sample
    * values, both parameter-bounded. Like the corpus-wide sketch,
    * `depth` must grow log(n_key/cap) — the require fails loudly per
    * key.
    */
  def quantileByKey(spark: SparkSession, dir: String, depth: Int = 12,
      cap: Int = 128, pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(
      col("lang").as("k"),
      col("doc_id").cast("string").as("qkey"),
      col("n_chars").cast("long").as("v"),
      col("doc_id").as("rid"))
    val lv = docs.withColumn("lvl", qLevelCol)
    val hist = quantileLevelHistByKey(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byKey: Map[String, Map[Long, Long]] =
      hist.groupBy(_._1).map { case (k, rows) =>
        k -> rows.map(r => (r._2, r._3)).toMap
      }
    val keys = byKey.keys.toSeq.sorted
    val nOf: Map[String, Long] = byKey.map { case (k, m) => k -> m.values.sum }
    // per-key corpus-adaptive search depth (round 18 — the
    // quantileSketch fix applied to the grouped face: a key whose
    // n_k/2^depth exceeds the cap searches deeper instead of failing;
    // at every oracle-tested scale the adaptive depth equals the old
    // fixed floor, so each key's j* is unchanged)
    def effDepth(nk: Long): Int = math.max(depth,
      63 - java.lang.Long.numberOfLeadingZeros(math.max(nk / cap, 1L)) + 1)
    val selected: Map[String, (Int, Long)] =
      keys.map(k => k -> qSelectLevel(byKey(k), effDepth(nOf(k)), cap, s"key $k")).toMap
    val jStar: Map[String, Int] = selected.map { case (k, (j, _)) => k -> j }
    val mOf: Map[String, Long] = selected.map { case (k, (_, m)) => k -> m }
    // each key filters at its own j* — one |keys|-literal CASE, one
    // scan; the fallback (an unlisted key) must exceed every selected
    // level, so it sits above the deepest ADAPTIVE search
    val maxDepth = (depth +: keys.map(k => effDepth(nOf(k)))).max
    val jStarExpr = keys.foldLeft(lit((maxDepth + 1).toLong)) { case (acc, k) =>
      when(col("k") === lit(k), lit(jStar(k).toLong)).otherwise(acc)
    }
    val sampRows = lv.filter(col("lvl") >= jStarExpr)
      .groupBy(col("k"))
      .agg(graft.functions.GraftFunctions
        .topKByScore((-col("v")).cast("double"), col("rid"), cap).as("arr"))
      .collect()
    val sampleAsc: Map[String, IndexedSeq[Long]] = sampRows.map { r =>
      r.getString(0) ->
        qSampleAsc(r.getSeq[org.apache.spark.sql.Row](1)).map(_.toLong)
    }.toMap
    keys.foreach { k =>
      require(sampleAsc(k).length == mOf(k),
        s"sample/histogram disagree for $k: ${sampleAsc(k).length} vs ${mOf(k)}")
    }
    val (exactRows, totals) = exactRankRowsByKey(
      docs.select(col("k"), col("v")),
      n => pcts.map(p => qRankFor(p, n)).distinct)
    keys.foreach(k => require(totals(k) == nOf(k),
      s"truth-leg count ${totals(k)} disagrees with histogram n=${nOf(k)} for $k"))
    val rows = for { k <- keys; p <- pcts } yield {
      val t = qRankFor(p, nOf(k))
      val sRank = qRankFor(p, mOf(k))
      val est = sampleAsc(k)((sRank - 1).toInt)
      val exact = exactRows((k, t)).getLong(1)
      val err: Option[Long] =
        if (exact == 0L) None else Some(math.abs(est - exact) * 1000000L / exact)
      (k, p.toLong, jStar(k).toLong, mOf(k), nOf(k), t, sRank, est, exact, err)
    }
    spark.createDataFrame(rows)
      .toDF("lang", "pct", "j_star", "m_sample", "n", "target_rank",
        "sample_rank", "est_value", "exact_value", "err_micro")
      .orderBy(col("lang"), col("pct"))
  }

  /** Deterministic mergeable quantile sketch (`x_quantile_sketch`,
    * round 16) — closes the last rows-only gap in §2B the way round 15
    * closed q21's (`x_hll_distinct`): `q16b_approx_pct` rests on the
    * impl-defined built-in `approx_percentile`; this face is the
    * hash-gated deterministic twin whose SKETCH ITSELF cross-checks.
    *
    * Design: the SAMPLING VIEW of a KLL compactor hierarchy (Karnin,
    * Lang & Liberty, FOCS 2016 §2 — the top compactors of the KLL
    * cascade are exactly a 2⁻ʲ sampler; Wang et al.'s
    * "random-sampling view" makes the equivalence explicit). Every
    * item draws its full promotion trajectory up front from md5: item
    * x survives to level j iff its 32-bit draw has ≥ j leading zeros
    * ([[qLevelCol]]) — the "deterministic compaction coin-flips" of
    * the r15 sketch convention, with the decisive property a
    * sequential KLL schedule lacks: the level-j sample
    * S_j = {x : lvl(x) ≥ j} is a pure function of the item SET, so the
    * sketch is (a) deterministic cross-engine, (b) mergeable across
    * any partitioning (S_j(A ∪ B) = S_j(A) ∪ S_j(B) — the map-side
    * partial property, spec-asserted), and (c) bounded: the report
    * picks j* = min{j ≤ depth : |S_j| ≤ cap} from the ≤ 33-row level
    * histogram and keeps only S_{j*}, each member weighing 2^{j*}.
    * Rank estimate: the sample's r-th smallest value estimates the
    * corpus rank r·2^{j*} with standard error n/√m (m = |S_{j*}|) —
    * the error-bound spec asserts the realized rank displacement.
    *
    * Report: one row per requested percentile — the sketch estimate
    * (sample value at rank ⌈p·m/100⌉), the exact value at rank
    * ⌈p·n/100⌉ (the truth leg, via [[exactValuesAtRanks]]'s two-pass
    * distributed selection — at 100 TB the truth leg is the expensive
    * one; the sketch is why you would not run it), and the integer
    * cent-level relative error. All arithmetic that crosses the
    * engine seam is integer (truncating ⌈⌉-free `(p·m + 99) div 100`
    * rank formulas, cent quantization via floor(v·100 + 0.5) on the
    * exact decimal→double cast) — bit-identical cross-engine.
    *
    * 100 TB shape: one token-free columnar scan → ≤ 33-row histogram
    * aggregate (map-side partials); one pushed-filter scan → bounded
    * top-`cap` aggregate (the [[graft.functions.TopKByScore]]
    * shuffle-bounded shape, k rows per partition on the wire); the
    * search depth is CORPUS-ADAPTIVE (round 18): |S_depth| ≈ n/2^depth
    * must reach the cap, so the level search extends to
    * max(depth, ⌈log₂(n/cap)⌉) — the cellsFor discipline, adopted
    * after the 3x-replica scale probe tripped the old fixed-12 loud
    * failure at n = 1.8 M; at every oracle-tested scale the adaptive
    * depth equals the old floor, so j* and the oracle contract are
    * unchanged. Zero windows, zero corpus shuffle beyond the
    * range-sort the TRUTH leg alone needs.
    */
  def quantileSketch(spark: SparkSession, dir: String, depth: Int = 12,
      cap: Int = 256, pcts: Seq[Int] = Seq(25, 50, 75, 90, 99)): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val li = Tables.lineitemWide(spark, dir).select(
      concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")).as("qkey"),
      col("l_extendedprice").cast("double").as("v"),
      // unique long id for the bounded top-k tie-break (l_linenumber ≤ 7)
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("rid"))
    // Round 22: this report runs THREE sequential actions over the
    // widened scan — the level-histogram collect, the top-cap sample,
    // and the truth leg's two-pass selection — and each re-executed
    // the scan + widen exchange + md5 level column. A LAZY persist of
    // the leveled frame fills at the first collect and the later
    // actions read blocks: one scan total, no eager barrier. The
    // persisted projection drops qkey — the string exists only to
    // derive lvl, and keeping it cached tripled the 30x-scale probe's
    // rep walls at 32 cores (cache-fill memory pressure; (v, rid, lvl)
    // is ~40% of the bytes). sf0.1 A/B: 3.3 s persisted vs 5.2 s not.
    // The histogram aggregates the persisted frame directly (same
    // per-level counts by construction — groupBy(lvl) row counts are
    // projection-independent; quantileLevelHist(li) would not
    // plan-match the narrower cached subtree).
    val lv = graft.ext.Dedup.Frames.trackPersist(
      li.withColumn("lvl", qLevelCol)
        .select(col("v"), col("rid"), col("lvl")))
    val histRows = levelHist(lv).collect()
    val byLvl: Map[Long, Long] =
      histRows.map(r => (r.getLong(0), r.getLong(1))).toMap
    val n = byLvl.values.sum
    val schema = Seq("pct", "j_star", "m_sample", "n", "target_rank",
      "sample_rank", "est_value", "exact_value", "err_micro")
    if (n == 0L)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Long, Long, Long, Long, Double, Double, Option[Long])])
        .toDF(schema: _*)
    // corpus-adaptive search depth (round 18 — the cellsFor discipline
    // applied here after the 3x-replica scale probe tripped the loud
    // depth-12 failure at n = 1.8M): |S_depth| ≈ n/2^depth must reach
    // the cap, so the search floor grows ⌈log₂(n/cap)⌉ with the
    // corpus. At every oracle-tested scale (n ≤ 600k) the adaptive
    // depth equals the old fixed 12, so j* — and the oracle contract —
    // are unchanged; bigger corpora now select a level instead of
    // failing. `depth` stays as the caller's floor.
    val effDepth = math.max(depth,
      63 - java.lang.Long.numberOfLeadingZeros(math.max(n / cap, 1L)) + 1)
    val (jStar, m) = qSelectLevel(byLvl, effDepth, cap, "this corpus")
    val arr = lv.filter(col("lvl") >= jStar)
      .agg(graft.functions.GraftFunctions
        .topKByScore(-col("v"), col("rid"), cap).as("arr"))
      .head().getSeq[org.apache.spark.sql.Row](0)
    require(arr.length == m,
      s"sample/histogram disagree: |sample|=${arr.length} vs m=$m")
    val sampleAsc: IndexedSeq[Double] = qSampleAsc(arr)
    val targetRanks = pcts.map(p => qRankFor(p, n))
    // projected off the CACHED leveled frame (li.select(v) would not
    // plan-match the persisted lv subtree and would rescan)
    val (n2, exactAt) = exactValuesAtRanks(lv.select(col("v")), targetRanks)
    require(n2 == n, s"truth-leg count $n2 disagrees with histogram n=$n")
    def cents(v: Double): Long = math.floor(v * 100 + 0.5).toLong
    val rows = pcts.map { p =>
      val t = qRankFor(p, n)
      val sRank = qRankFor(p, m)
      val est = sampleAsc((sRank - 1).toInt)
      val exact = exactAt(t)
      val err: Option[Long] =
        if (cents(exact) == 0L) None
        else Some(math.abs(cents(est) - cents(exact)) * 1000000L / cents(exact))
      (p.toLong, jStar.toLong, m, n, t, sRank, est, exact, err)
    }
    spark.createDataFrame(rows).toDF(schema: _*).orderBy(col("pct"))
  }

  /** Per-source (domain) corpus summary: document counts, exact-dup
    * ratio, average length. Group-by-domain is the unit crawl pipelines
    * reason about (per-site dedup rates, boilerplate sites, quota
    * decisions). One hash aggregate keyed by source.
    */
  def domainStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("text")).as("n_distinct_text"),
           round(avg(col("n_chars")), 4).as("avg_chars"))
      .withColumn("dup_ratio",
        round(lit(1) - col("n_distinct_text") / col("n_docs").cast("double"), 4))
      .orderBy(col("source"))

  /** Embedding-space profile: per-dimension count/mean/std/min/max over
    * the corpus — the drift check an embedding pipeline runs on every
    * new model version or corpus drop (a shifted dimension mean or a
    * collapsed std is the first symptom of an encoder regression or a
    * normalization bug upstream of ANN/dedup).
    *
    * 100 TB shape: `posexplode` multiplies rows ×dim, but partial
    * aggregation collapses each partition to dim rows before the
    * (dim-row) shuffle — the job costs one columnar scan, same as any
    * narrow aggregate. Float averages are rounded on both sides so
    * partial-aggregation order can't flip low bits; min/max are exact
    * but emitted as DOUBLE (float→double widening is exact, and the
    * oracle computes over a widened DOUBLE[] — emitting raw float32
    * here was the r10 hash mismatch: same values, different types).
    */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy((col("j") + 1).cast("long").as("dim")) // 1-based, matching SQL arrays
      .agg(count(lit(1)).as("n"),
        round(avg(col("x")), 4).as("mean"),
        round(stddev_samp(col("x")), 4).as("std"),
        min(col("x")).cast("double").as("min_x"),
        max(col("x")).cast("double").as("max_x"))
      .orderBy(col("dim"))

  /** Top principal component of the embedding Gram matrix Σ x·xᵀ via
    * power iteration — the first step of PCA/whitening, the transform
    * embedding pipelines apply before ANN indexing and the standard
    * diagnosis for anisotropic ("cone-shaped") encoder output: a
    * dominant component with outsized λ means cosine similarities are
    * inflated by one shared direction.
    *
    * Engine-portable by all-integer construction: embeddings quantize
    * to 1e-4 units, the Gram matrix accumulates EXACTLY in one pass
    * ([[graft.functions.OuterProductAgg]] — per-partition triangle
    * buffers, no dim²-per-row explode), and each power-iteration step
    * is an exact integer matvec (BigInt on the 64×64 driver copy,
    * HUGEINT in the oracle) followed by per-element deterministic
    * float normalization and re-quantization to 1e-5 units. Both
    * engines therefore walk bit-identical iterates, and the emitted
    * loadings are exact rationals (v_q / 1e5) — no rounding boundary
    * anywhere. λ is estimated as ‖C·v‖/‖v‖ of the final iterate,
    * rescaled by the two quantization factors.
    *
    * 100 TB shape: ONE corpus scan into ~16 KB per-partition buffers;
    * the eigensolve runs on the collected 64×64 matrix (a bounded
    * driver touch, same class as the k-means centroid updates). The
    * all-ones seed is fine unless the corpus's top component is
    * exactly orthogonal to it — measure-zero for real embeddings.
    */
  def embedPca(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    embedPcaFor(Tables.embeddings(spark, dir), iters)

  /** The exact-integer eigensolve shared by [[embedPcaFor]] and
    * [[embedAnisotropy]]: one-pass quantized Gram aggregate, then
    * `iters` deterministic power steps on the driver copy. Returns the
    * 1e-5-unit quantized component and the rescaled λ estimate.
    */
  private def pcaComponent(e: DataFrame, iters: Int): (Array[Long], Double) =
    pcaComponents(e, iters, 1).head

  /** Multi-component extension of the exact-integer eigensolve
    * ([[embedWhiten]]), two mechanisms working together — both
    * replayed bit-for-bit by the oracle:
    *
    *   - **Hotelling deflation** after each component: C' = C −
    *     λ·v·vᵀ/(vᵀv), computed entirely in integers — λ·(outer
    *     product) is the exact rational R·v_j·v_k/(vᵀv)² with
    *     R = vᵀCv the exact BigInt Rayleigh quotient, rounded
    *     half-away-from-zero with positive-operand division only
    *     (sign split off), so the deflated matrix is again exact
    *     integers.
    *   - **Per-step re-orthogonalization** of every later component's
    *     iterate against each already-found component: w −=
    *     round((w·vᵢ)·vᵢ/(vᵢᵀvᵢ)), the same exact-rational rounding.
    *     Deflation alone is NOT enough when the spectrum is flat (the
    *     measured case on near-isotropic encoder output): an
    *     unconverged v₁ leaves cross-terms in C' and the second
    *     iterate picks up v₁ contamination (cos ≈ 0.18 at 3 steps).
    *     Pinning the iterate to the orthogonal complement makes the
    *     emitted components orthogonal BY CONSTRUCTION, which is what
    *     the whitening apply needs — removing a 2-D subspace, not two
    *     correlated directions.
    *
    * λ for each component is ‖w‖/‖v_prev‖ of the final
    * post-orthogonalization iterate, rescaled by the quantizations.
    * Oracle-side HUGEINT bound (the BigInt here is immune): the
    * deflation numerator R·|v_j·v_k|·2 grows as rows·8e31, crossing
    * ~1.7e38 near 2e6 embedding rows — far above the sf gates; past
    * that, drop the iterate scale on both sides (same note as the
    * first-component CTEs).
    */
  private[graft] def pcaComponents(e: DataFrame, iters: Int, nComp: Int): Seq[(Array[Long], Double)] = {
    graft.functions.GraftFunctions.register(e.sparkSession)
    val xq = expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val cq0: Array[Long] = e
      .select(graft.functions.GraftFunctions.outerProductQ(xq, dim).as("c"))
      .head().getSeq[Long](0).toArray
    val c: Array[BigInt] = cq0.map(BigInt(_))
    // round-half-away-from-zero num/den with positive-operand integer
    // division only (BigInt trunc == floor there; DuckDB // likewise)
    def roundDiv(num: BigInt, den: BigInt): BigInt = {
      val d = (num.abs * 2 + den) / (den * 2)
      if (num >= 0) d else -d
    }
    var found = List.empty[(Array[Long], BigInt)] // (component, vᵀv)
    (1 to nComp).map { comp =>
      var v: Array[Long] = Array.fill(dim)(100000L)
      var lambda = 0.0
      for (_ <- 1 to iters) {
        val w = Array.tabulate(dim) { k =>
          var s = BigInt(0)
          var j = 0
          while (j < dim) { s += c(j * dim + k) * v(j); j += 1 }
          s
        }
        // pin the iterate to the complement of every found component
        found.foreach { case (u, un2) =>
          var p = BigInt(0)
          var k = 0
          while (k < dim) { p += w(k) * u(k); k += 1 }
          k = 0
          while (k < dim) { w(k) -= roundDiv(p * u(k), un2); k += 1 }
        }
        val vPrevNorm = math.sqrt(v.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
        val norm = math.sqrt(w.map(x => x * x).sum.toDouble)
        lambda = norm / vPrevNorm / 100000000.0 // undo the 1e-4² Gram quantization
        v = w.map(wi => math.floor(wi.toDouble / norm * 100000 + 0.5).toLong)
      }
      val vn2 = v.map(x => BigInt(x) * BigInt(x)).sum
      // Hotelling deflation, exact integers: C −= round(R·v·vᵀ/(vᵀv)²).
      // Only when MORE components follow — the O(dim²) BigInt Rayleigh
      // quotient and matrix update after the last component is pure
      // wasted work on every embedPca/anisotropy call (review r12).
      if (comp < nComp) {
        val ray = {
          var s = BigInt(0)
          var j = 0
          while (j < dim) {
            var k = 0
            while (k < dim) { s += BigInt(v(j)) * c(j * dim + k) * v(k); k += 1 }
            j += 1
          }
          s
        }
        var j = 0
        while (j < dim) {
          var k = 0
          while (k < dim) {
            c(j * dim + k) -= roundDiv(ray * v(j) * v(k), vn2 * vn2)
            k += 1
          }
          j += 1
        }
      }
      found = found :+ ((v, vn2))
      (v, lambda)
    }
  }

  def embedPcaFor(e: DataFrame, iters: Int): DataFrame = {
    val spark = e.sparkSession
    val (v, lambda) = pcaComponent(e, iters)
    import spark.implicits._
    v.zipWithIndex
      .map { case (vq, i) => ((i + 1).toLong, vq / 100000.0, lambda) }.toSeq
      .toDF("dim", "loading", "lambda")
      .orderBy(col("dim"))
  }

  /** Per-vector anisotropy report: each embedding's cosine alignment
    * with the corpus's dominant principal component ([[embedPca]]) and
    * the variance fraction that whitening (removing that component)
    * would retain — `res_ratio = 1 − cos²`. The actionable face of the
    * PCA diagnosis: a corpus whose vectors all show |cos_pc1| ≫ 0 has
    * cone-shaped encoder output, inflated cosine similarities in every
    * ANN/dedup stage upstream, and this is the per-row transform that
    * fixes it.
    *
    * Determinism: the component is the PCA solve's exact-rational
    * iterate (v_q/1e5), inlined as a literal array; the fused
    * [[graft.functions.CosineSim]] walks both arrays sequentially
    * exactly like the oracle's `list_dot_product`, and `res_ratio`
    * derives from the ROUNDED cosine, so no unrounded float crosses
    * the engine seam. 100 TB shape: the solve is one corpus scan +
    * bounded driver work; the report is a narrow row-local projection.
    */
  def embedAnisotropy(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val (vq, _) = pcaComponent(e, iters)
    // the component is rounded to float32 BEFORE the cosine on both
    // engines (CosineSim is the float-array fused path), so the same
    // 32-bit values feed both dots
    val vLit = typedLit(vq.map(x => (x / 100000.0).toFloat).toIndexedSeq)
    e.select(col("vec_id"),
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), vLit), 6).as("cos_pc1"))
      .withColumn("res_ratio", round(lit(1.0) - col("cos_pc1") * col("cos_pc1"), 6))
      .orderBy(col("vec_id"))
  }

  /** Whitening APPLY — the per-row transform [[embedAnisotropy]] only
    * diagnoses: remove the corpus's top-2 principal components from
    * every embedding and emit the fixed vectors. `whitened = x −
    * (x·v₁)v₁ − (x·v₂)v₂` is the anisotropy correction ("all-but-the-
    * top" post-processing) embedding pipelines apply before
    * ANN indexing so one dominant shared direction stops inflating
    * every cosine; `res_ratio` is the variance fraction the row keeps.
    *
    * Components come from the exact-integer deflation solve
    * ([[pcaComponents]]): both engines walk bit-identical iterates for
    * BOTH components, each is float32-rounded before any dot (the
    * [[embedAnisotropy]] convention), projections are sequential-fold
    * dots on both engines, and every emitted float is rounded with a
    * `+ 0.0` normalization so a −0.0/+0.0 split between the engines'
    * rounding conventions can't break the hash.
    *
    * 100 TB shape: the solve is one corpus scan + bounded driver work
    * (the deflation is dim²-local arithmetic on the collected Gram);
    * the apply is a narrow row-local projection — zero shuffle until
    * the presentation sort.
    */
  def embedWhiten(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    embedWhitenFor(Tables.embeddings(spark, dir), iters)

  def embedWhitenFor(e: DataFrame, iters: Int): DataFrame = {
    val comps = pcaComponents(e, iters, 2)
    val (v1, lam1) = comps(0)
    val (v2, lam2) = comps(1)
    def pcLit(v: Array[Long]) = typedLit(v.map(x => (x / 100000.0).toFloat).toIndexedSeq)
    val (pc1, pc2) = (pcLit(v1), pcLit(v2))
    def dot(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, p) => x.cast("double") * p.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    e.select(col("vec_id"), col("embedding"))
      .withColumn("d1", dot(col("embedding"), pc1))
      .withColumn("d2", dot(col("embedding"), pc2))
      .withColumn("xx", dot(col("embedding"), col("embedding")))
      .select(col("vec_id"),
        (round(col("d1"), 6) + 0.0).as("proj1"),
        (round(col("d2"), 6) + 0.0).as("proj2"),
        // the fixed vectors, quantized to 1e-6 units and serialized as
        // an integer CSV string: integer text is byte-identical
        // cross-engine (double CAST-to-string is not — scientific vs
        // decimal notation — and raw array columns don't survive the
        // driver's hash canonicalization; the q20 array_to_string
        // convention), and integers have no −0.0 to normalize
        array_join(
          zip_with(
            zip_with(col("embedding"), pc1,
              (x, p) => x.cast("double") - col("d1") * p.cast("double")),
            pc2,
            (y, q) => round((y - col("d2") * q.cast("double")) * 1000000.0, 0)
              .cast("long").cast("string")),
          ",").as("whitened_q"),
        (round(lit(1.0) - (col("d1") * col("d1") + col("d2") * col("d2")) / col("xx"), 6) + 0.0)
          .as("res_ratio"),
        lit(lam1).as("lambda1"), lit(lam2).as("lambda2"))
      .orderBy(col("vec_id"))
  }

  /** Per-source quality PRIOR via empirical-Bayes shrinkage: each
    * source's mean quality score pulled toward the corpus mean with
    * pseudo-count k=10 — `prior = (Σq_src + k·ḡ)/(n_src + k)` — the
    * domain-level signal curation pipelines use when a source has too
    * few scored documents to trust its raw mean (a 3-document domain
    * with three spammy pages shouldn't be condemned outright, a
    * 100k-document one should). The emitted table is the broadcastable
    * per-source prior that downstream ranking blends with per-doc
    * scores.
    *
    * Exactness across engines: per-doc scores are the quality
    * classifier's 6-dp formula QUANTIZED to integer micro-units, so
    * every aggregate is an exact integer sum (order-immune — float Σ
    * would drift with partial-aggregation order); the global mean is
    * integer floor division inlined from a 1-row bounded collect (the
    * lmScore vocab pattern), and the final prior is one two-integer
    * division rounded at 6 dp. 100 TB shape: one narrow scan feeding a
    * |sources|-row aggregate; nothing else moves.
    */
  def sourceQualityPrior(spark: SparkSession, dir: String, k: Long = 10L): DataFrame = {
    // quantize the shared quality score to exact integer micro-units
    // (round BEFORE the cast: 6-dp·1e6 can land at x.9999… in binary)
    val base = Tables.documents(spark, dir)
      .select(col("source"),
        round(graft.ext.TextAnalysis.qualityScore * 1000000.0, 0).cast("long").as("q"))
    // ONE bounded 1-row collect: corpus total and count → the global
    // floor-division mean inlined as a literal (lmScore vocab pattern)
    val g = base.agg(sum(col("q")).as("t"), count(lit(1)).as("n")).head()
    val gq = if (g.isNullAt(1) || g.getLong(1) == 0L) 0L else
      Math.floorDiv(g.getLong(0), g.getLong(1))
    base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q")).as("sq"))
      .select(col("source"), col("n_docs"),
        round(col("sq") / (col("n_docs") * 1000000.0), 6).as("mean_score"),
        round((col("sq") + lit(k) * lit(gq)) /
          ((col("n_docs") + lit(k)) * 1000000.0), 6).as("prior_score"))
      .withColumn("shrunk_toward_global",
        abs(col("prior_score") - lit(gq / 1000000.0)) <=
          abs(col("mean_score") - lit(gq / 1000000.0)))
      .orderBy(col("source"))
  }

  /** Per-source top-k showcase documents — the "export the best k
    * pages per domain" step of curated-subset assembly (few-shot
    * exemplar pools, quality-anchored eval slices, per-domain seed
    * sets). Ranking is the shared 6-dp quality score, ties to the
    * lower doc_id — the same ordering contract as
    * [[Dedup.dedupCanonical]], so "this domain's best page" means the
    * same document everywhere in the engine.
    *
    * 100 TB shape: per-group top-k via the bounded
    * [[graft.functions.TopKByScore]] aggregate — k entries of
    * map-side-merged state per source, NOT a window over each source's
    * full document list (a source-partitioned window puts corpus/
    * |sources| rows in one reducer; the aggregate carries k rows of
    * state whatever the domain size — the same reasoning as the ANN
    * family's rankTopK). `TopKByScore` orders (score DESC, id ASC) by
    * construction; the oracle replays it as a row_number window, which
    * is exactly the agreement the aggregate's contract guarantees.
    */
  def domainTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        graft.ext.TextAnalysis.qualityScore.as("score"))
      .groupBy(col("source"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(col("score"), col("doc_id"), k).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("doc_id"), col("s.score").as("score"))
      .orderBy(col("source"), col("rk"))
  }

  /** Johnson–Lindenstrauss signed random projection 64 → 16, the
    * DATA-INDEPENDENT companion of [[embedPca]]/[[embedWhiten]]: a
    * ±1 projection matrix (Achlioptas 2003 — sign matrices satisfy the
    * JL lemma with no Gaussians needed) maps every embedding to 16
    * dims in pure row-local integer work. Where PCA needs a corpus
    * pass to learn directions, the projection is a pure function of
    * the (row, col) index — a new shard, a new day's crawl, or a
    * different cluster projects IDENTICALLY without seeing any other
    * data, which is what makes it the 100 TB pre-filter in front of
    * the ANN family (bucket on projected vectors, refine on full ones).
    *
    * Engine-portable by construction: inputs quantize to the PCA
    * family's 1e-4 integer units, the sign of entry (r, c) is
    * `md5("rp:r:c")`'s first hex digit < '8' (driver-side Java MD5 and
    * the oracle's SQL md5 agree byte-for-byte on ASCII), and each
    * output coordinate is an exact integer dot product
    * ([[graft.functions.GraftFunctions.dotLong]]) — order-immune, no
    * float crosses the engine seam. `norm_ratio` = ‖y‖²/(16·‖q‖²) is
    * the per-row JL norm-preservation verdict (expectation exactly 1
    * under the sign distribution); the spec bounds its spread.
    */
  def embedRandomProjection(spark: SparkSession, dir: String, outDim: Int = 16): DataFrame =
    embedRandomProjectionFor(Tables.embeddings(spark, dir), outDim)

  def embedRandomProjectionFor(e: DataFrame, outDim: Int = 16): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(e.sparkSession)
    val dim = 64
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val signs: IndexedSeq[IndexedSeq[Long]] = (0 until outDim).map(r =>
      (0 until dim).map(c => if (md5hex(s"rp:$r:$c").charAt(0) < '8') 1L else -1L))
    val base = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))").as("q"))
    val ys = (0 until outDim).map(r =>
      GraftFunctions.dotLong(col("q"), typedLit(signs(r))).as(s"y$r"))
    base.select(col("vec_id") +: col("q") +: ys: _*)
      .withColumn("ya", array((0 until outDim).map(r => col(s"y$r")): _*))
      .withColumn("y2", expr("aggregate(ya, 0L, (acc, v) -> acc + v * v)"))
      .withColumn("q2", GraftFunctions.dotLong(col("q"), col("q")))
      .select(col("vec_id"),
        expr("array_join(transform(ya, v -> CAST(v AS STRING)), ',')").as("proj_q"),
        when(col("q2") === 0, lit(0.0))
          .otherwise(round(col("y2") / (lit(outDim) * col("q2")), 6)).as("norm_ratio"))
      .orderBy(col("vec_id"))
  }

  /** Population Stability Index between the train and val splits' token-
    * count distributions — the drift monitor run when a corpus is
    * re-split or refreshed: PSI ≈ 0 says the md5 split didn't skew
    * document length; a spike localizes WHICH length band drifted
    * (the same check compares last month's corpus against this
    * month's). Bins are fixed-width (÷`binWidth`, capped at `nBins`),
    * so the contract is deterministic and engine-portable; counts are
    * Laplace-smoothed (+0.5 per bin) so empty bins stay finite.
    *
    * Emits one row per observed bin: both raw counts, both smoothed
    * shares, and the bin's signed PSI contribution
    * `(p−q)·ln(p/q)` (sum them for the headline PSI). 100 TB shape:
    * one narrow scan → ≤`nBins`-row hash aggregate; the two split
    * totals are a bounded 1-row collect inlined as literals (same
    * pattern as the LM vocabulary size), so no cross join and no
    * global window anywhere.
    */
  def psiDrift(spark: SparkSession, dir: String,
      binWidth: Int = 32, nBins: Int = 16): DataFrame = {
    val binned = Tables.documents(spark, dir)
      .select(
        expr(s"CAST(least(size(split(text, ' ')) div $binWidth, ${nBins - 1}) AS BIGINT)")
          .as("bin"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100")
          .as("bucket"))
      .filter(col("bucket") < 90)
      .withColumn("is_train", col("bucket") < 80)
    val counts = binned.groupBy(col("bin"))
      .agg(sum(when(col("is_train"), 1L).otherwise(0L)).as("c_train"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("c_val"))
    val totals = counts.agg(
      coalesce(sum(col("c_train")), lit(0L)).as("nt"),
      coalesce(sum(col("c_val")), lit(0L)).as("nv")).head()
    val (nTrain, nVal) = (totals.getLong(0), totals.getLong(1))
    val p = (col("c_train") + 0.5) / lit(nTrain + 0.5 * nBins)
    val q = (col("c_val") + 0.5) / lit(nVal + 0.5 * nBins)
    counts
      .withColumn("p_train", round(p, 6))
      .withColumn("p_val", round(q, 6))
      .withColumn("psi_contrib", round((p - q) * log(p / q), 6))
      .select(col("bin"), col("c_train"), col("c_val"),
        col("p_train"), col("p_val"), col("psi_contrib"))
      .orderBy(col("bin"))
  }

  /** N-gram diversity (distinct-n): per source and n ∈ {1,2,3}, the
    * total and distinct n-gram counts plus their ratio — the corpus
    * diversity report (Li et al. '16's distinct-n, the Self-BLEU
    * complement) that flags template-generated or boilerplate-heavy
    * domains before a dedup pass even runs: a source whose distinct-2
    * ratio is far below its peers is repeating itself.
    *
    * One pass builds all three gram streams ROW-LOCALLY (a concat of
    * three transforms over the already-split token array — no join, no
    * re-scan per n), then ONE (source, n, gram)-keyed hash aggregate
    * collapses the corpus to its vocabulary; totals AND distincts both
    * fall out of the vocab frame (`sum(cnt)` / `count(*)`) — no second
    * corpus scan, no Expand from mixing count with count_distinct.
    * 100 TB shape: the one corpus-scale aggregate has map-side
    * partials and vocab-bounded output; everything after is
    * ≤ 3·|sources| rows.
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documentsWide(spark, dir) // 3-level gram inline explode is CPU-heavy
      .select(col("source"), split(col("text"), " ").as("toks"))
      .selectExpr("source",
        """inline(concat(
             transform(toks, t -> named_struct('n', CAST(1 AS BIGINT), 'gram', t)),
             transform(filter(sequence(1, greatest(size(toks) - 1, 1)), i -> i + 1 <= size(toks)),
                       i -> named_struct('n', CAST(2 AS BIGINT), 'gram', concat_ws(' ', slice(toks, i, 2)))),
             transform(filter(sequence(1, greatest(size(toks) - 2, 1)), i -> i + 2 <= size(toks)),
                       i -> named_struct('n', CAST(3 AS BIGINT), 'gram', concat_ws(' ', slice(toks, i, 3))))))""")
    grams.groupBy(col("source"), col("n"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("cnt")).as("total_ng"), count(lit(1)).as("distinct_ng"))
      .withColumn("diversity", round(col("distinct_ng").cast("double") / col("total_ng"), 6))
      .select(col("source"), col("n"), col("total_ng"), col("distinct_ng"), col("diversity"))
      .orderBy(col("source"), col("n"))
  }

  /** Vocabulary-growth (Heaps'-law) curve: the corpus in crawl order
    * (doc_id — the deterministic "as ingested" order) cut into ten
    * equal-population deciles; per decile the token volume and the
    * count of NEW types (tokens whose first occurrence lands there),
    * plus cumulative totals and the running type/token ratio. The
    * "has the vocabulary saturated" read that tells a pipeline
    * whether more of the same crawl still buys coverage — and a
    * cliff-shaped new-type curve flags a mid-crawl domain shift.
    *
    * All-integer outputs (counts and sums; the one ratio is a
    * terminal rounded division), so the hash check is boundary-free.
    * First occurrence = min(doc_id) per type — a mergeable aggregate.
    * Cumulative totals come from a bounded sequence-explode prefix
    * sum (each decile row fans out to the ≤10 deciles at-or-after
    * it — an equi-shaped groupBy), NOT an unpartitioned window: the
    * [[graft.ext.Corpus.packBins]] discipline, enforced by the plan
    * lint.
    *
    * Deciles are POPULATION deciles: exact interpolated doc_id
    * quantile boundaries via the [[exactQuantilesDistributed]]
    * machinery, rounded to 6 dp and inlined as literals (the
    * curriculum-bounds convention) — so a sparse or gappy id space
    * (post-filter corpora, sharded id assignment) still cuts ~n/10
    * docs per decile, where the earlier value-sliced formula
    * `floor(id·10/n)` silently skewed (review r12).
    *
    * 100 TB shape: two corpus-narrow aggregates (type first-seen is
    * vocab-bounded, per-doc token counts collapse to 10 rows) plus
    * the boundary selection's two narrow passes; no corpus-scale
    * shuffle beyond the (token)-keyed hash aggregate.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    // `per` (10 rows) is consumed TWICE (the prefix-sum explode and the
    // final join) — without the memo each consumer re-runs the whole
    // corpus-scale subtree (4 scans in the formatted plan; 2 with it).
    // The EAGER quantile-boundary selection lives INSIDE the build so a
    // memo hit skips the range-partitioned sort too (review r12).
    val per = Dedup.Frames.getOrCompute(spark, s"vocabper:$dir", dir) {
      val docs = Tables.documents(spark, dir)
      val bounds = exactQuantilesDistributed(
        docs.select(col("doc_id").cast("double")), (1 to 9).map(_ / 10.0))
        .map(b => BigDecimal(b * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6)
      def decileOf(doc: Column): Column =
        bounds.map(b => when(doc > b, 1L).otherwise(0L)).reduce(_ + _)
      val tokens = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val newTypes = tokens.groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
        .groupBy(decileOf(col("first_doc")).as("decile"))
        .agg(count(lit(1)).as("new_types"))
      val volumes = docs
        .select(decileOf(col("doc_id")).as("decile"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      volumes.join(newTypes, Seq("decile"), "left")
        .na.fill(0L, Seq("new_types"))
    }
    // bounded prefix sum: each decile contributes to every decile >= it
    val cum = per
      .select(explode(expr("sequence(decile, 9)")).as("decile"),
        col("n_tok").as("c_tok"), col("new_types").as("c_types"))
      .groupBy(col("decile"))
      .agg(sum(col("c_tok")).as("cum_tok"), sum(col("c_types")).as("cum_types"))
    per.join(cum, "decile")
      .select(col("decile"), col("n_docs"), col("n_tok"), col("new_types"),
        col("cum_tok"), col("cum_types"),
        round(col("cum_types").cast("double") / col("cum_tok"), 6).as("type_token_ratio"))
      .orderBy(col("decile"))
  }

  /** Source × language composition — per (source, lang) cell its doc
    * count and within-source share, plus each source's language
    * ENTROPY (integer micro-nat terms summed by a window over the
    * cell frame — order-immune, the [[graft.ext.Similarity.clusterPurity]]
    * construction). The routing prior a multilingual pipeline needs:
    * a near-zero-entropy source can skip language-ID entirely, a
    * high-entropy one must route per-document, and a source whose mix
    * SHIFTS between drops is a crawl-config regression
    * ([[psiDrift]]'s sibling signal at the domain level).
    *
    * 100 TB shape: one narrow scan → ≤|sources|·|langs| cells with
    * map-side partials; both windows run over the cell frame, never
    * the corpus.
    */
  def domainLangMix(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val p = col("n").cast("double") / col("n_src")
    Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("n_src", sum(col("n")).over(w))
      .withColumn("share", round(p, 6))
      .withColumn("ent_q", round(-p * log(p) * 1e6, 0).cast("long"))
      .withColumn("lang_entropy", round(sum(col("ent_q")).over(w).cast("double") / 1e6, 6))
      .select(col("source"), col("lang"), col("n"), col("n_src"),
        col("share"), col("lang_entropy"))
      .orderBy(col("source"), col("lang"))
  }

  /** Per-document CHARACTER entropy (`x_char_entropy`): Shannon
    * entropy of each doc's character distribution in nats — the
    * garble/binary-junk detector of the CCNet-class quality stacks
    * (mojibake, base64 blobs, and key-mash read far from prose's
    * ~2.5–3.2 nats; a repeated-character run reads near 0) and the
    * third member of the entropy family beside
    * [[graft.ext.Similarity]]'s cluster-purity entropy and
    * [[domainLangMix]]'s per-source language entropy — the SAME
    * per-term integer micro-nat quantization, so cross-engine floats
    * never sum in engine order (each −p·ln p term is quantized to a
    * long FIRST; the per-doc sum is order-immune integer addition).
    *
    * Shape: one narrow scan → one `split(text, '')` pass per row
    * (codegen'd; the Java-semantics trailing "" element is filtered) →
    * a (doc, char)-keyed hash aggregate with map-side partials → one
    * doc-keyed aggregate. Scales exactly like the token faces. Docs
    * are length-≥1 filtered on BOTH engines: an empty doc has no
    * distribution to score, and excluding it identically on both
    * sides keeps the p = cnt/n division away from n = 0.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    charEntropyFor(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — fixture seam.
    *
    * Char extraction is ONE `split(text, '')` regex pass per row
    * (codegen'd; Java semantics keep a trailing "" element under
    * Spark's limit=-1, filtered out below). The first form transformed
    * `substring(text, i, 1)` per position — each call re-scans the
    * UTF8 bytes to find offset i, an O(len²)-per-row trap measured at
    * 5.4 s steady at sf0.1; a row-local replace-per-distinct-char
    * variant was WORSE (6.6 s — interpreted HOF lambdas recompute,
    * the lineDedup trap). This shape measured ~1 s: split + codegen'd
    * explode + integer-keyed hash aggregates.
    */
  def charEntropyFor(docs: DataFrame): DataFrame = {
    val cells = docs
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        explode(split(col("text"), "")).as("c"))
      .filter(length(col("c")) === 1)
      .groupBy(col("doc_id"), col("n"), col("c")).agg(count(lit(1)).as("cnt"))
    val p = col("cnt").cast("double") / col("n")
    cells
      .withColumn("ent_q", round(-p * log(p) * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_distinct_chars"), sum(col("ent_q")).as("ent_sum"))
      .select(col("doc_id"), col("n").as("n_chars"), col("n_distinct_chars"),
        round(col("ent_sum").cast("double") / 1e6, 6).as("char_entropy"))
      .orderBy(col("doc_id"))
  }

  /** Zipf-law fit per language: least-squares slope and r² of
    * ln(freq) vs ln(rank) over the top-`topN` token ranks — the
    * classic "is this natural language or generated junk" sanity
    * check (natural text sits near slope ≈ −1; a flat or cliff-shaped
    * curve marks templated, truncated, or synthetic sources).
    *
    * Determinism contract (the DSIR micro-nat convention): ln values
    * are quantized per row to integer 10⁻⁵-nats BEFORE any sum, so
    * every aggregate is an order-immune integer sum and the regression
    * arithmetic runs on identical integers in both engines; the final
    * slope/r² are double divisions of those exact integers with one
    * terminal round. Scale 10⁵ (not 10⁶) keeps `n·Σy²` under 2⁶³ even
    * at freq ≈ 2⁶³ (y ≤ 4.4·10⁶, y² ≤ 2·10¹³, ×topN×topN ≈ 2·10¹⁷).
    *
    * 100 TB shape (round 14): token explode → (lang, token) hash
    * aggregate with map-side partials (vocab-bounded output), then the
    * bounded [[graft.functions.TopKByScoreStr]] aggregate for the
    * per-lang top-topN — at most topN pairs per (partition, language)
    * cross the wire and posexplode's position is the rank, so neither
    * the corpus NOR the vocabulary ever funnels through a per-language
    * window (the r13 form sorted each language's whole vocab on one
    * reducer). Then a |langs|-row aggregate. The quantile-of-log risk
    * the heavy-hitter sketch solves does not arise — the top-k bound
    * caps everything before any math.
    */
  def zipfFit(spark: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val freqs = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("freq"))
    // round 14: the per-lang rank window used to run over the FULL
    // vocab frame (billions of types per language at crawl scale, all
    // sorted on one reducer per language). The top-topN cut is now the
    // bounded `TopKByScoreStr` aggregate — map-side partials carry at
    // most topN (freq, token) pairs per (partition, language), the
    // (freq DESC, token ASC UTF8-binary) order matches the oracle's
    // row_number exactly, and posexplode's position IS the rank, so no
    // window exists in the plan at all. freq→double is exact below
    // 2⁵³ occurrences.
    val quant = freqs.groupBy(col("lang"))
      .agg(graft.functions.GraftFunctions
        .topKByScoreStr(col("freq").cast("double"), col("token"), topN).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("lang"),
        round(log((col("pos") + 1).cast("double")) * 1e5, 0).cast("long").as("xi"),
        round(log(col("s.score")) * 1e5, 0).cast("long").as("yi"))
    quant.groupBy(col("lang")).agg(
        count(lit(1)).as("n_ranks"),
        sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
        sum(col("xi") * col("yi")).as("sxy"),
        sum(col("xi") * col("xi")).as("sxx"),
        sum(col("yi") * col("yi")).as("syy"))
      .select(col("lang"), col("n_ranks"),
        (col("n_ranks") * col("sxy") - col("sx") * col("sy")).as("dxy"),
        (col("n_ranks") * col("sxx") - col("sx") * col("sx")).as("dxx"),
        (col("n_ranks") * col("syy") - col("sy") * col("sy")).as("dyy"))
      .select(col("lang"), col("n_ranks"),
        round(col("dxy").cast("double") / col("dxx").cast("double"), 4).as("slope"),
        round(col("dxy").cast("double") * col("dxy").cast("double")
          / (col("dxx").cast("double") * col("dyy").cast("double")), 4).as("r2"))
      .orderBy(col("lang"))
  }
}
