package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Second batch of relational coverage (SURVEY.md §2B general classes):
  * ordered-set/statistical aggregates, explicit GROUPING SETS with
  * grouping_id, the spark.sql TEXT surface over registered views, and
  * array aggregation. Same determinism conventions as [[Relational]].
  */
object Relational2 {

  /** Q16 — percentiles: exact linear-interpolation percentile (the
    * `percentile` exact aggregate; both engines interpolate the same
    * way). Scale note: exact percentile is a sort-based aggregate — at
    * 100 TB swap in approx_percentile (t-digest) and drop the oracle to
    * tolerance-based.
    */
  def q16Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Q16b — the 100 TB substitution for [[q16Percentiles]]: one-pass
    * mergeable-sketch percentiles (`approx_percentile`, accuracy 10000 ≈
    * 0.01% rank error) instead of the exact sort-based aggregate. At
    * scale the exact form materializes every group's values on one
    * reducer; the sketch is fixed-size per group and partial-aggregates
    * map-side. Sketch outputs differ cross-engine by design, so the
    * registered entry is a VERDICT query (round-7 task 3): it emits the
    * exact percentiles (which both engines agree on at 4 dp — q16) plus
    * a `within_5pct` boolean judging the sketch against them, and the
    * oracle asserts `true` — the hash then carries real content instead
    * of a rows-only count. ExtSpec additionally bounds the raw sketch.
    * The exact aggregate here is verification scaffolding: production
    * code at 100 TB runs the sketch alone (that is q16b's whole point).
    */
  def q16bApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    def relErrOk(approx: Column, exact: Column): Column =
      abs(approx - exact) <= abs(exact) * 0.05
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 10000)").cast("double").as("a_med"),
        expr("approx_percentile(l_quantity, 0.9, 10000)").cast("double").as("a_p90"),
        expr("approx_percentile(l_extendedprice, 0.25, 10000)").cast("double").as("a_p25"),
        expr("percentile(l_quantity, 0.5)").as("e_med"),
        expr("percentile(l_quantity, 0.9)").as("e_p90"),
        expr("percentile(l_extendedprice, 0.25)").as("e_p25"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(col("e_med"), 4).as("median_qty"),
        round(col("e_p90"), 4).as("p90_qty"),
        round(col("e_p25"), 4).as("p25_price"),
        col("n"),
        (relErrOk(col("a_med"), col("e_med")) &&
          relErrOk(col("a_p90"), col("e_p90")) &&
          relErrOk(col("a_p25"), col("e_p25"))).as("within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  /** Q17 — statistical aggregates: stddev/variance (sample), Pearson
    * correlation, covariance. Numerically stable one-pass algorithms in
    * both engines; rounded to absorb update-order epsilon.
    */
  def q17StatsAggs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        round(stddev(col("l_quantity")), 4).as("sd_qty"),
        round(variance(col("l_extendedprice")), 2).as("var_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_discount"), col("l_tax")), 6).as("cov_disc_tax"))
      .orderBy(col("l_linestatus"))

  /** Q18 — explicit GROUPING SETS with grouping_id disambiguation
    * (rollup/cube's general form).
    */
  def q18GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir, "orders")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
         CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
         count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority), ())
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
  }

  /** Q19 — the SQL-text surface end-to-end: a TPC-H Q3-shaped query
    * submitted as text over the registered views (parser → analyzer →
    * optimizer path, not the DataFrame DSL).
    */
  def q19SqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir, "customer", "orders", "lineitem")
    spark.sql(
      """SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         o_orderdate, o_orderpriority
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
           AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")
  }

  /** Q20 — array aggregation: per-group sorted distinct collections,
    * joined to a stable string (collect_set order is nondeterministic;
    * array_sort + array_join pins it).
    *
    * Two-level plan: first a plain hash aggregate on (status, priority)
    * — partial map-side combine, so the shuffle carries ~15 rows — then
    * the collect/count over those pairs. The round-1 single-level
    * `collect_set + countDistinct + count` forced an Expand (3× rows)
    * funneling the whole table onto a 3-value grouping key (12.5 s at
    * sf0.1; a straight scale-killer at 100 TB where one reducer would
    * receive a third of the table). Same result, same oracle hash.
    */
  def q20ArrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("o_orderstatus"))
      .agg(
        array_join(array_sort(collect_list(col("o_orderpriority"))), ",").as("priorities"),
        count(lit(1)).as("n_priorities"),
        sum(col("cnt")).as("n"))
      .orderBy(col("o_orderstatus"))

  /** Q22 — ranking-window battery: ntile buckets, percent_rank,
    * cume_dist (exact rationals — identical doubles in both engines).
    * Unique (totalprice, orderkey) ordering keeps every rank stable.
    */
  def q22WindowRanking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }

  /** Q23 — conditional aggregation (FILTER-style) + map-literal lookup
    * scoring (Spark map functions; oracle expresses the same lookup as
    * a CASE — scalar outputs keep it engine-portable).
    */
  def q23ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val weight = map(
      lit("1-URGENT"), lit(5.0), lit("2-HIGH"), lit(4.0), lit("3-MEDIUM"), lit(3.0),
      lit("4-NOT SPECIFIED"), lit(2.0), lit("5-LOW"), lit(1.0))
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(when(col("o_totalprice") > 300000, 1)).as("n_big"),
        round(sum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))), 2).as("urgent_revenue"),
        round(avg(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), col("o_totalprice"))), 4).as("hi_prio_avg"),
        round(sum(element_at(weight, col("o_orderpriority")) * col("o_totalprice")), 2).as("weighted_revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** Q24 — fuzzy/string battery: edit distance (exact integers — fully
    * portable), padding, character translation, title-casing.
    */
  def q24FuzzyStrings(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_partkey") < 50)
      .select(
        col("p_partkey"), col("p_name"),
        levenshtein(col("p_name"), lit("red widget")).cast("long").as("dist_widget"),
        lpad(col("p_brand"), 12, "*").as("brand_padded"),
        translate(col("p_name"), "aeiou", "AEIOU").as("vowels_up"),
        reverse(col("p_brand")).as("brand_rev"))  // initcap missing in DuckDB 1.0
      .orderBy(col("p_partkey"))

  /** Q25 — subquery battery over the SQL-text surface: correlated
    * scalar subquery (per-customer order count) + correlated EXISTS
    * filter. Catalyst decorrelates both into joins — the plan shows an
    * aggregate-join for the scalar and a left-semi for EXISTS, not
    * per-row re-execution.
    */
  def q25Subqueries(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir, "customer", "orders")
    spark.sql(
      """SELECT c_custkey, c_name,
           (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
         ORDER BY c_custkey LIMIT 50""")
  }

  /** Q26 — pivot: one column per order priority, summed revenue per
    * status. Explicit pivot values pin the output schema (and make the
    * plan a single groupBy with conditional aggregates — no second
    * pass to discover distinct values).
    */
  def q26Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(round(sum(col("o_totalprice")), 2))
      .orderBy(col("o_orderstatus"))

  /** Q27 — time-series gap filling (ClickHouse `WITH FILL` / Grafana
    * zero-fill): per-minute event counts with empty minutes restored
    * via a generated minute spine left-joined to the counts. The spine
    * explodes from a single bounds row — ~0.5M rows/year however big
    * the fact table is — and the join broadcasts the spine side.
    */
  def q27GapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(date_trunc("minute", col("ts")).as("m"))
    val counts = e.groupBy(col("m")).agg(count(lit(1)).as("n"))
    val spine = e.agg(min(col("m")).as("mn"), max(col("m")).as("mx"))
      .select(explode(expr("sequence(mn, mx, interval 1 minute)")).as("m"))
    spine.join(counts, Seq("m"), "left")
      .select(col("m"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("m"))
  }

  /** Q28 — RANGE-frame windows: trailing-7-day counts and revenue per
    * status, frame bounds in event TIME rather than row counts (the
    * moving-aggregate shape dashboards want). RANGE frames include all
    * order-key peers, so the result is tie-order independent —
    * deterministic without a unique sort key.
    */
  def q28RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir, "orders")
    spark.sql(
      """SELECT o_orderkey,
           CAST(count(*) OVER w AS BIGINT) AS n_7d,
           round(sum(o_totalprice) OVER w, 2) AS rev_7d
         FROM orders WHERE o_orderkey < 500
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""")
  }

  /** Q29 — generator in the SQL-text surface: LATERAL VIEW explode over
    * split tokens (the Hive/Spark idiom; DuckDB's twin is unnest).
    */
  def q29LateralExplode(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir, "part")
    spark.sql(
      """SELECT word, count(*) AS n, count(DISTINCT p_partkey) AS n_parts
         FROM part LATERAL VIEW explode(split(p_name, ' ')) t AS word
         WHERE p_partkey < 200
         GROUP BY word HAVING count(*) >= 3
         ORDER BY word""")
  }

  /** Q21 — approximate distinct-count (HLL). Sketch estimates differ
    * cross-engine by design, so like [[q16bApproxPercentiles]] this is a
    * VERDICT query: exact count plus a `within_5pct` boolean judging the
    * HLL against it, oracle asserts `true`. rsd is pinned to 0.01 (~1%
    * std error) so the 5% gate holds with wide margin at every sf; the
    * ScalaTest spec separately bounds the default-rsd sketch. The exact
    * `countDistinct` is verification scaffolding — at 100 TB the sketch
    * runs alone (fixed-size partial-aggregating state vs a shuffle of
    * every distinct key, which is the entire reason HLL exists).
    */
  def q21ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    // dedup-first: one (flag, key) hash aggregate with map-side partials,
    // then count + HLL over the ALREADY-distinct keys — an HLL of a set
    // equals the HLL of the multiset, and this shape avoids the Expand
    // node a mixed countDistinct+HLL single aggregate plans (which
    // doubles every scan row into the two aggregate paths; measured
    // 5.9 s -> ~2 s at sf0.1)
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("exact_parts"),
           approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.05).as("within_5pct"))
      .orderBy(col("l_returnflag"))

  /** Q30 — argMax/argMin: the ClickHouse `argMax(arg, val)` idiom
    * (reference users lean on it for "id of the latest/biggest row per
    * group") via Spark's `max_by`/`min_by` — ONE hash aggregate, no
    * self-join-back-on-the-max and no per-group window/sort. Determinism
    * note: max_by ties are unspecified on both engines; the per-group
    * max/min of o_totalprice is unique at the correctness SF (probed),
    * and a production caller breaks ties by arg-maxing a (val, key)
    * struct.
    */
  def q30ArgMax(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), col("o_totalprice")).as("max_price_order"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        min_by(col("o_orderkey"), col("o_totalprice")).as("min_price_order"),
        round(min(col("o_totalprice")), 2).as("min_price"))
      .orderBy(col("o_orderstatus"))

  /** Full-outer join — the one join type the inventory lacked: per-
    * customer 1995-vs-1996 spend with customers present in either
    * year. Both sides shuffle on the same key; nulls mark the
    * one-sided rows.
    */
  def q31FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def spend(yr: Int, out: String) =
      o.filter(year(col("o_orderdate")) === yr)
        .groupBy(col("o_custkey").as(s"ck_$out"))
        .agg(round(sum(col("o_totalprice")), 2).as(out))
    spend(1995, "spend95").join(spend(1996, "spend96"),
        col("ck_spend95") === col("ck_spend96"), "full_outer")
      .select(coalesce(col("ck_spend95"), col("ck_spend96")).as("custkey"),
        col("spend95"), col("spend96"),
        (col("ck_spend95").isNotNull && col("ck_spend96").isNotNull).as("in_both"))
      .orderBy(col("custkey"))
  }

  /** Bag-semantics set ops: EXCEPT ALL / INTERSECT ALL (multiplicity-
    * aware — the variants `q11_setops`' distinct forms can't express).
    */
  def q32SetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val a = o.filter(col("o_orderstatus") === "F").select(col("o_orderpriority").as("p"))
    val b = o.filter(col("o_orderstatus") === "O").select(col("o_orderpriority").as("p"))
    val ex = a.exceptAll(b).agg(count(lit(1)).as("n")).select(lit("except_all").as("op"), col("n"))
    val in = a.intersectAll(b).agg(count(lit(1)).as("n")).select(lit("intersect_all").as("op"), col("n"))
    ex.unionByName(in).orderBy(col("op"))
  }

  /** Window navigation battery: first_value / last_value / nth_value
    * over each customer's date-ordered orders (ties broken by key so
    * both engines see one total order). last/nth need the unbounded
    * frame — the default frame stops at CURRENT ROW.
    */
  def q33WindowNav(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(full).as("last_ok"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_ok"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }
}
