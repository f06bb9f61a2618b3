package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.apache.spark.sql.functions._

/** Scale lint: structural invariants over EVERY registered query's plan.
  *
  * The per-query oracle checks prove the answers right at sf0.01; this
  * suite proves the PLANS stay safe at 100 TB by construction — it walks
  * all of `SparkEntry.queries` and rejects the two classic scale-killers
  * wherever they are not an explicitly documented design choice:
  *
  *   1. cartesian / nested-loop joins (quadratic pair blowup),
  *   2. windows with an empty PARTITION BY (the whole dataset funnels
  *      through ONE task for the global ordering), and
  *   3. forced single-partition exchanges — `repartition(1)` /
  *      `coalesce(1)` — which serialize the full dataset through one
  *      task (round 10). Two single-partition shapes are deliberately
  *      NOT flagged: the planner's own ENSURE_REQUIREMENTS exchange
  *      under a global aggregate (its input is partial-agg rows — one
  *      row per map task, bounded whatever the corpus size) and the
  *      presentation `orderBy` (a RANGE-partitioned distributed sort,
  *      not a single-partition funnel).
  *
  * Check 3 (over the registry and the filter-funnel subtrees) reads
  * its plans from [[SparkSpec.scaleLayout]], the same sf0.001 files in
  * the production layout: `Tables` scans a small dir single-partition
  * by design (`Tables.smallDir`), so only the layout a large dir gets
  * shows what a query itself forces.
  *
  * A new query that accidentally plans either fails this suite with its
  * name — the regression is caught at `sbt test` time, not in a 100 TB
  * run. Allowlists below are per-query and each entry carries the reason
  * it is deliberately exempt (documented oracle twins and tiny-literal
  * theta joins); growing an allowlist requires editing this file, which
  * is the point.
  */
class PlanLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries allowed to plan a non-equi (nested-loop / cartesian) join.
    * Every entry must keep its justification current.
    */
  private val nonEquiJoinAllowed: Map[String, String] = Map(
    "q13_range_join" -> "theta join against a 4-row literal band table (broadcast by construction)",
    "x_sim_topk" -> "brute-force cosine twin: <=10 broadcast query rows stream past the corpus; x_sim_lsh/_ivf are the scale paths",
    "x_sim_quantized" -> "same <=10 broadcast-query scan as x_sim_topk, scored on int8 codes; the LSH/IVF cell restriction composes with quantization at scale",
    "x_sim_range" -> "range-search REPORT: the exact in-range truth leg is x_sim_topk's <=10 broadcast-query scan (one scan feeds truth AND the LSH bucket leg's counts); the production candidate generator is the bucket equi-join",
    "x_embed_neardup" -> "exact all-pairs oracle twin, documented; x_embed_neardup_lsh is the scale path",
    "x_embed_neardup_recall" -> "recall REPORT: the exact truth leg is x_embed_neardup's documented all-pairs sweep; at scale the truth leg runs on a sample while candidate counts come from the generators' own equi-join output",
    "x_sim_ivf_refined" -> "recall REPORT: the brute-force truth leg is x_sim_topk's <=10 broadcast-query scan; the measured IVF legs are cell-restricted equi-joins",
    "x_sim_ivf_probe" -> "recall REPORT: same brute truth leg as x_sim_ivf_refined; both probe legs are cell equi-joins against <=10*nprobe broadcast query rows",
    "x_rank_ndcg" -> "nDCG REPORT: same brute truth leg as x_sim_ivf_probe (<=10 broadcast query rows scan the corpus once for ground truth); the method legs ride the probeCandidates cell equi-join",
    "x_sim_ivf_curve" -> "operating-curve REPORT: same brute truth leg (<=10 broadcast query rows, one corpus scan); all four nprobe levels are prefix filters over ONE probeCandidates cell equi-join",
    "x_sim_ivf_kpp" -> "recall REPORT over the k-means|| seeds: same <=10-broadcast-query brute truth leg; the search leg is a cell equi-join",
    "x_knn_classify" -> "votes over x_sim_topk's <=10 broadcast-query scan; swap in the LSH/IVF search legs (same (query_id, neighbor_id) contract) at scale",
    "x_rank_fusion" -> "vector leg streams the corpus past a 1-row broadcast query embedding (x_sim_topk's family); the BM25 leg and the <=20x<=20 fusion join are equi/bounded, and the LSH/IVF search legs swap in at scale (same (doc_id, rank) contract)",
    "x_cell_imbalance" -> "constants attach: the ONE-row global-aggregate summary broadcasts onto the |cells|-row frame (Catalyst folds the lit(1) equi-key, degenerating to a 1-row nested loop — bounded by construction)",
    "x_hll_distinct" -> "constants attach: the ONE-row estimate summary broadcasts onto the 64-register frame (same folded lit(1)-key 1-row nested loop as x_cell_imbalance)",
    "x_filter_agreement" -> "constants attach: the ONE-row (total, agree) aggregate broadcasts onto the <=4-cell cube (same folded lit(1)-key 1-row nested loop)",
    "x_f2_skew" -> "constants attach: the ONE-row (f2_est, f2_exact, err) summary broadcasts onto the 16-register frame (same folded lit(1)-key 1-row nested loop as x_hll_distinct)",
    "x_sim_nsw" -> "recall REPORT: same <=10-broadcast-query brute truth leg as x_sim_ivf_probe; the graph index is a cell equi-join and every beam round is equi-joins over <=|Q|*beamW*(1+2M)-row localized frames",
    "x_kmv_overlap" -> "pair-matrix REPORT: the |sources|x|sources| cross is the OUTPUT's own size (a report over the distinct-source list, not a corpus frame); every sketch/truth leg hanging off it is an equi-join",
    "x_kmv_decontam" -> "pair-matrix REPORT: the same bounded cross over the THREE split labels (3x3 by construction); every sketch/truth leg is an equi-join",
    "x_kmv_diff" -> "pair-matrix REPORT: the a-not-b face shares x_kmv_overlap's bounded |sources|x|sources| cross scaffold; membership partition and truth legs are equi/anti joins",
    // x_sim_dim_curve needs NO entry: its one broadcast-query scan is
    // collected into the <=|levels|*|Q|*k LocalRelation at build time
    // (the filter-funnel pattern), so the registered plan has no
    // non-equi join for the lint to see
    "x_sim_nsw_hier" -> "recall REPORT: same brute truth leg as x_sim_nsw; both layers' graphs are cell equi-joins and every beam round is equi-joins over bounded localized frames")

  /** Queries allowed a window with empty partitionSpec (global ordering
    * through a single task). Nothing should ever need this — the list
    * exists so a future exemption is a reviewed, named decision.
    */
  private val globalWindowAllowed: Map[String, String] = Map.empty

  private def plans(name: String, d: String = dir): (String, Seq[LogicalWindow]) = {
    val qe = SparkEntry.queries(name)(spark, d).queryExecution
    val windows = qe.optimizedPlan.collect { case w: LogicalWindow => w }
    (qe.executedPlan.toString, windows)
  }

  private def plansNonEquiJoin(name: String): Boolean = {
    val (physical, _) = plans(name)
    physical.contains("CartesianProduct") || physical.contains("BroadcastNestedLoopJoin")
  }

  test("detector canary: a deliberate cross join trips the non-equi check") {
    val plan = spark.range(10).toDF("x").crossJoin(spark.range(10).toDF("y"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("no registered query plans a cartesian or nested-loop join (unless documented)") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(nonEquiJoinAllowed.contains)
      .filter(plansNonEquiJoin)
    assert(offenders.isEmpty,
      s"scale lint: cartesian/nested-loop join planned by: ${offenders.mkString(", ")} — " +
        "make the join equi (bucket/band/bound it) or add a justified allowlist entry")
  }

  test("every non-equi allowlist entry actually trips (the list cannot rot into a blanket pass)") {
    val unneeded = nonEquiJoinAllowed.keys.toSeq.sorted.filterNot(plansNonEquiJoin)
    assert(unneeded.isEmpty,
      s"allowlisted but plans no non-equi join (remove the entry): ${unneeded.mkString(", ")}")
  }

  /** Queries allowed a forced single-partition exchange. Nothing should
    * ever need this (a one-file presentation write belongs in the
    * writer, not the query plan) — named-exemption list like the others.
    */
  private val singlePartitionAllowed: Map[String, String] = Map.empty

  private def plansForcedSinglePartition(name: String): Boolean = {
    val (physical, _) = plans(name, SparkSpec.scaleLayout(dir))
    // `Exchange SinglePartition, REPARTITION…` = user-forced (the
    // planner's own one-partition exchanges print ENSURE_REQUIREMENTS);
    // `Coalesce 1` is the coalesce(1) physical node (`\b` keeps
    // "Coalesce 10+" from matching)
    physical.contains("Exchange SinglePartition, REPARTITION") ||
      "Coalesce 1\\b".r.findFirstIn(physical).isDefined
  }

  test("detector canary: repartition(1) and coalesce(1) trip; a global aggregate and coalesce(10) do not") {
    val base = spark.range(100).toDF("x")
    def physical(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    assert(physical(base.repartition(1)).contains("Exchange SinglePartition, REPARTITION"))
    assert("Coalesce 1\\b".r.findFirstIn(physical(base.coalesce(1))).isDefined)
    // the global-agg exchange carries partial-agg rows — must NOT trip
    val agg = physical(base.agg(org.apache.spark.sql.functions.sum("x")))
    assert(agg.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"fixture expectation drifted: $agg")
    assert(!agg.contains("Exchange SinglePartition, REPARTITION"))
    assert("Coalesce 1\\b".r.findFirstIn(physical(base.coalesce(10))).isEmpty)
    // on the scale layout a table's own scan plans no coalesce, and a
    // query-authored coalesce(1) over it still trips
    val scan = graft.Tables.lineitem(spark, SparkSpec.scaleLayout(dir))
    assert("Coalesce 1\\b".r.findFirstIn(physical(scan)).isEmpty, physical(scan))
    assert("Coalesce 1\\b".r.findFirstIn(physical(scan.coalesce(1))).isDefined)
  }

  test("no registered query forces a single-partition exchange (repartition(1)/coalesce(1))") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(singlePartitionAllowed.contains)
      .filter(plansForcedSinglePartition)
    assert(offenders.isEmpty,
      s"scale lint: forced single-partition exchange planned by: ${offenders.mkString(", ")} — " +
        "drop the repartition(1)/coalesce(1) (presentation writes coalesce in the WRITER, not the plan)")
  }

  test("no registered query uses a globally-ordered window (empty PARTITION BY)") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(globalWindowAllowed.contains)
      .filter { name => plans(name)._2.exists(_.partitionSpec.isEmpty) }
    assert(offenders.isEmpty,
      s"scale lint: single-task global window planned by: ${offenders.mkString(", ")} — " +
        "partition the window (see Corpus.packBins for the distributed prefix-sum shape)")
  }

  /** Round 14 (VERDICT r13): the fourth scale-killer class — a rank
    * window whose PARTITION BY references ONLY low-cardinality corpus
    * columns (lang, source). Keyed is not safe: on a real crawl one
    * language is ~half the corpus, so `Window.partitionBy(lang)` sorts
    * ~50 TB through one reducer — precisely the defect the r13
    * `x_ppl_buckets` shipped behind a "keyed, never global" docstring.
    * A window IS safe when its input was already reduced to a
    * key-bounded frame: a child subtree containing an Aggregate whose
    * grouping keys are all low-cardinality columns caps the window's
    * input at the key-combination count (domainLangMix's ≤|sources|·
    * |langs| cell frame). Everything else must use boundary selection
    * ([[graft.ext.Profiling.exactRankRowsByKey]]) + broadcast +
    * row-local compare, or earn an allowlist entry.
    */
  private val lowCardCols = Set("lang", "source")

  /** Empty since round 14's second pass: x_zipf_fit's brief tenure here
    * (boundary pre-filter + bounded window) ended when its top-N moved
    * to the bounded TopKByScoreStr aggregate — no registered query
    * plans a low-cardinality-keyed window at all now.
    */
  private val lowCardWindowAllowed: Map[String, String] = Map.empty

  private def plansLowCardWindow(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Sort, SubqueryAlias}
    // the Aggregate must bound the window's DIRECT input cardinality —
    // walk down only through nodes that cannot re-expand rows (review
    // r14: `exists` anywhere in the subtree exempted a corpus-scale
    // window whose lineage merely CONTAINED a |langs|-row stats
    // aggregate on the build side of a join — the exact r13 defect
    // shape, shipped undetected)
    @scala.annotation.tailrec
    def keyBounded(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.nonEmpty &&
        a.groupingExpressions.forall(_.references.forall(r => lowCardCols.contains(r.name)))
      case n @ (_: Project | _: Filter | _: Sort | _: SubqueryAlias) =>
        keyBounded(n.children.head)
      case w: LogicalWindow => keyBounded(w.child)
      case _ => false
    }
    df.queryExecution.optimizedPlan.collect { case w: LogicalWindow => w }.exists { w =>
      val refs = w.partitionSpec.flatMap(_.references)
      w.partitionSpec.nonEmpty && refs.nonEmpty &&
        refs.forall(r => lowCardCols.contains(r.name)) &&
        !keyBounded(w.child)
    }
  }

  test("detector canary: a corpus-scale per-lang rank window trips; a cell-frame window does not") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, dir)
    val bad = docs.withColumn("rn",
      row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(plansLowCardWindow(bad), "per-lang rank window over the corpus must trip")
    val cells = docs.groupBy(col("source"), col("lang")).count()
      .withColumn("tot", sum(col("count")).over(Window.partitionBy(col("source"))))
    assert(!plansLowCardWindow(cells), "window over a low-card-keyed cell frame must pass")
    val byDoc = docs.withColumn("rn",
      row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("lang"))))
    assert(!plansLowCardWindow(byDoc), "high-cardinality partition key must pass")
    // join-laundered: a corpus frame that merely JOINS a |langs|-row
    // stats aggregate is still corpus-scale — the window after the
    // join must trip (review r14: the subtree-exists form passed it)
    val stats = docs.groupBy(col("lang")).count()
    val laundered = docs.join(stats, "lang").withColumn("rn",
      row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(plansLowCardWindow(laundered),
      "corpus window downstream of a joined low-card aggregate must trip")
  }

  test("no registered query plans a corpus-scale rank window keyed on a low-cardinality column") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(lowCardWindowAllowed.contains)
      .filter(name => plansLowCardWindow(SparkEntry.queries(name)(spark, dir)))
    assert(offenders.isEmpty,
      s"scale lint: low-cardinality-keyed corpus window planned by: ${offenders.mkString(", ")} — " +
        "use boundary selection (Profiling.exactRankRowsByKey) + broadcast + row-local compare " +
        "(see TextAnalysis.pplBuckets / Corpus.splitStratified round 14)")
  }

  test("every low-card-window allowlist entry actually trips (the list cannot rot into a blanket pass)") {
    val stale = lowCardWindowAllowed.keys.toSeq.sorted
      .filterNot(name => plansLowCardWindow(SparkEntry.queries(name)(spark, dir)))
    assert(stale.isEmpty,
      s"allowlist entries that no longer plan a low-card window: ${stale.mkString(", ")}")
  }

  test("filter-funnel heavy subtree passes the same lints (its registered face is a LocalRelation)") {
    // x_filter_funnel assembles its ≤6-row result driver-side from one
    // bounded collect, so the registered query's plan is a
    // LocalRelation and the corpus-scale battery behind it would dodge
    // every detector above — lint the pre-collect frame explicitly
    // (ADVICE r13)
    // round 18: the gate-order report shares the convention — its
    // registered face is the same driver-side assembly, so lint its
    // pre-collect frame too
    for ((label, frame) <- Seq(
        "filter-funnel" -> graft.ext.Dedup.filterFunnelHeavyFrame(spark, SparkSpec.scaleLayout(dir)),
        "funnel-orders" -> graft.ext.Dedup.funnelOrdersHeavyFrame(spark, SparkSpec.scaleLayout(dir)))) {
      val qe = frame.queryExecution
      val physical = qe.executedPlan.toString
      assert(!physical.contains("CartesianProduct") &&
        !physical.contains("BroadcastNestedLoopJoin"),
        s"$label heavy subtree plans a cartesian/nested-loop join")
      assert(!physical.contains("Exchange SinglePartition, REPARTITION") &&
        "Coalesce 1\\b".r.findFirstIn(physical).isEmpty,
        s"$label heavy subtree forces a single-partition exchange")
      assert(!qe.optimizedPlan.collect { case w: LogicalWindow => w }
        .exists(_.partitionSpec.isEmpty),
        s"$label heavy subtree plans a global window")
    }
  }

  test("allowlists only name registered queries (no stale entries)") {
    val stale = (nonEquiJoinAllowed.keySet ++ globalWindowAllowed.keySet ++
      singlePartitionAllowed.keySet ++ lowCardWindowAllowed.keySet) -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlist entries for unregistered queries: ${stale.mkString(", ")}")
  }

  test("ordered-run contract: a permutation of the registry, chains intact, oracles 1:1") {
    val ordered = SparkEntry.orderedQueryNames
    // every registered query runs exactly once — a chain-insertion bug
    // would silently drop or double-run entries in EVERY runner
    assert(ordered.sorted == SparkEntry.queries.keys.toSeq.sorted,
      s"ordered run is not a permutation of the registry: " +
        s"missing=${SparkEntry.queries.keySet -- ordered.toSet} " +
        s"extra=${ordered.toSet -- SparkEntry.queries.keySet}")
    assert(ordered.distinct.length == ordered.length, "a query runs twice")
    // every keep-warm rider appears AFTER a non-warm predecessor (it
    // must have a frame-building anchor ahead of it, never run first)
    SparkEntry.keepWarmQueries.foreach { w =>
      val i = ordered.indexOf(w)
      assert(i > 0, s"$w cannot open the sweep — nothing built its frame")
      assert(!SparkEntry.keepWarmQueries(ordered(i - 1)) ||
        ordered.take(i).exists(!SparkEntry.keepWarmQueries(_)),
        s"$w has no non-warm anchor before it")
    }
    // the correctness gate needs BOTH faces for every entry
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"oracle/query key mismatch: " +
        s"${(SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet) ++
           (SparkEntry.queries.keySet diff SparkEntry.oracleSql.keySet)}")
  }
}
