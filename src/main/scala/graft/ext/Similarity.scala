package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Vector similarity search over the `embeddings` table
  * (SURVEY.md §2C). 64-dim unit-norm float vectors.
  *
  * Tiers:
  *   - brute-force cosine top-k: broadcast the (small) query set against
  *     the full corpus — the corpus side streams with no shuffle; only
  *     the per-query top-k window shuffles (k rows per query);
  *   - sign-bit LSH buckets: deterministic axis-hyperplane bucketing;
  *     candidate set shrinks by ~2^bits, the scale path for ANN;
  *   - all-pairs near-dup: threshold-filtered pair join (quadratic —
  *     kept for oracle parity at sf scale; at 100 TB use the LSH bucket
  *     join instead).
  *
  * Determinism contract with the DuckDB oracle: cosine is computed in
  * double, rounded to 6 dp, and every ranking orders by the ROUNDED
  * value with vec_id tiebreak — so a 1-ulp accumulation difference
  * between engines cannot flip a rank.
  */
object Similarity {

  /** dot(a, b) in double over float arrays (sequential fold — same
    * evaluation order as DuckDB's list_dot_product loop). Reference
    * formulation; the hot path uses the fused codegen expression.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** Interpreted higher-order-function cosine — kept as the semantic
    * reference for [[graft.functions.CosineSim]] (bit-equal results,
    * asserted in ExtSpec). 179 s vs 3 s at sf0.1 for the all-pairs query.
    */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Fused single-pass codegen cosine (graft.functions.CosineSim);
    * the session must have called GraftFunctions.register.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** Shared ranking tail: per-query top-k via the bounded
    * [[graft.functions.TopKByScore]] aggregate instead of a
    * `row_number` window. The window form funnels every scored row
    * onto its query's one reducer (all scored rows land on ≤10
    * reducers here — the round-1 design note); the aggregate's
    * map-side partials bound the shuffle to k rows per (partition,
    * query) whatever the corpus size. Input `cos` is pre-rounded, so
    * the (cos DESC, vec_id ASC) ranking is identical to the window's.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKByScore(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("neighbor_id"), col("s.score").as("cos"))
      .orderBy(col("query_id"), col("rk"))

  /** Brute-force top-5 cosine neighbors for query vectors vec_id < 10. */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6))
    rankTopK(scored, k)
  }

  /** kNN majority-vote label prediction — the consumer that turns the
    * ANN machinery into a training-data tool: weak labeling / label
    * propagation by nearest neighbors (each query vector takes the
    * majority label of its k nearest, ties to the smallest label). The
    * embeddings table ships a `label` column precisely for this; until
    * round 8 nothing consumed it.
    *
    * Shape: identical scale story to [[bruteForceTopK]] (broadcast
    * queries, fused codegen cosine, bounded TopKByScore — k rows per
    * (partition, query) is all that shuffles), then the ≤ k·|queries|
    * winner frame BROADCASTS back onto the embeddings scan to pick up
    * neighbor labels, and the vote is a tiny two-level aggregate. The
    * argmax is `max(struct(cnt, -label))` — no window, no extra
    * shuffle; at corpus scale swap the brute-force scorer for the IVF/
    * LSH search legs unchanged (they emit the same (query_id,
    * neighbor_id) contract).
    */
  def knnClassify(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val top = bruteForceTopK(spark, dir, k).select(col("query_id"), col("neighbor_id"))
    val votes = e.select(col("vec_id").as("neighbor_id"), col("label").as("lbl"))
      .join(broadcast(top), "neighbor_id")
      .groupBy(col("query_id"), col("lbl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("w"))
      .select(col("query_id"), (-col("w.neg")).as("pred_label"), col("w.cnt").as("votes"))
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"))
      .join(votes, "query_id")
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("votes"), (col("pred_label") === col("true_label")).as("correct"))
      .orderBy(col("query_id"))
  }

  /** Sign-bit LSH bucket id from the first `bits` dimensions (axis-
    * aligned hyperplanes — deterministic, engine-portable).
    */
  def signBucket(v: Column, bits: Int = 8): Column =
    (0 until bits).map { j =>
      when(element_at(v, j + 1) >= 0f, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN via LSH buckets: top-3 neighbors per query, searched only
    * within the query's bucket (~1/256 of the corpus per probe).
    */
  def lshTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir).withColumn("bucket", signBucket(col("embedding")))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("bucket").as("qb"))
    val scored = e.join(broadcast(queries),
        col("bucket") === col("qb") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6))
    rankTopK(scored, k)
  }

  /** Multi-probe LSH ANN (round 6): the same single hash table as
    * [[lshTopK]], but each query additionally probes every Hamming-1
    * bucket (one sign bit flipped). Rationale (Lv et al., VLDB'07): a
    * dimension whose value sits near 0 has an unstable sign bit, and a
    * true neighbor differing in one unstable bit lands in an adjacent
    * bucket — plain LSH recovers those misses only with MORE hash
    * tables, i.e. more copies of the corpus index; multi-probe buys
    * the recall with (bits+1)× probe fan-out against the ONE table.
    * At 100 TB that trade matters: probes are broadcast-side rows
    * (queries × bits+1 — tiny), while an extra table is another full
    * corpus shuffle + store. Corpus rows live in exactly one bucket
    * and the probe set is distinct buckets, so candidate sets are
    * disjoint across probes — no dedup stage, the union feeds the same
    * bounded top-k aggregate.
    */
  def lshTopKMultiProbe(spark: SparkSession, dir: String, k: Int = 3,
      bits: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", signBucket(col("embedding"), bits))
    val masks = lit(0L) +: (0 until bits).map(j => lit(1L << j))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("bucket"), explode(array(masks: _*)).as("mask"))
      .select(col("query_id"), col("qv"),
        col("bucket").bitwiseXOR(col("mask")).as("qb"))
    val scored = e.join(broadcast(queries),
        col("bucket") === col("qb") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6))
    rankTopK(scored, k)
  }

  /** Near-dup pairs at scale: the bucket-equality join promised as the
    * 100 TB replacement for the quadratic [[embeddingNearDup]] — pairs
    * only materialize within a sign-bit bucket (an equi-join Catalyst
    * shuffles on the bucket key), trading recall for linearithmic cost.
    * Deterministic, so fully oracle-checkable as its own contract.
    */
  def lshNearDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir).withColumn("bucket", signBucket(col("embedding")))
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("bucket"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("v1") < col("v2"))
      .withColumn("cos", round(cosine(col("e1"), col("e2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), col("cos"))
      .orderBy(col("v1"), col("v2"))
  }

  /** Range (radius) search report (`x_sim_range`, round 17): all
    * neighbors within cosine ≥ τ per query — the OTHER query type a
    * vector index serves beside top-k (FAISS `range_search`; the
    * dedup-threshold and near-duplicate-audit read, where "how many
    * are this close" matters and k is unknowable a priori). ONE
    * corpus scan against the ≤10 broadcast queries scores every
    * (query, vector) pair once and feeds BOTH legs (the probe-curve
    * one-scan discipline): the exact in-range count (the truth a
    * production index must approximate) and the sign-bit LSH bucket
    * leg ([[signBucket]] — the same single table [[lshTopK]] probes)
    * with its candidate count (cost axis) and in-range hits (recall
    * axis). recall_micro = hits·10⁶ div in-range, zero-guarded: a
    * query with an empty range has no recall to price. The scan×
    * broadcast-queries shape is the documented x_sim_topk allowlist
    * class — at 100 TB the truth leg runs on a sample while the
    * bucket leg's candidate generation is the production equi-join.
    *
    * Oracle contract (ADVICE r17): ONLY the default-parameter face
    * (τ = 0.2, bits = 8) is oracle-checked — the registered
    * `x_sim_range` SQL hardcodes those constants, so a caller tuning
    * `tau`/`bits` gets a correct Spark answer that simply has no
    * DuckDB witness (the convention for every parameterized face
    * here).
    */
  def rangeSearch(spark: SparkSession, dir: String,
      tau: Double = 0.2, bits: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", signBucket(col("embedding"), bits))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("bucket").as("qb"))
    e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        (round(cosine(col("qv"), col("embedding")), 6) >= tau).as("in_range"),
        (col("bucket") === col("qb")).as("same_bucket"))
      .groupBy(col("query_id"))
      .agg(sum(when(col("in_range"), 1L).otherwise(0L)).as("n_in_range"),
        sum(when(col("same_bucket"), 1L).otherwise(0L)).as("n_cand_lsh"),
        sum(when(col("in_range") && col("same_bucket"), 1L).otherwise(0L))
          .as("n_hit_lsh"))
      .select(col("query_id"), col("n_in_range"), col("n_cand_lsh"), col("n_hit_lsh"),
        expr("CASE WHEN n_in_range = 0 THEN NULL"
          + " ELSE n_hit_lsh * 1000000 DIV n_in_range END").as("recall_micro"))
      .orderBy(col("query_id"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into K cells by
    * nearest centroid, search a query only within its own cell. Here
    * centroids are the first K vectors (deterministic — engine-portable
    * for the oracle; a production build k-means-refines them, which
    * only changes cell quality, not the operator shape). Complements
    * [[lshTopK]] as the second scale path: cell assignment is one
    * broadcast pass, per-query work drops ~K-fold.
    */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 3, cells: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    // Centroids are a bounded K-row dimension (16 × 64 floats); fetch
    // them once and hand them to the NearestSeed kernel so cell
    // assignment is a pure per-row argmax — zero shuffle, stays in
    // whole-stage codegen. The round-1 plan (broadcast NLJ against
    // `lit(true)` + a corpus-wide row_number window on vec_id)
    // K×-inflated the corpus and shuffled all of it just to pick a max
    // (VERDICT.md item 5).
    val centroids: Array[(Long, Array[Float])] = seedCentroids(e, cells)
    ivfSearch(e, centroids, k)
  }

  /** The IVF search tail shared by the seed-centroid and k-means-refined
    * paths: collected centroids → per-row argmax cell assignment
    * (struct ordering (−cos asc, cell_id asc) reproduces a window's
    * (cos desc, cell_id asc) tie-break exactly) → queries search only
    * their own cell → bounded top-k.
    */
  /** The bounded seed-centroid fetch (≤`cells` rows, the reference
    * matrix of every assignment) — ONE definition of the seed
    * contract shared by the IVF / SemDeDup / outlier / purity / kNN
    * faces and their streaming twins' specs. Any change to the seed
    * source, ordering, or types happens here once.
    */
  private[graft] def seedCentroids(e: DataFrame, cells: Int): Array[(Long, Array[Float])] =
    e.filter(col("vec_id") < cells)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** The cells-growth discipline MECHANIZED (round 17, VERDICT r16
    * #3): every within-cell quadratic face (lexRank, semanticDedup,
    * knnLabelConsistency, silhouette, the NSW graph builds) documents
    * "K grows with the corpus" — this is the checkable form. K =
    * max(16, ⌈√(n / targetCellSize)⌉): per-cell population then grows
    * as √(n·targetCellSize) instead of n/16, so total within-cell pair
    * mass K·(n/K)² = n²/K grows as n^1.5·√targetCellSize instead of
    * n²/16 — the FAISS `nlist ≈ √n` sizing rule with an explicit
    * knob. The floor keeps the registered faces' constant: at every
    * test scale (n ≤ 16²·targetCellSize = 262k vectors at the
    * default) this returns exactly 16, which is why the registered
    * faces can keep their oracle-replayed literal while production
    * callers route through [[seedAssignedAuto]] and inherit growth.
    * Monotone non-decreasing in n, spec-asserted along with the floor
    * and the 100×-scale-up reading.
    */
  private[graft] def cellsFor(n: Long, targetCellSize: Long = 1024L): Int = {
    require(n >= 0L, s"cellsFor: negative corpus size $n")
    require(targetCellSize >= 1L, s"cellsFor: targetCellSize must be >= 1, got $targetCellSize")
    math.max(16L,
      math.ceil(math.sqrt(n.toDouble / targetCellSize.toDouble)).toLong).toInt
  }

  /** The GRAPH-BUILD cell schedule (round 19 — VERDICT r18 #4): the
    * within-cell graph builds (the NSW base/upper graphs, the LexRank
    * kNN graph) pay the per-cell QUADRATIC at build time, unlike the
    * search faces whose per-query cost is n/K + K (minimized by the
    * classic √(n/1024)). The r19 cells A/B at the 10× point (n =
    * 20,000) measured the build-side headroom the search schedule
    * leaves: x_sim_nsw 38.6 s at the floor's 16 cells vs 22.0 s at 64,
    * x_lexrank_graph 62.4 vs 34.6 s. The ideal build schedule is
    * LINEAR in n (fixed cell size ⇒ pair mass n·cellSize, linear) —
    * but every vector scores all K seeds at assignment
    * ([[graft.functions.NearestSeed]] is linear in K), so a linear
    * cell count would make assignment itself quadratic. The adopted
    * schedule is the same √ law at a 16×-DENSER target (64 instead of
    * 1024): 4× smaller asymptotic pair-mass constant
    * (n^1.5·√64 vs n^1.5·√1024), floor crossover at n = 16,384
    * instead of 262,144 — already past it at the 10× probe point —
    * while the seed count stays √-bounded (4× the search schedule's:
    * ~3.9k seeds at n = 10⁹). Registered faces keep the oracle-pinned
    * 16; production graph builds route through this.
    */
  private[graft] def graphCellsFor(n: Long): Int = cellsFor(n, targetCellSize = 64L)

  /** [[nswSearch]] under the corpus-adapted GRAPH schedule — the
    * production entry point a deployment calls (the
    * [[seedAssignedAuto]] convention: registered faces pin cells=16
    * for their oracles; this face is what grows with the corpus).
    */
  def nswSearchAuto(spark: SparkSession, dir: String, k: Int = 3, m: Int = 4,
      beamW: Int = 4, rounds: Int = 3): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    nswSearch(spark, dir, k, m, beamW, rounds, cells = graphCellsFor(n))
  }

  /** [[lexRankGraph]] under the corpus-adapted GRAPH schedule. */
  def lexRankGraphAuto(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    lexRankGraph(spark, dir, cells = graphCellsFor(n))
  }

  /** The PRODUCTION seed assignment: [[seedAssigned]] at the
    * corpus-adapted [[cellsFor]] cell count (one bounded count against
    * the pushed-down scan prices the sizing). Registered faces keep
    * the literal cells=16 — their oracles replay that constant — and
    * this face is what a deployment calls instead, so raising the
    * corpus 100× raises K with it rather than letting every within-
    * cell quadratic grow unbounded (the one genuine
    * scale-killer-in-waiting the r16 verdict named).
    */
  def seedAssignedAuto(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    seedAssigned(spark, dir, cellsFor(n))
  }

  /** The MEMOIZED seed-cell assignment (vec_id, embedding, cell_id,
    * cos_centroid) every 16-cell face consumes — semantic clusters,
    * label purity, kNN consistency, the outlier audit. Routed through
    * the Frames lifecycle so (a) a query that consumes the frame
    * twice (both sides of a within-cell join) computes it once, and
    * (b) repeated API calls in one session share it instead of
    * re-deriving; the corpus fingerprint / releaseCaches() reclaim it.
    */
  private[graft] def seedAssigned(spark: SparkSession, dir: String,
      cells: Int): DataFrame =
    Dedup.Frames.getOrCompute(spark, s"cellassign:$cells:$dir", dir,
        tables = Seq("embeddings.parquet")) {
      val e = Tables.embeddings(spark, dir)
      assignCells(e, seedCentroids(e, cells))
    }

  /** The per-row `n` nearest centroids, best first: one
    * [[graft.functions.NearestSeed]] expression,
    * array<struct(neg_cos, cell_id)> ordered by (−cos asc, cell_id
    * asc). The ONE definition of "nearest centroids" — the argmax
    * assignment is its first entry and every nprobe probe list its
    * prefix, so "probe rank 1 IS the assignment" holds by
    * construction. The centroid matrix is a reference object of the
    * generated code, never a literal in it, so every K and every
    * centroid set shares one compiled class.
    */
  private[graft] def nearestCells(spark: SparkSession,
      centroids: Array[(Long, Array[Float])], n: Int): Column = {
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.nearestSeed(
      col("embedding"), centroids.map(_._1), centroids.flatMap(_._2), n)
  }

  /** Nearest-centroid cell assignment shared by the IVF paths,
    * [[semanticDedup]], the streaming routers and [[seedAssigned]]: a
    * pure per-row argmax — zero shuffle (the (−cos asc, cell_id asc)
    * order reproduces a window's (cos desc, cell_id asc) tie-break
    * exactly). Adds `cell_id` and `cos_centroid` (the winning rounded
    * cosine).
    */
  private[graft] def assignCells(df: DataFrame, centroids: Array[(Long, Array[Float])]): DataFrame =
    df.withColumn("best_cell", nearestCells(df.sparkSession, centroids, 1).getItem(0))
      .withColumn("cell_id", col("best_cell").getField("cell_id"))
      .withColumn("cos_centroid", -col("best_cell").getField("neg_cos"))
      .drop("best_cell")

  /** The cell-restricted scoring kernel behind every single-cell
    * search face (round-15 review: one definition of the search
    * contract — assignment, query projection, broadcast equi-join,
    * rounded cosine): each query scores only its own cell's members.
    */
  private def cellScored(assigned: DataFrame, isQuery: Column): DataFrame = {
    val queries = assigned.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("cell_id").as("qcell"))
    assigned.join(broadcast(queries),
        col("cell_id") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6))
  }

  private def ivfSearch(e: DataFrame, centroids: Array[(Long, Array[Float])], k: Int,
      isQuery: Column = col("vec_id") < 10): DataFrame =
    rankTopK(cellScored(assignCells(e, centroids).drop("cos_centroid"), isQuery), k)

  /** [[kmeansRefine]] wired into the registered query surface (round-8;
    * the refinement previously existed only as a spec-checked training
    * loop): run Lloyd's for `iters` iterations over the seed centroids,
    * search the SAME IVF tail with the refined set, and report per-query
    * hit counts against brute-force truth for BOTH centroid sets.
    * Returns (query_id, hits_lit, hits_ref). The registered query
    * ([[ivfRefinedReport]]) exposes only the engine-portable literal
    * leg; the refined≥literal comparison lives in ExtSpec (ADVICE r8:
    * Lloyd's improves mean intra-cell distance but does not GUARANTEE
    * aggregate recall@k vs brute force, so baking that empirical claim
    * into a hash-checked column would let a dataset change fail the
    * correctness gate with the code working as designed).
    */
  def ivfRefinedHits(spark: SparkSession, dir: String, k: Int = 3,
      cells: Int = 16, iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    // Queries are vec_id 16..25 — deliberately DISJOINT from the seed
    // centroids (vec_id < 16). Queries that coincide with seed vectors
    // sit exactly on "their" centroid, which makes the unrefined path
    // artificially perfect for them and refinement look like a loss;
    // held-out queries measure what refinement actually changes.
    val isQuery = col("vec_id") >= cells && col("vec_id") < cells + 10
    val seeds: Array[(Long, Array[Float])] = seedCentroids(e, cells)
    val brute = bruteRanked(e, isQuery, k).select(col("query_id"), col("neighbor_id"))
    val literal = ivfSearch(e, seeds, k, isQuery)
      .select(col("query_id"), col("neighbor_id"))
    val (refinedCentroids, _) = kmeansRefine(spark, dir, cells, iters, trackObjectives = false)
    val refined = ivfSearch(e,
        refinedCentroids.map { case (id, v) => (id, v.map(_.toFloat)) }, k, isQuery)
      .select(col("query_id"), col("neighbor_id"))
    def hits(ann: DataFrame, name: String) =
      ann.join(brute, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    e.filter(isQuery).select(col("vec_id").as("query_id"))
      .join(hits(literal, "hits_lit"), Seq("query_id"), "left")
      .join(hits(refined, "hits_ref"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits_lit"), lit(0L)).as("hits_lit"),
        coalesce(col("hits_ref"), lit(0L)).as("hits_ref"))
  }

  /** Registered-query face of [[ivfRefinedHits]]: per held-out query,
    * the literal-centroid IVF recall@k vs brute force — the half whose
    * top-k sets are exact, portable SQL the DuckDB oracle replays
    * verbatim. The refinement leg still executes (kmeansRefine's
    * per-iteration actions and the refined search feed `hits_ref`
    * inside [[ivfRefinedHits]]; kmeansRefine's collects are eager), so
    * the registered entry still prices the refine pipeline; the
    * empirical refined-vs-literal judgment — the only non-portable
    * value — is excluded from the hash gate and asserted at spec level
    * instead (ExtSpec "refined IVF").
    */
  def ivfRefinedReport(spark: SparkSession, dir: String, k: Int = 3,
      cells: Int = 16, iters: Int = 3): DataFrame =
    ivfRefinedHits(spark, dir, k, cells, iters)
      .select(col("query_id"),
        expr(s"CAST(floor(hits_lit * 100 / $k) AS BIGINT)").as("recall_literal_pct"))
      .orderBy(col("query_id"))

  /** The probed candidate frame shared by [[ivfProbeReport]] and
    * [[annNdcgReport]] (one definition of "what nprobe search sees"):
    * each query row explodes into its top-`nprobe` probe cells (the
    * prefix of [[nearestCells]], whose first entry IS [[assignCells]]),
    * candidates come from ONE equi-join on cell_id, and `cos` is the
    * rounded scoring cosine. Columns: query_id, qv, probe_rank,
    * cell_id, vec_id (candidate), cos.
    */
  private def probeCandidates(e: DataFrame, centroids: Array[(Long, Array[Float])],
      isQuery: Column, nprobe: Int): DataFrame = {
    val assigned = assignCells(e, centroids).drop("cos_centroid")
    val probes = e.filter(isQuery)
      .withColumn("probes", nearestCells(e.sparkSession, centroids, nprobe))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        posexplode(col("probes")).as(Seq("pos", "p")))
      .select(col("query_id"), col("qv"),
        (col("pos") + 1).cast("long").as("probe_rank"),
        col("p").getField("cell_id").as("qcell"))
    assigned.join(broadcast(probes),
        col("cell_id") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6))
  }

  /** Every probe face's candidate frame is the PREFIX of one memoized
    * nprobe=[[probeFrameNprobe]] frame: a level-p candidate set is
    * exactly `probe_rank ≤ p` of the widest frame, so the probe
    * report, the nDCG verdict, and the operating curve all ride ONE
    * assignment scan + explode-join per (session, corpus) — the curve
    * (`x_sim_ivf_curve`) is the probe chain's ANCHOR and the nprobe=4
    * faces are prefix-filter riders (review r15: two overlapping memos
    * at nprobe 4 and 8 paid a duplicate scan and ~1.5× duplicated
    * cached candidate rows).
    */
  private[graft] val probeFrameNprobe = 8

  private[graft] def probeCandFrame(spark: SparkSession, dir: String,
      cells: Int, nprobe: Int): DataFrame = {
    require(nprobe <= probeFrameNprobe,
      s"probe faces share one nprobe=$probeFrameNprobe frame; got $nprobe")
    // the table read and the bounded centroid collect run BEFORE the
    // memo call — inside the build they would run their Spark jobs
    // under the global memo lock (the round-6 contention note
    // pairFrameBuild documents; review r15)
    val e = Tables.embeddings(spark, dir)
    val seeds = seedCentroids(e, cells)
    val isQuery = col("vec_id") >= cells && col("vec_id") < cells + 10
    val full = Dedup.Frames.getOrCompute(spark,
        s"probecand:$cells:$probeFrameNprobe:$dir", dir,
        tables = Seq("embeddings.parquet")) {
      probeCandidates(e, seeds, isQuery, probeFrameNprobe)
    }
    if (nprobe >= probeFrameNprobe) full
    else full.filter(col("probe_rank") <= nprobe)
  }

  /** Brute-force truth ranking shared by every recall/nDCG-pricing
    * face — the documented ≤10-broadcast-query corpus scan (the
    * PlanLint allowlist reason) into the bounded top-k with ranks.
    * ONE definition (round-15 review: this leg existed in four
    * copies). At scale the truth leg runs on a query sample exactly
    * like the recall-pricing twins.
    */
  private def bruteRanked(e: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val bq = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    rankTopK(
      e.join(broadcast(bq), col("vec_id") =!= col("query_id"))
        .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6)), k)
  }

  /** Multi-cell probing for the IVF family (x_sim_ivf_probe, round 15)
    * — FAISS's standard recall lever, `nprobe`: a query searches its
    * `nprobe` NEAREST cells instead of only the argmax cell, trading a
    * bounded candidate-set growth (≈ nprobe/cells of the corpus) for
    * the recall lost when a true neighbor sits just across a Voronoi
    * boundary (VERDICT r14 #4; every prior IVF face searched one
    * cell). Per held-out query (vec_id 16..25, the [[ivfRefinedHits]]
    * rationale) the report prices the trade against brute-force truth:
    * candidate counts (the COST) and recall@k (the BENEFIT) for both
    * the single-cell leg and the nprobe=4 leg.
    *
    * Exactness: the probe list is the top-`nprobe` (−cos, cell_id)
    * [[nearestCells]] list whose first entry is [[assignCells]] —
    * probe rank 1 IS the classic assignment, so the single-cell leg is
    * [[ivfSearch]] by construction; index vectors live in exactly one
    * cell and probe cells are distinct, so no candidate duplicates
    * exist and every leg is exact portable SQL (hash-gated, the
    * x_sim_ivf_refined convention). Recall@k ≥ single-cell is a
    * THEOREM, not an empirical claim: a global-top-k member t in a
    * candidate set always survives that set's top-k (fewer than k
    * corpus vectors beat t, so fewer than k candidates do), hence
    * hits(S) = |S ∩ global-top-k| — monotone in the candidate set, and
    * the probe set is a superset of the argmax cell. ExtSpec asserts
    * it per query; unlike Lloyd's-refinement recall (ADVICE r8) this
    * CAN sit in the hash gate, because it holds for every dataset.
    *
    * 100 TB shape: queries explode into ≤|Q|·nprobe broadcast rows;
    * candidates stay an equi-join on cell_id (the shuffle key a real
    * deployment buckets by); ranking is the bounded top-k aggregate.
    * The brute truth leg is the documented ≤10-broadcast-query scan
    * (PlanLint allowlist, x_sim_ivf_refined's reason) — at scale the
    * truth leg runs on a query sample exactly like the recall-pricing
    * twins.
    */
  def ivfProbeReport(spark: SparkSession, dir: String, k: Int = 3,
      cells: Int = 16, nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val isQuery = col("vec_id") >= cells && col("vec_id") < cells + 10
    val cand = probeCandFrame(spark, dir, cells, nprobe)
    val top1 = rankTopK(cand.filter(col("probe_rank") === 1), k)
      .select(col("query_id"), col("neighbor_id"))
    val topP = rankTopK(cand, k).select(col("query_id"), col("neighbor_id"))
    val brute = bruteRanked(e, isQuery, k)
      .select(col("query_id"), col("neighbor_id"))
    def hits(ann: DataFrame, name: String) =
      ann.join(brute, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
    val cost1 = cand.filter(col("probe_rank") === 1)
      .groupBy(col("query_id")).agg(count(lit(1)).as("c1"))
    val costP = cand.groupBy(col("query_id")).agg(count(lit(1)).as("cp"))
    e.filter(isQuery).select(col("vec_id").as("query_id"))
      .join(cost1, Seq("query_id"), "left")
      .join(costP, Seq("query_id"), "left")
      .join(hits(top1, "h1"), Seq("query_id"), "left")
      .join(hits(topP, "hp"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("c1"), lit(0L)).as("cand_1"),
        coalesce(col("cp"), lit(0L)).as("cand_probe"),
        expr(s"CAST(floor(coalesce(h1, 0) * 100 / $k) AS BIGINT)").as("recall_1_pct"),
        expr(s"CAST(floor(coalesce(hp, 0) * 100 / $k) AS BIGINT)").as("recall_probe_pct"))
      .orderBy(col("query_id"))
  }

  /** Recall-vs-nprobe tuning curve (`x_sim_ivf_curve`, round 15) —
    * FAISS's standard IVF operating-point sweep (the `nprobe`
    * parameter of `IndexIVF::search`), computed from ONE assignment
    * scan: the nprobe=8 candidate frame tags every candidate with its
    * cell's probe rank, and the level-p candidate set is exactly the
    * prefix `probe_rank ≤ p` — so the whole {1, 2, 4, 8} curve prices
    * a single explode-join plus four bounded top-k re-ranks, not four
    * assignment scans. Per level: total candidates scanned (the cost
    * axis) and truth hits against the shared [[bruteRanked]] top-k
    * (the recall axis), recall_pct = hits·100 div (n_queries·k).
    * Recall is NON-DECREASING in nprobe up to cosine rounding ties: a
    * candidate displacing a truth item from a level's top-k must
    * out-rank it under (cos DESC, id ASC), and brute ranks under the
    * same order, so the displacer is itself truth — asserted in spec,
    * and the curve's POINT is showing where it saturates. Like every
    * recall-pricing face, the truth leg is the documented
    * ≤10-broadcast-query scan (query-sample pricing at scale).
    */
  def ivfProbeCurve(spark: SparkSession, dir: String, k: Int = 3,
      cells: Int = 16, probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val isQuery = col("vec_id") >= cells && col("vec_id") < cells + 10
    // The recall denominator must track the ACTUAL query population:
    // the oracle hardcodes the matching literal (nq·k = 30), so a
    // caller raising `cells` near the corpus size (leaving [cells,
    // cells+10) underpopulated) would silently misprice recall_pct on
    // BOTH engines and the hash gate could not catch it (ADVICE r15).
    // Deriving nq and requiring the full population fails loudly
    // instead — one bounded count over the pushed-filter scan.
    val nq = e.filter(isQuery).count()
    require(nq == 10L,
      s"recall denominator expects the held-out range [$cells, ${cells + 10}) " +
        s"fully populated (10 query vectors); found $nq — raise the corpus or lower `cells`")
    val cand = probeCandFrame(spark, dir, cells, probes.max)
    val brute = bruteRanked(e, isQuery, k).select(col("query_id"), col("neighbor_id"))
    val legs = probes.map { p =>
      val cp = cand.filter(col("probe_rank") <= p)
      val hits = rankTopK(cp, k).select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"))
      val cq = cp.groupBy(col("query_id")).agg(count(lit(1)).as("nc"))
      val hq = hits.groupBy(col("query_id")).agg(count(lit(1)).as("nh"))
      cq.join(hq, Seq("query_id"), "left")
        .agg(sum(col("nc")).as("n_cand"),
          sum(coalesce(col("nh"), lit(0L))).as("n_hits"))
        .select(lit(p.toLong).as("nprobe"), col("n_cand"), col("n_hits"),
          expr(s"n_hits * 100 DIV ${nq * k}").as("recall_pct"))
    }
    legs.reduce(_.unionByName(_)).orderBy(col("nprobe"))
  }

  /** Binary-relevance DCG discounts in integer micro-units,
    * w(r) = round(10⁶ / log₂(r + 1)) for ranks 1..8 — precomputed
    * literals (NOT runtime log calls: libm's last bits are
    * platform-specific, and a literal table is what both engines can
    * replay bit-identically). Single source for the engine CASE
    * expression and the oracle's CASE text.
    */
  private[graft] val ndcgDiscountMicro: Seq[Long] =
    Seq(1000000L, 630930L, 500000L, 430677L, 386853L, 356207L, 333333L, 315465L)

  /** nDCG@k ranking-quality verdict for the IVF ladder (x_rank_ndcg)
    * — recall@k (x_sim_ivf_probe) counts how many true neighbors a
    * method finds; nDCG@k (Järvelin & Kekäläinen, TOIS 2002) also
    * prices WHERE it puts them, which is what a retrieval consumer
    * (hard-negative mining, RAG context packing) actually feels.
    * Relevance is binary membership in the brute-force top-k; the
    * discount is the standard 1/log₂(r+1) as a literal micro-unit
    * table ([[ndcgDiscountMicro]]); per method, DCG = Σ w(rank) over
    * its hits and nDCG = DCG·10⁶ div IDCG with IDCG = Σ_{r≤k} w(r)
    * (all truth items rankable at the top — binary gains).
    *
    * Three legs per held-out query (vec_id 16..25): the single-cell
    * IVF ranking, the nprobe=4 probed ranking (both off the SAME
    * [[probeCandidates]] frame the probe verdict prices), and the
    * brute ranking itself — whose nDCG is 10⁶ by construction (its
    * ranked list IS the truth set at ranks 1..k), kept as a computed
    * anchor, not a literal, so a ranking bug fails the hash gate.
    * Probe-vs-single nDCG dominance is NOT a theorem (a wider
    * candidate set can demote an already-found truth item below a
    * newly admitted better one, trading rank for recall), so the
    * registered output is the deterministic per-query values and the
    * bound theorems live in ExtSpec (hits·w(k) ≤ DCG ≤ hits·w(1)).
    *
    * Determinism: ranks are small integers off pre-rounded cosines
    * with vec_id tie-break (the rankTopK contract), discounts are
    * shared literals, DCG is an integer sum, and nDCG is one
    * truncating division — bit-identical cross-engine. 100 TB shape:
    * rides probeCandidates' equi-join + bounded top-k aggregates; the
    * brute truth leg is the documented ≤10-broadcast-query scan of
    * every recall-pricing twin.
    */
  def annNdcgReport(spark: SparkSession, dir: String, k: Int = 3,
      cells: Int = 16, nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    require(k <= ndcgDiscountMicro.length, s"discount table covers ranks 1..${ndcgDiscountMicro.length}")
    val e = Tables.embeddings(spark, dir)
    val isQuery = col("vec_id") >= cells && col("vec_id") < cells + 10
    val cand = probeCandFrame(spark, dir, cells, nprobe) // memoized — probe-chain rider
    val top1 = rankTopK(cand.filter(col("probe_rank") === 1), k)
    val topP = rankTopK(cand, k)
    val bruteRk = bruteRanked(e, isQuery, k)
    val truth = bruteRk.select(col("query_id"), col("neighbor_id"))
    val disc = ndcgDiscountMicro.take(k).zipWithIndex
      .foldLeft(when(lit(false), lit(0L))) { case (w, (d, i)) =>
        w.when(col("rk") === (i + 1), lit(d))
      }.otherwise(lit(0L))
    val idcg = ndcgDiscountMicro.take(k).sum
    def dcg(ann: DataFrame, name: String) =
      ann.join(truth, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(sum(disc).as(name))
    e.filter(isQuery).select(col("vec_id").as("query_id"))
      .join(dcg(top1, "d1"), Seq("query_id"), "left")
      .join(dcg(topP, "dp"), Seq("query_id"), "left")
      .join(dcg(bruteRk, "db"), Seq("query_id"), "left")
      .select(col("query_id"),
        expr(s"coalesce(d1, 0) * 1000000 div $idcg").as("ndcg_1"),
        expr(s"coalesce(dp, 0) * 1000000 div $idcg").as("ndcg_probe"),
        expr(s"coalesce(db, 0) * 1000000 div $idcg").as("ndcg_brute"))
      .orderBy(col("query_id"))
  }

  /** Scalar-quantized (int8) ANN: a per-dimension symmetric scale
    * s_j = max(|min_j|, |max_j|) over the corpus maps each float
    * dimension onto −127..127 (q = ⌊x/s·127 + ½⌋ — half-up on both
    * engines); top-k then ranks by the INTEGER dot product of the
    * codes. This is the memory-bandwidth play every production vector
    * store makes (FAISS SQ8, Lucene/Elasticsearch int8_hnsw): 4×
    * smaller vectors → 4× more corpus per executor-memory byte and per
    * scan, at a small recall cost. The scale must be symmetric (no
    * offset): an affine min/max map adds a per-dim bias to every code,
    * and the biases — not the signal — then dominate the raw-code dot
    * product (measured: 2/30 top-3 agreement with float ranking vs
    * 30/30 for the symmetric form at sf0.001). Unlike float scoring,
    * integer arithmetic is exactly reproducible cross-engine, so this
    * entry is hash-checked against the oracle; recall vs float brute
    * force is spec-checked.
    *
    * Scale shape: the per-dim stats are one narrow posexplode +
    * 64-group aggregate, collected once (dims × 8 B — bounded like the
    * IVF centroid fetch) and inlined as literals, so quantization is
    * pure per-row codegen work with zero shuffle; scoring reuses the
    * broadcast-queries + bounded-top-k tail of the float paths.
    */
  def quantizedTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val scales = e.select(posexplode(col("embedding").cast("array<double>")).as(Seq("j", "x")))
      .groupBy(col("j"))
      .agg(greatest(abs(min(col("x"))), abs(max(col("x")))).as("s"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    val sLit = typedLit(scales)
    // the expression tree mirrors the oracle token-for-token so the
    // IEEE double intermediate — and hence the floor — is bit-identical.
    // A constant-zero dimension (s = 0) quantizes to 0.
    val quantized = transform(col("embedding").cast("array<double>"), (x, j) =>
      coalesce(
        floor(x / nullif(element_at(sLit, (j + 1).cast("int")), lit(0.0)) * lit(127) + lit(0.5)),
        lit(0L)))
    val q = e.select(col("vec_id"), quantized.as("qv"))
    val queries = q.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    val scored = q.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("ip", graft.functions.GraftFunctions.dotLong(col("qq"), col("qv")))
    // integer scores are exact in the double the top-k aggregate carries
    // (codes span −127..127, so max possible ip = 64 · 127² ≈ 1.0e6 ≪ 2⁵³)
    scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKByScore(col("ip").cast("double"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("neighbor_id"), col("s.score").cast("long").as("ip"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF-PQ ANN (x_sim_pq): the FAISS IVF-PQ composition — coarse cell
    * restriction (the [[assignCells]] nearest-centroid argmax shared
    * with [[ivfTopK]]) + product-quantized codes scored by asymmetric
    * distance (ADC, Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011). This is THE 100 TB vector-search
    * layout: each 64-dim float vector (256 B) compresses to m=8
    * one-byte codes (32×), so an executor holds 32× more corpus per
    * memory byte and the scan moves 32× fewer bytes; the query keeps
    * full precision and ranks candidates by its distance to each
    * candidate's codebook RECONSTRUCTION.
    *
    * Engine-portable by construction, same playbook as the IVF/SQ8
    * entries: codebooks are the m subvectors of the ksub seed rows
    * (vec_id < ksub — deterministic, literal-inlined; the k-means-
    * trained variant is the documented swap, same as ivfTopK's
    * seed-vs-kmeansRefine split), encoding is a per-row argmin over
    * ROUNDED squared-L2 distances (ties to the smallest code), and ADC
    * scores are rounded before ranking so a 1-ulp accumulation drift
    * cannot flip a rank. All distances run through the fused codegen
    * [[graft.functions.SqDistL2]], whose ‖a‖²−2a·b+‖b‖² form matches
    * the oracle's three `list_dot_product` calls token-for-token.
    *
    * Scale shape: seed fetch is one bounded ksub-row collect (the IVF
    * centroid fetch); encoding and cell assignment are pure per-row
    * codegen over literals — zero shuffle; scoring joins candidates to
    * the ≤10 broadcast queries EQUI on cell_id (no lint exception
    * needed — the cell restriction is the point of IVF); the top-k tail
    * is the bounded TopKByScore aggregate (k rows per partition per
    * query shuffle, whatever the corpus size). At 100 TB the codes
    * column (8 B/row) is the only per-candidate state the scorer
    * touches, and the per-query recon distances fold into m lookup
    * tables of ksub entries computed once per query.
    */
  /** PQ encoding shared by [[pqTopK]] and the spec: returns the corpus
    * frame extended with `cell_id` (coarse IVF assignment) and `codes`
    * (m PQ codes per row), plus the literal codebooks —
    * codebooks(j)(c) = dims [j·sub, (j+1)·sub) of seed row c.
    * Encoding is a per-row argmin over ROUNDED squared-L2 distances to
    * the literal codebook (ties to the smallest code) — zero shuffle.
    */
  private[graft] def pqEncoded(spark: SparkSession, dir: String,
      m: Int, ksub: Int): (DataFrame, Array[Array[Array[Double]]]) = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val seeds: Array[Array[Float]] = e.filter(col("vec_id") < ksub)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val sub = dim / m
    val codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(_.slice(j * sub, (j + 1) * sub).map(_.toDouble)))
    val vd = col("embedding").cast("array<double>")
    // compiled per-row argmin (round 21): bit-equal to the m·ksub
    // literal `array_min(struct(round(sq_dist_l2(slice…)), code))` form
    // it replaces ([[graft.functions.PqEncode]]'s contract, spec-
    // asserted) — (dist ASC, code ASC), SqDistL2 accumulation order,
    // round-6 before compare. The literal form generated fresh janino
    // source per book set and hits the 64 KB codegen wall at
    // production m·ksub — the cliff NearestSeed retired for coarse
    // assignment (VERDICT r20 #1).
    val encoded = assignCells(e, seeds.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .drop("cos_centroid")
      .withColumn("codes",
        graft.functions.GraftFunctions.pqEncode(vd, m, ksub, flatBooks(codebooks)))
    (encoded, codebooks)
  }

  /** Row-major [j][c][d] flattening of a PQ codebook array — the
    * layout [[graft.functions.PqEncode]]/[[graft.functions.AdcScore]]
    * index as (j·ksub + c)·sub + d.
    */
  private def flatBooks(cb: Array[Array[Array[Double]]]): Array[Double] =
    cb.flatMap(_.flatMap(_.toSeq))

  /** ADC reconstruction of the `codes` column against literal
    * codebooks — per-row, zero shuffle. Since round 21 the search
    * faces score through the compiled [[graft.functions.AdcScore]]
    * kernel (no reconstruction array allocated); this literal form
    * remains the spec's independent reference (bit-equality assertion)
    * and the error-metric helper's basis.
    */
  private def pqRecon(cb: Array[Array[Array[Double]]],
      codesCol: String = "codes"): Column =
    concat(cb.indices.map { j =>
      element_at(typedLit(cb(j).map(_.toIndexedSeq).toIndexedSeq),
        (element_at(col(codesCol), j + 1) + 1).cast("int"))
    }: _*)

  def pqTopK(spark: SparkSession, dir: String, k: Int = 3,
      m: Int = 8, ksub: Int = 16): DataFrame = {
    val (encoded, codebooks) = pqEncoded(spark, dir, m, ksub)
    // ADC via the compiled kernel (round 21): scores the full-precision
    // query against the candidate's codebook reconstruction straight
    // from the codes — bit-equal to the
    // `round(sq_dist_l2(qv, concat(element_at…)), 6)` form it replaces
    // ([[graft.functions.AdcScore]]'s contract, spec-asserted), without
    // allocating a dim-element reconstruction array per joined row
    val vd = col("embedding").cast("array<double>")
    val queries = encoded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), vd.as("qv"), col("cell_id").as("qcell"))
    val scored = encoded
      .join(broadcast(queries),
        col("cell_id") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("d2", graft.functions.GraftFunctions
        .adcScore(col("qv"), col("codes"), m, ksub, flatBooks(codebooks)))
    // TopKByScore ranks (score DESC, id ASC); negating gives (d2 ASC, id ASC)
    scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKByScore(-col("d2"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("neighbor_id"), (-col("s.score")).as("d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF-PQ with TRAINED codebooks (x_sim_ivf_pq): [[pqTopK]]'s
    * FAISS composition upgraded from seed-subvector codebooks to ONE
    * deterministic Lloyd's step of PQ training — per (subspace, code),
    * the new codebook entry is the element-wise MEAN of the
    * subvectors the seed encoding assigned to that code (Jégou et
    * al.'s k-means-per-subspace, the step FAISS's `ProductQuantizer
    * ::train` iterates), then the corpus re-encodes against the
    * trained books and ADC scoring runs inside the query's IVF cell.
    * Lloyd's monotonicity makes the upgrade a theorem, not a hope:
    * means minimize summed squared distance for a fixed assignment,
    * and re-encoding only ever switches a row to a nearer code, so
    * total reconstruction error weakly DECREASES vs the seed books
    * (asserted in ExtSpec, with recall reported against both parent
    * entries). Coarse cells stay seed-centroid (the IVF/PQ quantizers
    * are independent in FAISS too); encoding the residual v−centroid
    * instead of v is the documented production refinement.
    *
    * Determinism contract: subvector elements quantize to integer
    * micro-units (floor(x·10⁶ + 0.5)) BEFORE the mean, so each
    * codebook entry is an exact integer sum divided once —
    * order-immune, identical doubles on both engines (the
    * [[graft.ext.Corpus]] micro-nat convention applied to k-means,
    * same discipline as `x_embed_pca`'s Gram accumulation). A code
    * left empty by the seed encoding keeps its seed entry (Lloyd's
    * empty-cluster convention).
    *
    * Scale shape: training collapses to ONE m·ksub·sub-row aggregate
    * (8·16·8 = 1024 rows here) with map-side partials over the
    * corpus-token-sized explode — the corpus itself never shuffles;
    * the bounded collect inlines the trained books as literals
    * (seedCentroids' sanctioned k·dim fetch); re-encode and ADC are
    * pure per-row codegen; the scoring join is EQUI on cell_id with
    * the bounded TopKByScore tail. At 100 TB you iterate the same
    * aggregate `iters` times — cost is linear in iterations, the
    * [[kmeansRefine]] measurement.
    */
  def ivfPqTrainedTopK(spark: SparkSession, dir: String, k: Int = 3,
      m: Int = 8, ksub: Int = 16): DataFrame = {
    val (enc1, trained) = pqTrained(spark, dir, m, ksub)
    val vd = col("embedding").cast("array<double>")
    val queries = enc1.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), vd.as("qv"), col("cell_id").as("qcell"))
    val scored = enc1
      .join(broadcast(queries),
        col("cell_id") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("d2", graft.functions.GraftFunctions
        .adcScore(col("qv"), col("codes"), m, ksub, flatBooks(trained)))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKByScore(-col("d2"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("neighbor_id"), (-col("s.score")).as("d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The training step behind [[ivfPqTrainedTopK]]: the corpus
    * re-encoded against one-Lloyd's-step codebooks, plus the trained
    * books themselves (exposed for the ExtSpec monotonicity and
    * recall assertions).
    */
  private[graft] def pqTrained(spark: SparkSession, dir: String,
      m: Int, ksub: Int): (DataFrame, Array[Array[Array[Double]]]) = {
    val (encoded, codebooks) = pqEncoded(spark, dir, m, ksub)
    val sub = codebooks(0)(0).length
    // one Lloyd's step: integer micro-unit sums per (subspace, code,
    // dim) — the 1024-row bounded aggregate described above. With the
    // compiled PqEncode kernel the codes column and the element
    // explode live in ONE stage (round 21): the r13-era elems⋈codes
    // vec_id join — introduced only because the 128-SqDistL2 literal
    // encode overflowed janino's 64 KB limit inside a Generate stage —
    // is gone, removing both of its exchanges. Integer sums are
    // order-free, so the trained books are bit-identical.
    val sums = encoded
      .select(col("codes"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("g", "x")))
      .select(expr(s"g div $sub").cast("int").as("j"),
        expr(s"g % $sub").cast("int").as("d"),
        floor(col("x") * 1e6 + 0.5).cast("long").as("qx"), col("codes"))
      .select(col("j"), element_at(col("codes"), col("j") + 1).as("code"),
        col("d"), col("qx"))
      .groupBy(col("j"), col("code"), col("d"))
      .agg(sum(col("qx")).as("sq"), count(lit(1)).as("n"))
      .collect() // bounded: m·ksub·sub rows
    val trained: Array[Array[Array[Double]]] =
      Array.tabulate(m, ksub, sub)((j, c, d) => codebooks(j)(c)(d))
    sums.foreach { r =>
      trained(r.getInt(0))(r.getAs[Number](1).intValue())(r.getInt(2)) =
        r.getLong(3).toDouble / (r.getLong(4).toDouble * 1e6)
    }
    val vd = col("embedding").cast("array<double>")
    val enc1 = encoded.drop("codes")
      .withColumn("codes",
        graft.functions.GraftFunctions.pqEncode(vd, m, ksub, flatBooks(trained)))
    (enc1, trained)
  }

  /** Reconstruction-error comparison behind the ExtSpec monotonicity
    * assertion: total rounded ADC self-reconstruction error of the
    * corpus under codebooks `cb`, given a `codes` column already
    * encoded against them.
    */
  private[graft] def pqReconError(encoded: DataFrame,
      cb: Array[Array[Array[Double]]]): Double = {
    val sq = graft.functions.GraftFunctions.sqDistL2 _
    encoded
      .select(sq(col("embedding").cast("array<double>"), pqRecon(cb)).as("d2"))
      .agg(coalesce(sum(col("d2")), lit(0.0))).head().getDouble(0)
  }

  /** Argmin PQ code of subspace `j` of the `resid` column against
    * literal books — (rounded dist ASC, code ASC). Since round 21 the
    * hot paths encode through the compiled
    * [[graft.functions.PqEncode]] kernel; this literal-expression form
    * is retained as the independent REFERENCE the spec's
    * bit-equality assertion compares the kernel against (the
    * kernel-vs-literal-reference convention the NearestSeed specs
    * follow).
    */
  private[graft] def residCodeFor(bk: Array[Array[Array[Double]]])(j: Int): Column = {
    val sq = graft.functions.GraftFunctions.sqDistL2 _
    val sub = bk(0)(0).length
    array_min(array(bk(j).indices.map { c =>
      struct(round(sq(slice(col("resid"), j * sub + 1, sub),
        typedLit(bk(j)(c).toIndexedSeq)), 6).as("d"),
        lit(c).as("c"))
    }: _*)).getField("c")
  }

  /** Row-local IVF-PQ INDEXING of a vector frame against a standing
    * index's literal artifacts — the streaming ANN router (this def on
    * a streaming frame) and the spec's batch-agreement assertion:
    * assign the coarse cell (nearest-centroid argmax), form the
    * residual, encode the residual against the literal trained books,
    * and report the per-row ADC quantization error. Pure projection: no
    * state, no shuffle, no join — exactly what FAISS `IndexIVFPQ::add`
    * does per vector.
    */
  private[graft] def annEncodeFor(vectors: DataFrame,
      centroids: Array[(Long, Array[Float])],
      books: Array[Array[Array[Double]]]): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val m = books.length
    val centsD: Array[Array[Double]] = centroids.sortBy(_._1).map(_._2.map(_.toDouble))
    val vd = col("embedding").cast("array<double>")
    val cv = element_at(typedLit(centsD.map(_.toIndexedSeq).toIndexedSeq),
      col("cell_id").cast("int") + 1)
    val ksub = books(0).length
    assignCells(vectors, centroids).drop("cos_centroid")
      .withColumn("resid", zip_with(vd, cv, (a, b) => a - b))
      .withColumn("rcodes", graft.functions.GraftFunctions
        .pqEncode(col("resid"), m, ksub, flatBooks(books)))
      .withColumn("q_err", graft.functions.GraftFunctions
        .adcScore(col("resid"), col("rcodes"), m, ksub, flatBooks(books)))
  }

  /** Residual-space reconstruction error for [[pqResidualTrained]]'s
    * encodings — the quantity each Lloyd's iteration weakly decreases
    * (ExtSpec asserts the whole seed → iter1 → … → iterN chain).
    */
  private[graft] def pqResidReconError(encoded: DataFrame,
      cb: Array[Array[Array[Double]]]): Double = {
    val sq = graft.functions.GraftFunctions.sqDistL2 _
    encoded
      .select(sq(col("resid"), pqRecon(cb, "rcodes")).as("d2"))
      .agg(coalesce(sum(col("d2")), lit(0.0))).head().getDouble(0)
  }

  /** IVF-PQ with RESIDUAL encoding, iterated training, and an exact
    * re-rank tail (x_sim_ivf_pq, round 14 — the three production
    * refinements VERDICT r13 task 5 named, composing FAISS's
    * `IndexIVFPQ` + `IndexRefineFlat`):
    *
    *   1. RESIDUALS: PQ codes quantize v − centroid(cell) instead of v
    *      (FAISS `by_residual`, the default) — residuals cluster
    *      around 0 with far less variance than raw vectors, so the
    *      same code budget buys lower quantization error. ADC then
    *      scores ‖(q − centroid) − recon‖², algebraically the full
    *      ‖q − (centroid + recon)‖².
    *   2. ITERATED Lloyd's: the bounded m·ksub·sub training aggregate
    *      of [[pqTrained]] runs `iters` times (assign → means →
    *      re-assign), each step covered by the monotonicity theorem
    *      the ExtSpec asserts across ALL steps. Seed books are the
    *      residual subvectors of rows [ksub, 2·ksub) — the first ksub
    *      rows ARE the coarse centroids, so their residuals are
    *      exactly 0 and would seed degenerate books.
    *   3. REFINE: ADC produces a k·`refine` shortlist per query, and
    *      only the shortlist is re-scored at full precision (an
    *      equi-join of ≤ |queries|·k·refine rows against the exact
    *      vectors) — FAISS `IndexRefineFlat`, which buys back most of
    *      the quantization recall at a cost independent of corpus
    *      size. The reported d2 is the EXACT distance.
    *
    * Determinism: residual subtraction is exact IEEE on both engines;
    * training means use the integer micro-unit sums of [[pqTrained]];
    * each iteration's oracle twin is one more unrolled CTE block (the
    * x_quality_train 8-step-GD convention). Scale shape: everything
    * [[ivfPqTrainedTopK]] had, ×iters on the bounded aggregate, plus
    * one bounded-shortlist equi-join — the corpus still never
    * shuffles.
    */
  def ivfPqResidualTopK(spark: SparkSession, dir: String, k: Int = 3,
      m: Int = 8, ksub: Int = 16, iters: Int = 2, refine: Int = 4): DataFrame = {
    val sq = graft.functions.GraftFunctions.sqDistL2 _
    val (enc, books, _) = pqResidualTrained(spark, dir, m, ksub, iters)
    val vd = col("embedding").cast("array<double>")
    val queries = enc.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), vd.as("qv"),
        col("resid").as("qres"), col("cell_id").as("qcell"))
    // ADC via the compiled kernel (round 21) — bit-equal to the
    // pqRecon + round(sq_dist_l2) form ([[graft.functions.AdcScore]]),
    // no per-row reconstruction array
    val scored = enc
      .join(broadcast(queries),
        col("cell_id") === col("qcell") && col("vec_id") =!= col("query_id"))
      .withColumn("d2a", graft.functions.GraftFunctions
        .adcScore(col("qres"), col("rcodes"), m, ksub, flatBooks(books)))
    val shortlist = scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(-col("d2a"), col("vec_id"), k * refine).as("top"))
      .select(col("query_id"), explode(col("top")).as("s"))
      .select(col("query_id"), col("s.id").as("neighbor_id"))
    val exact = shortlist
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id").as("neighbor_id"), vd.as("nv")), "neighbor_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .withColumn("d2", round(sq(col("qv"), col("nv")), 6))
    exact.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(-col("d2"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("neighbor_id"), (-col("s.score")).as("d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Multi-cell probing for the residual IVF-PQ search
    * (x_sim_ivf_pq_probe, round 15 — FAISS `IndexIVFPQ` with
    * `nprobe > 1`, composing the round's two threads: the `nprobe`
    * lever `ivfProbeReport` priced on IVF-flat, applied to the
    * trained residual pipeline of [[ivfPqResidualTopK]]):
    *
    *   - each query probes its `nprobe` nearest cells — the probe
    *     list is the top-`nprobe` prefix of the SAME sorted
    *     (−cos, cell_id) array the argmax assignment reduces, so
    *     nprobe=1 IS the single-cell search (spec-asserted
    *     bit-identical to [[ivfPqResidualTopK]]);
    *   - by-residual semantics per probe (what FAISS does): the
    *     query's residual is taken against EACH probed cell's
    *     centroid, q_res(p) = q − centroid_p, because candidate codes
    *     in cell p quantize residuals w.r.t. centroid_p — ADC compares
    *     like with like, ‖q_res(p) − recon(n)‖² ≈ ‖q − (centroid_p +
    *     recon(n))‖²;
    *   - the ADC shortlist (k·`refine`, bounded aggregate) now draws
    *     from all probed cells, and the exact re-rank tail is
    *     unchanged. A vector lives in exactly one cell, so probing
    *     never duplicates a candidate.
    *
    * Unlike the IVF-flat probe report, final-recall dominance in
    * `nprobe` is NOT a theorem here: the shortlist ranks by
    * APPROXIMATE (ADC) distance, so a wider candidate set can push a
    * true neighbor out of the k·refine shortlist before the exact
    * tail sees it. The registered query therefore exposes only the
    * deterministic search result (the x_sim_ivf_pq schema, fully
    * hash-gated); the measured probe-vs-single-cell comparison lives
    * in the spec (the ADVICE r8 empirical/theorem split).
    *
    * Queries are vec_id ∈ [qLo, qHi) = [32, 42) by default — held out
    * from BOTH training roles (coarse seeds are vec_id < 16, residual
    * book seeds are [16, 32)). x_sim_ivf_pq's centroid-row queries
    * (vec_id < 10) would make probing a no-op by construction: a
    * centroid's own cell IS the set of corpus vectors nearest it, so
    * its exact top-k already lives there (measured: identical output
    * at sf0.01 AND sf0.1) — the same held-out reasoning
    * [[ivfRefinedHits]] documents for its query range. For held-out
    * queries the probed result genuinely moves (sf0.1: per-query top-3
    * agreement with the single-cell leg is 0–2 of 3).
    *
    * Scale shape: identical to [[ivfPqResidualTopK]] except the
    * candidate equi-join fans out ×nprobe on the query side (queries ×
    * nprobe broadcast rows) — corpus-side cost grows only by the
    * extra cells actually scanned, the exact trade `nprobe` exists to
    * price.
    */
  def ivfPqResidualProbeTopK(spark: SparkSession, dir: String, k: Int = 3,
      m: Int = 8, ksub: Int = 16, iters: Int = 2, refine: Int = 4,
      nprobe: Int = 4, qLo: Long = 32, qHi: Long = 42): DataFrame = {
    val sq = graft.functions.GraftFunctions.sqDistL2 _
    val (enc, books, centsD) = pqResidualTrained(spark, dir, m, ksub, iters)
    // centsD is the seed set sorted by cell id with exact float→double
    // widening, so narrowing back to float is lossless and the probe
    // ranking below scores the SAME centroids the assignment did
    val seeds: Array[(Long, Array[Float])] =
      centsD.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
    val vd = col("embedding").cast("array<double>")
    val e = Tables.embeddings(spark, dir)
    val isQuery = col("vec_id") >= qLo && col("vec_id") < qHi
    val probes = e.filter(isQuery)
      .withColumn("probes", nearestCells(spark, seeds, nprobe))
      .select(col("vec_id").as("query_id"), vd.as("qv"),
        posexplode(col("probes")).as(Seq("pos", "p")))
      .select(col("query_id"), col("qv"), col("p").getField("cell_id").as("pcell"))
      .withColumn("qres", zip_with(col("qv"),
        element_at(typedLit(centsD.map(_.toIndexedSeq).toIndexedSeq),
          col("pcell").cast("int") + 1), (a, b) => a - b))
    val scored = enc
      .join(broadcast(probes),
        col("cell_id") === col("pcell") && col("vec_id") =!= col("query_id"))
      .withColumn("d2a", graft.functions.GraftFunctions
        .adcScore(col("qres"), col("rcodes"), m, ksub, flatBooks(books)))
    val shortlist = scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(-col("d2a"), col("vec_id"), k * refine).as("top"))
      .select(col("query_id"), explode(col("top")).as("s"))
      .select(col("query_id"), col("s.id").as("neighbor_id"))
    val exact = shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), vd.as("nv")), "neighbor_id")
      .join(broadcast(e.filter(isQuery)
        .select(col("vec_id").as("query_id"), vd.as("qv"))), "query_id")
      .withColumn("d2", round(sq(col("qv"), col("nv")), 6))
    exact.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(-col("d2"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("neighbor_id"), (-col("s.score")).as("d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The MEMOIZED residual-PQ training artifact — (coarse seeds,
    * trained books) through the sanctioned [[Dedup.Frames]] value memo
    * (the kpp/qualityWeights convention, VERDICT r15 task 1): the
    * artifact is bounded (ksub·dim floats + m·ksub·sub doubles) and
    * deterministic (integer micro-unit means), so the search face
    * (`x_sim_ivf_pq`), its nprobe face (`x_sim_ivf_pq_probe`), and
    * the streaming router ([[annEncodeFor]]'s literal books) share ONE
    * `iters`-iteration Lloyd's run per (session, corpus) instead of
    * each paying the 2-iteration join+aggregate+collect loop
    * (measured r15: 4.74 + 4.58 s for two identical trainings).
    * The residual FRAME is deliberately NOT part of the artifact —
    * see the recompute note in [[pqResidualTrained]].
    */
  private[graft] def pqTrainedBooks(spark: SparkSession, dir: String,
      m: Int, ksub: Int, iters: Int):
      (Array[(Long, Array[Float])], Array[Array[Array[Double]]]) =
    Dedup.Frames.getOrComputeValue(spark, s"pqbooks:$m:$ksub:$iters:$dir", dir,
        tables = Seq("embeddings.parquet")) {
      graft.functions.GraftFunctions.register(spark)
      val e = Tables.embeddingsWide(spark, dir) // see pqResidualTrained
      val seeds: Array[(Long, Array[Float])] = seedCentroids(e, ksub)
      val centsD: Array[Array[Double]] = seeds.sortBy(_._1).map(_._2.map(_.toDouble))
      val dim = centsD.head.length
      require(dim % m == 0, s"dim $dim must be divisible by m=$m")
      val sub = dim / m
      val vd = col("embedding").cast("array<double>")
      val cv = element_at(typedLit(centsD.map(_.toIndexedSeq).toIndexedSeq),
        col("cell_id").cast("int") + 1)
      val withResid = assignCells(e, seeds).drop("cos_centroid")
        .withColumn("resid", zip_with(vd, cv, (a, b) => a - b))
      // seed books: residuals of rows [ksub, 2·ksub) — row c's subvectors
      // become code c of every subspace (rows < ksub ARE the centroids;
      // their residuals are identically 0)
      val seedRes: Array[Array[Double]] = withResid
        .filter(col("vec_id") >= ksub && col("vec_id") < 2L * ksub)
        .select(col("vec_id"), col("resid")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
      require(seedRes.length == ksub, s"need rows [${ksub}, ${2 * ksub}) as residual seeds")
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m, ksub)((j, c) => seedRes(c).slice(j * sub, (j + 1) * sub))
      for (_ <- 1 to iters) {
        // compiled-kernel encode + explode in ONE stage (round 21):
        // the elems⋈codes vec_id join — needed only while the literal
        // 128-SqDistL2 encode could not live inside a Generate stage
        // without overflowing janino's 64 KB method limit (review
        // r13) — is gone, and with it both of its exchanges per
        // iteration. Integer micro-unit sums are order-free, so the
        // trained books are bit-identical to the join form's.
        val sums = withResid
          .select(graft.functions.GraftFunctions
              .pqEncode(col("resid"), m, ksub, flatBooks(books)).as("codes"),
            posexplode(col("resid")).as(Seq("g", "x")))
          .select(expr(s"g div $sub").cast("int").as("j"),
            expr(s"g % $sub").cast("int").as("d"),
            floor(col("x") * 1e6 + 0.5).cast("long").as("qx"), col("codes"))
          .select(col("j"), element_at(col("codes"), col("j") + 1).as("code"),
            col("d"), col("qx"))
          .groupBy(col("j"), col("code"), col("d"))
          .agg(sum(col("qx")).as("sq"), count(lit(1)).as("n"))
          .collect() // bounded: m·ksub·sub rows per iteration
        val nb: Array[Array[Array[Double]]] =
          Array.tabulate(m, ksub, sub)((j, c, d) => books(j)(c)(d))
        sums.foreach { r =>
          nb(r.getInt(0))(r.getAs[Number](1).intValue())(r.getInt(2)) =
            r.getLong(3).toDouble / (r.getLong(4).toDouble * 1e6)
        }
        books = nb
      }
      (seeds, books)
    }

  /** The residual-PQ training behind [[ivfPqResidualTopK]]: the corpus
    * frame extended with `resid` (v − coarse centroid) and `rcodes`
    * (codes against the `iters`-times-trained residual books), plus
    * the books and the coarse centroids (exposed for the ExtSpec
    * monotonicity/recall assertions and the streaming router). The
    * (seeds, books) artifact comes from the memoized
    * [[pqTrainedBooks]]; only the encode projection runs per call.
    */
  private[graft] def pqResidualTrained(spark: SparkSession, dir: String,
      m: Int, ksub: Int, iters: Int):
      (DataFrame, Array[Array[Array[Double]]], Array[Array[Double]]) = {
    graft.functions.GraftFunctions.register(spark)
    // widened scan (Tables.embeddingsWide): the m-subspace argmin
    // encode is the one embedding projection heavy enough that its
    // per-broadcast-child re-executions dominated the face on a
    // 1-task scan (stage profile r21: 2 stages of 7-8 s, 1 task each)
    val e = Tables.embeddingsWide(spark, dir)
    val (seeds, books) = pqTrainedBooks(spark, dir, m, ksub, iters)
    val centsD: Array[Array[Double]] = seeds.sortBy(_._1).map(_._2.map(_.toDouble))
    val vd = col("embedding").cast("array<double>")
    val cv = element_at(typedLit(centsD.map(_.toIndexedSeq).toIndexedSeq),
      col("cell_id").cast("int") + 1)
    // The residual FRAME is NOT memoized, deliberately (measured round
    // 14): each pass over it is pure codegen over the scan —
    // nearest-centroid argmax + one zip_with — while persisting it
    // materializes corpus × dim double arrays through the block store.
    // Measured at sf0.1: memoized 10.4 s vs recomputed 5.2 s
    // standalone — recompute wins for wide-array projections (the
    // opposite call from the banded/pairs memos, whose build is a
    // shuffle, not a projection). The TRAINING artifact above is the
    // part worth sharing.
    val withResid = assignCells(e, seeds).drop("cos_centroid")
      .withColumn("resid", zip_with(vd, cv, (a, b) => a - b))
    val encoded = withResid
      .withColumn("rcodes", graft.functions.GraftFunctions
        .pqEncode(col("resid"), m, ksub, flatBooks(books)))
    (encoded, books, centsD)
  }

  /** Hard-negative mining (x_hard_negatives): per query vector, the k
    * most-similar vectors with a DIFFERENT label — the negatives that
    * actually move a contrastive embedding model (SimCLR/DPR-style
    * training mines exactly these: near the anchor in embedding space,
    * wrong by label). Random negatives are trivially separable; the
    * hard ones live at the decision boundary this query finds.
    *
    * Shape: candidates come from the query's IVF cell (the
    * [[assignCells]] nearest-centroid argmax — in production you mine
    * hard negatives from the ANN candidate set, not the full corpus,
    * and this query IS that composition), so the scoring join is EQUI
    * on cell_id with the label-mismatch as a residual filter — no
    * lint exception, k rows per (partition, query) in the top-k tail.
    */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 5,
      cells: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val centroids: Array[(Long, Array[Float])] = seedCentroids(e, cells)
    val assigned = assignCells(e, centroids).drop("cos_centroid")
    val queries = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlbl"), col("cell_id").as("qcell"))
    val scored = assigned.join(broadcast(queries),
        col("cell_id") === col("qcell") && col("vec_id") =!= col("query_id") &&
          col("label") =!= col("qlbl"))
      .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6))
    rankTopK(scored, k)
  }

  /** Lloyd's k-means refinement of the IVF centroids — the training
    * loop [[ivfTopK]]'s fixed seed centroids stand in for (its scaladoc
    * note). Spec-checked rather than oracle-checked: float means are
    * not bit-reproducible across engines, but the INVARIANTS are exact
    * and asserted — every point assigned to its nearest centroid, and
    * the quantization objective (mean distance to assigned centroid)
    * non-increasing per iteration, Lloyd's convergence guarantee.
    *
    * Scale shape per iteration: one broadcast of k centroids (k·dim
    * floats — the kernel's reference matrix, zero shuffle for
    * assignment, same as ivfTopK), one groupBy(cell) aggregate of per-dim sums via
    * `posexplode` — shuffle carries k·dim partial sums per partition,
    * never vectors — and one bounded k-row collect. Empty cells keep
    * their previous centroid (the standard dead-centroid rule).
    */
  def kmeansRefine(spark: SparkSession, dir: String, k: Int = 16,
      iters: Int = 3, trackObjectives: Boolean = true): (Array[(Long, Array[Double])], Seq[Double]) = {
    graft.functions.GraftFunctions.register(spark)
    // Round 22: a widened scan for the refine loop was A/B'd and LOST
    // (sdr steady ~7.7 s widened vs ~4.9 s unwidened, 3-rep TimeMany):
    // repartitioning the corpus×dim arrays 3× costs more than the
    // 1-task assignment stages save — the same verdict BENCH_r21d
    // reached for every cosine-pair face. The scan stays narrow.
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    var centroids: Array[(Long, Array[Double])] = e.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def assigned = {
      val scored = array(centroids.toIndexedSeq.map { case (cid, cv) =>
        struct(
          (-round(cosine(col("embedding"), typedLit(cv.map(_.toFloat))), 6)).as("neg_cos"),
          lit(cid).as("cell_id"))
      }: _*)
      e.withColumn("best", array_min(scored))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("best.cell_id").as("cell_id"), (col("best.neg_cos") + 1.0).as("dist")) // 1 − cos
    }
    // objective tracking costs one extra driver action per iteration —
    // the convergence spec needs it, the production refine path doesn't.
    // Round 22 (VERDICT r21 #4): the persist existed for the two-action
    // tracking mode; with trackObjectives=false the sums job is the
    // iteration's ONLY action, so the persist materialized corpus×dim
    // double arrays through the block store for a single consumer (the
    // same trade the residual-frame note above measures). Persist only
    // when two actions share the frame. The per-dim means are likewise
    // assembled on the driver from the k·dim (cell_id, j, s, c) rows —
    // one bounded collect instead of a second groupBy+collect_list
    // exchange per iteration; s/c divides exactly as the old
    // (s/c)-column did, so the centroid trajectory is bit-identical.
    val objectives = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to iters).foreach { _ =>
      val a = if (trackObjectives) assigned.persist() else assigned
      if (trackObjectives) objectives += a.agg(avg(col("dist"))).head().getDouble(0)
      val rows = a
        .select(col("cell_id"), posexplode(col("v")).as(Seq("j", "x")))
        .groupBy(col("cell_id"), col("j"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
        .collect() // ≤ k·dim rows — the bounded per-iteration verdict
      if (trackObjectives) a.unpersist()
      val sums = rows.groupBy(_.getLong(0)).map { case (cid, rs) =>
        cid -> rs.sortBy(_.getInt(1)).map(r => r.getDouble(2) / r.getLong(3)).toArray
      }
      centroids = centroids.map { case (cid, old) => (cid, sums.getOrElse(cid, old)) }
    }
    // final objective under the refined centroids
    if (trackObjectives) objectives += assigned.agg(avg(col("dist"))).head().getDouble(0)
    (centroids, objectives.toSeq)
  }

  /** Scalable k-means|| seeding (x_kmeans_scalable; Bahmani, Moseley,
    * Vattani, Kumar & Vassilvitskii, VLDB 2012) — the distributed
    * answer to k-means++'s inherently sequential seeding: instead of
    * one centroid per corpus pass (k passes — unusable at scale),
    * each of `rounds` passes OVERSAMPLES ~ℓ candidates in parallel
    * with probability min(1, ℓ·d²(x)/φ), where d(x) is the distance
    * to the current candidate set and φ = Σ d² the clustering
    * potential; the bounded candidate set is then weighted by the
    * corpus mass it attracts and reduced to k final seeds (here: the
    * top-k by attracted mass, ties by vec_id — the deterministic
    * member of the "recluster the weighted candidates" family the
    * paper allows).
    *
    * The registered report is the potential TRAJECTORY — (stage,
    * n_candidates, φ) for the initial seed, each oversampling round,
    * the reduced final-k set, and the naive first-k baseline — i.e.
    * exactly the quantity the paper's Theorem 1 bounds. φ is
    * non-increasing across rounds (a SUPERSET of candidates can only
    * lower every per-point min — a theorem, asserted in ExtSpec);
    * final-k vs baseline is the empirical judgment and stays out of
    * any gate (the ADVICE r8 split), but both values are
    * deterministic so the report itself is hash-checked.
    *
    * Determinism: the "random" draw is the md5 16-bit bucket of
    * vec_id (the x_sample_split convention) — select iff
    * hu·φ < 65536·ℓ·d²_micro, compared in DECIMAL(38,0)/HUGEINT so
    * the product is exact on both engines (hu·φ ≤ 6.5e4 · n·4e12 —
    * Long would overflow past n ≈ 35k, decimal38 carries ~2e20
    * vectors); distances are the micro-quantized 1 − round(cos, 6);
    * each round's draw is capped at `cap` rows by vec_id order, so
    * the collected candidate set is ≤ 1 + rounds·cap REGARDLESS of
    * corpus size (the documented boundedness guarantee — expected
    * draw is ℓ per round; the cap only bites on adversarial hash
    * pileups and is replayed identically by the oracle).
    *
    * 100 TB shape: per round ONE scan against ≤(1 + rounds·cap)
    * candidates (row-local [[assignCells]] kernel argmin, map-side-partial
    * sum for φ) + one ≤cap-row collect; the weighting pass is one
    * more scan into a bounded hash aggregate. No corpus-sized
    * shuffle anywhere — this is precisely why k-means|| exists.
    */
  def kmeansScalableReport(spark: SparkSession, dir: String, k: Int = 8,
      ell: Int = 8, rounds: Int = 3, cap: Int = 32): DataFrame = {
    val (_, stages) = kmeansParallelTrain(spark, dir, k, ell, rounds, cap)
    spark.createDataFrame(stages).toDF("stage", "n_cand", "phi")
      .orderBy(col("stage"))
  }

  /** The MEMOIZED k-means|| training run — (final seeds, stage
    * trajectory) through the sanctioned [[Dedup.Frames]] value memo
    * (the qualityWeights convention): the trajectory report and the
    * seeded-IVF search face share ONE oversampling pipeline per
    * (session, corpus), and Bench prices the rider's increment
    * honestly via the kpp keep-warm chain.
    */
  private[graft] def kmeansParallelTrain(spark: SparkSession, dir: String, k: Int = 8,
      ell: Int = 8, rounds: Int = 3, cap: Int = 32): (Array[(Long, Array[Float])], Seq[(String, Long, Long)]) =
    Dedup.Frames.getOrComputeValue(spark, s"kpp:$k:$ell:$rounds:$cap:$dir", dir,
        tables = Seq("embeddings.parquet")) {
      graft.functions.GraftFunctions.register(spark)
      val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      def fetch(pred: Column): Array[(Long, Array[Float])] =
        e.filter(pred).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      def dm2For(c: Array[(Long, Array[Float])]): Column = {
        val dm = round((nearestCells(spark, c, 1).getItem(0).getField("neg_cos") + lit(1.0)) * 1e6, 0)
          .cast("long")
        dm * dm
      }
      def phiOf(c: Array[(Long, Array[Float])]): Long =
        e.agg(sum(dm2For(c))).head().getLong(0)
      var cand = fetch(col("vec_id") === 0)
      val stages = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      var phi = phiOf(cand)
      stages += (("round_0", cand.length.toLong, phi))
      for (t <- 1 to rounds) {
        // an existing candidate has d² = 0, so it can never re-select —
        // the union below cannot duplicate
        val selIds = e
          .withColumn("dm2", dm2For(cand))
          .withColumn("hu",
            expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 4), 16, 10) AS BIGINT)"))
          .filter(col("hu").cast("decimal(38,0)") * lit(phi).cast("decimal(38,0)") <
            lit(65536L * ell).cast("decimal(38,0)") * col("dm2").cast("decimal(38,0)"))
          .orderBy(col("vec_id")).limit(cap)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
        if (selIds.nonEmpty) cand = (cand ++ fetch(col("vec_id").isInCollection(selIds))).sortBy(_._1)
        phi = phiOf(cand)
        stages += ((s"round_$t", cand.length.toLong, phi))
      }
      // weight candidates by attracted corpus mass (argmin assignment,
      // ties to the smaller candidate id — the assignCells tie-break)
      val weights = e
        .withColumn("cid", nearestCells(spark, cand, 1).getItem(0).getField("cell_id"))
        .groupBy(col("cid")).agg(count(lit(1)).as("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val fin = cand.sortBy { case (id, _) => (-weights.getOrElse(id, 0L), id) }.take(k)
      stages += (("final_k", fin.length.toLong, phiOf(fin)))
      val base = fetch(col("vec_id") < k)
      stages += (("baseline_first_k", base.length.toLong, phiOf(base)))
      (fin, stages.toSeq)
    }

  /** IVF search over the k-means||-seeded cells (x_sim_ivf_kpp) — the
    * seeding wired into the index it exists for: assign every vector
    * to its nearest k-means|| final seed (the [[assignCells]]
    * contract), search each held-out query's own cell, and price the
    * result against brute-force truth (candidate count = cost,
    * recall@k = benefit — the x_sim_ivf_probe report shape). The
    * seeds are data-dependent but fully DETERMINISTIC (integer hash
    * draw + integer mass ranking), so unlike the Lloyd's-refined
    * float centroids the whole search replays as exact SQL and the
    * report is hash-gated end to end.
    *
    * Queries vec_id 16..25 (the held-out convention); a query that
    * happens to have been drawn as a seed searches its own
    * neighborhood-defining cell, the documented no-op case of
    * x_sim_ivf_pq_probe. Rides the memoized training run
    * ([[kmeansParallelTrain]]) as the kpp chain's rider — Bench
    * prices one assignment + bounded top-k, not a re-training.
    */
  def ivfKppReport(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val (seeds, _) = kmeansParallelTrain(spark, dir)
    val isQuery = col("vec_id") >= 16 && col("vec_id") < 26
    val scored = cellScored(assignCells(e, seeds).drop("cos_centroid"), isQuery)
    val ann = rankTopK(scored, k).select(col("query_id"), col("neighbor_id"))
    val brute = bruteRanked(e, isQuery, k).select(col("query_id"), col("neighbor_id"))
    val hits = ann.join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    val cost = scored.groupBy(col("query_id")).agg(count(lit(1)).as("c"))
    e.filter(isQuery).select(col("vec_id").as("query_id"))
      .join(cost, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("c"), lit(0L)).as("cand_kpp"),
        expr(s"CAST(floor(coalesce(h, 0) * 100 / $k) AS BIGINT)").as("recall_kpp_pct"))
      .orderBy(col("query_id"))
  }

  /** Embedding-cosine near-dup pairs above a threshold. Quadratic
    * all-pairs at oracle scale; the LSH bucket equality join is the
    * 100 TB variant (same output for thresholds the bucketing recalls).
    */
  def embeddingNearDup(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    // the theta-join plans as a broadcast nested-loop whose stream side
    // is the raw scan — one task for a one-file table. Pre-spreading
    // the stream side parallelizes the O(n²/2) cosine loop across all
    // cores; the shuffled rows are just the narrow (id, vector) pairs.
    val width = spark.sparkContext.defaultParallelism
    val a = e.repartition(width, col("vec_id"))
      .select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    a.join(b, col("v1") < col("v2"))
      .withColumn("cos", round(cosine(col("e1"), col("e2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), col("cos"))
      .orderBy(col("v1"), col("v2"))
  }

  /** Recall REPORT for the near-dup candidate generators — prices the
    * recall trade [[lshNearDupPairs]] documents instead of only
    * promising it. The exact all-pairs leg (the documented oracle twin,
    * same shape as [[embeddingNearDup]]) enumerates every τ-close pair
    * WITH both bucket ids; single-bucket recall (`b1 = b2` — exactly
    * the pair set [[lshNearDupPairs]] emits) and Hamming-1 multi-probe
    * recall (`bit_count(b1 xor b2) <= 1` — the remedy the LSH paths
    * cite, Lv et al. VLDB'07) are then conditional counts over that ONE
    * pair set: no second join, and the probe ⊇ single-bucket superset
    * invariant is true by construction AND hash-checked by the oracle.
    *
    * At 100 TB the truth leg is measured on a SAMPLE (recall estimation
    * needs thousands of pairs, not the corpus); the candidate counts
    * come free from the generators' own output. Here oracle scale makes
    * the exact sweep affordable, so the report is exact.
    */
  def nearDupRecallReport(spark: SparkSession, dir: String,
      threshold: Double = 0.4, bits: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", signBucket(col("embedding"), bits))
    val width = spark.sparkContext.defaultParallelism
    val a = e.repartition(width, col("vec_id"))
      .select(col("vec_id").as("v1"), col("embedding").as("e1"), col("bucket").as("b1"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("bucket").as("b2"))
    a.join(b, col("v1") < col("v2"))
      .filter(round(cosine(col("e1"), col("e2")), 6) >= threshold)
      .agg(count(lit(1)).as("n_pairs_exact"),
        coalesce(sum(when(col("b1") === col("b2"), 1L).otherwise(0L)), lit(0L))
          .as("n_pairs_lsh"),
        coalesce(sum(when(bit_count(col("b1").bitwiseXOR(col("b2"))) <= 1, 1L)
          .otherwise(0L)), lit(0L)).as("n_pairs_probe"))
      .withColumn("recall_lsh_pct",
        round(lit(100.0) * col("n_pairs_lsh") / nullif(col("n_pairs_exact"), lit(0L)), 2))
      .withColumn("recall_probe_pct",
        round(lit(100.0) * col("n_pairs_probe") / nullif(col("n_pairs_exact"), lit(0L)), 2))
      .withColumn("probe_superset", col("n_pairs_probe") >= col("n_pairs_lsh"))
  }

  /** Semantic dedup, SemDeDup-class (Abbas et al., arXiv:2303.09540):
    * cluster the embedding corpus, then prune — within each cluster
    * only — every vector that has a τ-similar neighbor closer to the
    * cluster centroid (tie: lower vec_id). Keeps exactly the vectors
    * with no "better" τ-neighbor, so per cluster the member nearest its
    * centroid always survives and no two kept vectors are τ-similar —
    * both invariants spec-asserted (ExtSpec), centroid-set-independent.
    *
    * Scale shape: clustering is what makes semantic dedup tractable —
    * the pair join is an equi-join on `cell_id`, so candidate pairs are
    * bounded per cell instead of corpus-quadratic. At 100 TB the cell
    * count grows with the corpus (the paper's regime: K ~ N/avg-cell,
    * keeping cells O(thousands of vectors)); here K=16 seed
    * centroids keep the assignment a zero-shuffle codegen'd argmax
    * ([[assignCells]]) and the whole query engine-portable for the
    * DuckDB oracle. A production build swaps in [[kmeansRefine]]'s
    * centroids — same operator, better cells (the spec runs that leg).
    */
  def semanticDedup(e: DataFrame, centroids: Array[(Long, Array[Float])],
      tau: Double): DataFrame = {
    val assigned = assignCells(e, centroids)
      .select(col("vec_id"), col("embedding"), col("cell_id"), col("cos_centroid"))
    val a = assigned.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("cell_id"), col("cos_centroid").as("cc1"))
    val b = assigned.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("cell_id"), col("cos_centroid").as("cc2"))
    // pruned = has a τ-similar neighbor that is strictly better by
    // (closer-to-centroid, then lower id) — a row-level rule, no
    // iteration, exactly replayable in SQL
    val pruned = a.join(b, Seq("cell_id"))
      .filter(col("v1") =!= col("v2"))
      .filter(round(cosine(col("e1"), col("e2")), 6) >= tau)
      .filter(col("cc1") > col("cc2") ||
        (col("cc1") === col("cc2") && col("v1") < col("v2")))
      .select(col("v2").as("vec_id")).distinct()
      .withColumn("pruned", lit(true))
    assigned.join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("cos_centroid"),
        col("pruned").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Registered-query face of [[semanticDedup]]: seed centroids are the
    * first 16 vectors (literal, deterministic — the oracle replays the
    * identical assignment + within-cell prune in exact SQL). τ = 0.4
    * matches the corpus's near-dup threshold ([[embeddingNearDup]]).
    */
  def semanticDedupQuery(spark: SparkSession, dir: String, tau: Double = 0.4,
      cells: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val centroids: Array[(Long, Array[Float])] = seedCentroids(e, cells)
    semanticDedup(e, centroids, tau)
  }

  /** Registered verdict-query face of the PRODUCTION semantic-dedup
    * path (VERDICT r9 #7): run [[kmeansRefine]] (the real centroid
    * training), prune with [[semanticDedup]] over the REFINED
    * centroids, and emit what must hold of the refined run as a 1-row
    * verdict the oracle replays as constants — the same portable-
    * literal split as [[ivfRefinedReport]]: refined float centroids are
    * not bit-portable across engines, but the verdicts are THEOREMS of
    * the prune rule (a total order by (cos_centroid desc, vec_id asc)
    * within each cell), not empirical claims, so a dataset change
    * cannot fail the hash gate with the code working as designed:
    *   - `kept_tau_free` — no within-cell τ-similar pair survives with
    *     both endpoints kept (the better endpoint always prunes the
    *     worse);
    *   - `cells_nonempty` — every non-empty cell keeps ≥ 1 member (the
    *     member nearest its centroid has no strictly better neighbor).
    * Both heads are bounded 1-row collects (the verdict-head pattern);
    * computing them forces the refined assign + prune + pair join to
    * execute, so the entry prices the full production pipeline, train
    * loop included. Empirical refined-vs-seed quality lives in ExtSpec
    * ("semantic dedup: prune invariants"), not the gate.
    */
  def semanticDedupRefinedVerdict(spark: SparkSession, dir: String, tau: Double = 0.4,
      cells: Int = 16, iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val (refinedD, _) = kmeansRefine(spark, dir, cells, iters, trackObjectives = false)
    val refined = refinedD.map { case (id, v) => (id, v.map(_.toFloat)) }
    // both verdict aggregations re-derive the assign+prune frame; one
    // persist halves the refined pipeline's execution count (the two
    // heads below are separate actions)
    val out = semanticDedup(e, refined, tau)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = out.filter(col("keep")).join(e, "vec_id")
    val k1 = kept.select(col("cell_id"), col("vec_id").as("v1"), col("embedding").as("e1"))
    val k2 = kept.select(col("cell_id"), col("vec_id").as("v2"), col("embedding").as("e2"))
    val nTauKeptPairs = k1.join(k2, Seq("cell_id"))
      .filter(col("v1") < col("v2"))
      .filter(round(cosine(col("e1"), col("e2")), 6) >= tau)
      .agg(count(lit(1))).head().getLong(0)
    val Array(nCells, nKeepCells) = out
      .groupBy(col("cell_id"))
      .agg(max(when(col("keep"), 1L).otherwise(0L)).as("has_keep"))
      .agg(count(lit(1)).as("n_cells"), sum(col("has_keep")).as("n_keep_cells"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    out.unpersist(blocking = false)
    e.agg(count(lit(1)).as("n_vecs"))
      .select(col("n_vecs"),
        lit(nTauKeptPairs == 0L).as("kept_tau_free"),
        lit(nCells == nKeepCells).as("cells_nonempty"))
  }

  /** Semantic near-dup CLUSTERS (round 10): the cluster-level view
    * [[semanticDedup]]'s keep/prune verdicts don't give you — every
    * vector labeled with the min vec_id of its τ-similarity connected
    * component, `keep` marking the canonical representative. What a
    * pipeline needs when it wants to SAMPLE one member per semantic
    * group, size-weight clusters, or audit what pruning would discard
    * — the same decision layer [[Dedup.dedupClusters]] provides over
    * textual Jaccard pairs, here over embedding cosine.
    *
    * Pairs are the within-cell τ-pairs of the SemDeDup assignment (an
    * equi-join on `cell_id` — cells bound the quadratic exactly as in
    * [[semanticDedup]]; cross-cell τ-pairs are the same documented
    * recall bound). The component solve reuses the size-adaptive
    * machinery ([[Dedup.componentsFor]]): driver union-find under 10M
    * edges, pointer-jumping label propagation above — identical labels
    * either way. `keep` here = component-min canonicality, a coarser
    * rule than SemDeDup's centroid-distance prune (which keeps one
    * vector per τ-CLIQUE, not per component); both faces are
    * registered, hash-checked, and share the pair contract.
    */
  def semanticClusters(spark: SparkSession, dir: String, tau: Double = 0.4,
      cells: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val assigned = seedAssigned(spark, dir, cells)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    val a = assigned.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("cell_id"))
    val b = assigned.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("cell_id"))
    val pairs = a.join(b, Seq("cell_id"))
      .filter(col("v1") < col("v2"))
      .filter(round(cosine(col("e1"), col("e2")), 6) >= tau)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    Dedup.componentsFor(e.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** IVF index-health audit (`x_cell_imbalance`, round 15): FAISS's
    * own `InvertedLists::imbalance_factor` — k·Σnᵢ²/(Σnᵢ)², the
    * relative variance of inverted-list sizes (1.0 = perfectly
    * balanced; the metric FAISS prints from `IndexIVF` stats) — plus
    * the per-cell population table. Skewed cells are the IVF failure
    * mode that silently degrades BOTH latency (one hot cell scans like
    * brute force) and recall (starved cells mis-route probes), so the
    * audit belongs next to the search faces it diagnoses. All integer:
    * per-cell share and the imbalance factor are micro-unit integer
    * divisions of exact count sums; imbalance ≥ 10⁶ is Cauchy–Schwarz,
    * asserted in spec. Rides the memoized [[seedAssigned]] frame; the
    * constants join back over a literal key (a 1-row broadcast — no
    * cross join). Shape: one |cells|-row aggregate over the assignment
    * scan — free at any scale.
    */
  def cellImbalance(spark: SparkSession, dir: String, cells: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // EVERY seed cell reports, including a starved one (review r15: a
    // duplicate-seed cosine tie can empty a cell, and an index-health
    // audit that cannot show an empty inverted list is useless exactly
    // when the index is most skewed); k is nlist, FAISS's definition,
    // not the observed-cell count.
    val counts = spark.range(cells).select(col("id").as("cell_id"))
      .join(seedAssigned(spark, dir, cells)
        .groupBy(col("cell_id")).agg(count(lit(1)).as("n")), Seq("cell_id"), "left")
      .select(col("cell_id"), coalesce(col("n"), lit(0L)).as("n_cell"))
    val tot = counts.agg(
      sum(col("n_cell")).as("total"),
      sum(col("n_cell") * col("n_cell")).as("sq"),
      min(col("n_cell")).as("n_min"),
      max(col("n_cell")).as("n_max"))
    counts.withColumn("j", lit(1))
      .join(broadcast(tot.withColumn("j", lit(1))), "j")
      .select(col("cell_id"), col("n_cell"),
        // zero-guarded (ADVICE r15): an empty corpus makes total = 0,
        // where ANSI Spark throws on integer division and DuckDB's //
        // yields NULL — the qx3 empty-corpus convention is NULL on
        // both engines (no mass to apportion, no imbalance to price)
        expr("CASE WHEN total = 0 THEN NULL"
          + " ELSE n_cell * 1000000 DIV total END").as("share_micro"),
        // k·sq·10⁶ overflows int64 past ~3M vectors (review r15) —
        // the product runs in decimal(38,0), the past-int64 convention
        expr(s"CASE WHEN total = 0 THEN NULL"
          + s" ELSE CAST(CAST($cells AS DECIMAL(38,0)) * sq * 1000000"
          + " DIV (CAST(total AS DECIMAL(38,0)) * total) AS BIGINT) END")
          .as("imbalance_micro"),
        col("n_min"), col("n_max"))
      .orderBy(col("cell_id"))
  }

  /** LexRank representative-document selection (`x_lexrank`, round
    * 15): PageRank centrality over the document similarity graph
    * (Erkan & Radev, JAIR 2004) — the data-selection dual of dedup.
    * Near-dup removal prunes redundancy; centrality RANKS what remains
    * by how representative it is of the corpus mass (coreset-style
    * selection, the "pick the canonical exemplars" step of a curated
    * fine-tuning mix). Edges: within-cell pairs with rounded cosine
    * ≥ tau, weighted by the micro-quantized cosine
    * (floor(round(cos,6)·10⁶ + 0.5) — the kppDmSql idiom), symmetric;
    * the quadratic is CELL-BOUNDED (the SemDeDup/IVF discipline every
    * embedding face shares — the documented recall trade), riding the
    * memoized [[seedAssigned]] frame. Ranking is the shared
    * [[Graph.pageRank]] integer kernel (5 iterations, d = 0.85), so
    * the trajectory hash-gates; top-10 via the bounded TopKByScore
    * aggregate ((score DESC, id ASC) = the oracle's row_number order),
    * 10-row broadcast join-backs for wdeg and cell_id. Vectors with no
    * edge ≥ tau are non-central by definition and absent. Overflow
    * bound: r ≤ corpus·10⁶, wt ≤ 10⁶ — r·wt needs decimal(38,0) past
    * ~2⁴³ vectors, the [[Graph]] caveat.
    */
  def lexRank(spark: SparkSession, dir: String, cells: Int = 16,
      tau: Double = 0.2, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val assigned = seedAssigned(spark, dir, cells)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    val a = assigned.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("cell_id"))
    val b = assigned.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("cell_id"))
    val half = a.join(b, Seq("cell_id"))
      .filter(col("v1") < col("v2"))
      .withColumn("cos_q", round(cosine(col("e1"), col("e2")), 6))
      .filter(col("cos_q") >= tau)
      .select(col("v1"), col("v2"),
        floor(col("cos_q") * 1e6 + 0.5).cast("long").as("wt"))
    val ed = half.select(col("v1").as("w1"), col("v2").as("w2"), col("wt"))
      .union(half.select(col("v2").as("w1"), col("v1").as("w2"), col("wt")))
    lexRankTop(assigned, ed, k)
  }

  /** The LexRank ranking tail shared by the exact-within-cell face and
    * the kNN-graph face (compose, never copy): the [[Graph.pageRank]]
    * integer kernel over a symmetric weighted edge frame, top-`k` via
    * the bounded TopKByScore aggregate ((score DESC, id ASC) — exact
    * integer ranks ride a double loss-free up to 2⁵³, so the order is
    * the oracle's row_number order), then 10-row broadcast join-backs
    * for cell_id and wdeg.
    */
  private def lexRankTop(assigned: DataFrame, ed: DataFrame, k: Int): DataFrame = {
    val ranked = Graph.pageRank(ed, checkpointRanks = true)
    val sel = ranked
      .agg(graft.functions.GraftFunctions
        .topKByScore(col("r").cast("double"), col("w"), k).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rk"), col("s.id").as("vec_id"),
        col("s.score").cast("long").as("rank_micro"))
    val picked = assigned.select(col("vec_id"), col("cell_id"))
      .join(broadcast(sel), "vec_id")
    ranked.select(col("w").as("vec_id"), col("wdeg"))
      .join(broadcast(picked), "vec_id")
      .select(col("rk"), col("vec_id"), col("cell_id"), col("wdeg"), col("rank_micro"))
      .orderBy(col("rk"))
  }

  /** kNN-graph LexRank (`x_lexrank_graph`, round 17 — VERDICT r16 #1):
    * the SAME centrality read as [[lexRank]], but with the similarity
    * edges drawn from the memoized bounded-edge-mass NSW neighbor
    * graph ([[nswGraphFor]]: per-vector top-`m` within-cell neighbors,
    * symmetrized — ≤ 2m·n edges BY CONSTRUCTION, each node
    * contributing ≤ m undirected edges) instead of the within-cell
    * threshold quadratic. This is the kNN-graph
    * formulation Erkan & Radev (JAIR 2004, §4.2) actually ran at
    * corpus scale, and it retires the one quadratic-at-fixed-
    * parameters edge build in the sweep: the graph face's edge count
    * is ≤ 2m·n whatever the cell population, where the exact face's
    * within-cell pair mass grows quadratically if `cells` is not
    * raised with the corpus (the [[cellsFor]] discipline). The exact
    * face stays registered as the small-scale witness; this face is
    * the 100 TB path.
    *
    * Edges: the NSW graph's (src, dst) pairs re-scored against the
    * embedding table by TWO bounded equi-joins (the graph is the
    * small side — 2m·n rows of ids; re-scoring beats persisting
    * weights in the memo because every OTHER graph consumer wants ids
    * only), weighted by the micro-quantized rounded cosine (the
    * [[lexRank]] weight), NON-POSITIVE weights dropped (PageRank mass
    * must be positive; cosine is symmetric in floating point — the
    * dot and the norm product commute bitwise — so both directions of
    * an edge drop together and the graph stays symmetric). Ranking =
    * the shared [[lexRankTop]] tail, so the two faces cannot drift
    * arithmetically. Vectors whose every neighbor edge is non-positive
    * are absent — non-central by definition, [[Graph.pageRank]]'s
    * documented contract.
    *
    * 100 TB shape: one memoized bounded-degree graph build (the
    * within-cell top-m the NSW faces already price), two equi-joins
    * onto the embedding scan, then 5 bounded join+aggregate PageRank
    * rounds over a ≤ 2m·n-row frame — no quadratic anywhere at fixed
    * parameters.
    */
  def lexRankGraph(spark: SparkSession, dir: String, cells: Int = 16,
      m: Int = 4, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val assigned = seedAssigned(spark, dir, cells)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    val g = nswGraphFor(spark, dir, cells, m, "base", lit(true))
    val ed = g
      .join(assigned.select(col("vec_id").as("src"), col("embedding").as("ev1")), "src")
      .join(assigned.select(col("vec_id").as("dst"), col("embedding").as("ev2")), "dst")
      .withColumn("cos_q", round(cosine(col("ev1"), col("ev2")), 6))
      .filter(col("cos_q") > 0)
      .select(col("src").as("w1"), col("dst").as("w2"),
        floor(col("cos_q") * 1e6 + 0.5).cast("long").as("wt"))
    lexRankTop(assigned, ed, k)
  }

  /** Leave-one-out kNN label consistency — the embedding-space QA
    * verdict behind "are these embeddings any good for
    * classification?": every vector is classified by the majority
    * label of its k nearest WITHIN-CELL neighbors (itself excluded),
    * and agreement is reported per label. A label whose accuracy
    * craters marks either a mislabeled slice or an embedding space
    * that doesn't separate it — found BEFORE anyone trains on the
    * labels. Neighbor search is cell-bounded (the SemDeDup/IVF
    * discipline: the quadratic is within-cell only, the documented
    * recall trade); `n_scored` < `n_total` counts singleton-cell
    * vectors that have no LOO neighbors.
    *
    * Majority = (votes DESC, label ASC) — in Spark as one
    * `max(struct(votes, -label))` aggregate (no sort), in the oracle
    * as the equivalent row_number; ranking ties inside top-k follow
    * the (cos DESC, id ASC) [[graft.functions.TopKByScore]] contract
    * the oracle replays. All outputs are integer counts plus one
    * terminal rounded division.
    *
    * 100 TB shape: broadcast seed assignment, within-cell equi-join,
    * bounded top-k aggregate (k rows per vector), then everything is
    * (n·k)-bounded; the verdict is a |labels|-row aggregate.
    */
  def knnLabelConsistency(spark: SparkSession, dir: String,
      k: Int = 5, cells: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val assigned = seedAssigned(spark, dir, cells)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    val a = assigned.select(col("vec_id").as("v"), col("embedding").as("ev"), col("cell_id"))
    val b = assigned.select(col("vec_id").as("w"), col("embedding").as("ew"), col("cell_id"))
    val topk = a.join(b, Seq("cell_id")).filter(col("v") =!= col("w"))
      .withColumn("cos", round(cosine(col("ev"), col("ew")), 6))
      .groupBy(col("v"))
      .agg(graft.functions.GraftFunctions.topKByScore(col("cos"), col("w"), k).as("top"))
      .select(col("v"), explode(col("top")).as("s"))
      .select(col("v"), col("s.id").as("w"))
    val labels = e.select(col("vec_id"), col("label").cast("long").as("lab"))
    val pred = topk
      .join(labels.select(col("vec_id").as("w"), col("lab").as("nlab")), "w")
      .groupBy(col("v"), col("nlab")).agg(count(lit(1)).as("nv"))
      .groupBy(col("v"))
      .agg(max(struct(col("nv"), (-col("nlab")).as("neg"))).as("m"))
      .select(col("v").as("vec_id"), (-col("m.neg")).as("predicted"))
    val scored = pred.join(labels, "vec_id")
      .groupBy(col("lab").as("label"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("predicted") === col("lab"), 1L).otherwise(0L)).as("n_agree"))
    labels.groupBy(col("lab").as("label")).agg(count(lit(1)).as("n_total"))
      .join(scored, Seq("label"), "left")
      .na.fill(0L, Seq("n_scored", "n_agree"))
      .withColumn("accuracy",
        when(col("n_scored") > 0,
          round(col("n_agree").cast("double") / col("n_scored"), 4)))
      .select(col("label"), col("n_total"), col("n_scored"), col("n_agree"), col("accuracy"))
      .orderBy(col("label"))
  }

  /** Label PURITY of the semantic clusters — the standard external
    * cluster-quality audit (are τ-components label-homogeneous?) run
    * before anyone trusts [[semanticClusters]]'s groups for sampling
    * or canonical selection: per cluster its size, majority label
    * (ties to the smaller label id), purity = majority share, and the
    * label entropy. A low-purity big cluster means τ is bridging
    * distinct concepts; entropy ≈ 0 everywhere means τ could loosen.
    *
    * Determinism: per-(cluster, label) counts are integers; each
    * label's entropy contribution −p·ln p is quantized to integer
    * micro-nats PER TERM, so the per-cluster entropy is an
    * order-immune integer sum with one terminal /10⁶ (the Zipf-fit
    * convention); purity is one rounded division of exact integers;
    * the majority argmax is a (n DESC, label ASC) row_number both
    * engines replay identically.
    *
    * 100 TB shape: rides the cluster labels (cell-bounded pair join +
    * size-adaptive component solve); everything after is hash
    * aggregates and windows over the ≤|clusters|·|labels| cell frame,
    * not the vector corpus.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val cells = semanticClusters(spark, dir)
      .select(col("vec_id"), col("cluster"))
      .join(labels, "vec_id")
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n_lab"))
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    val sized = cells
      .withColumn("n_cluster", sum(col("n_lab")).over(byCluster))
    val p = col("n_lab").cast("double") / col("n_cluster")
    val quant = sized
      .withColumn("ent_q", round(-p * log(p) * 1e6, 0).cast("long"))
      .withColumn("rk", row_number().over(
        byCluster.orderBy(col("n_lab").desc, col("label").asc)))
    quant.groupBy(col("cluster"))
      .agg(max(col("n_cluster")).as("n_cluster"),
        sum(col("ent_q")).as("ent_sum"),
        max(when(col("rk") === 1, col("label"))).as("major_label"),
        max(when(col("rk") === 1, col("n_lab"))).as("major_n"))
      .select(col("cluster"), col("n_cluster"), col("major_label"),
        round(col("major_n").cast("double") / col("n_cluster"), 6).as("purity"),
        round(col("ent_sum").cast("double") / 1e6, 6).as("entropy"))
      .orderBy(col("cluster"))
  }

  /** Embedding OUTLIER report: per vector, its cosine to the nearest
    * seed centroid (the [[assignCells]] assignment everything
    * IVF/SemDeDup-shaped here shares), z-scored against its own
    * cell's distribution — the "what doesn't belong anywhere" audit
    * that catches mis-embedded rows, wrong-modality strays, and
    * garbage vectors BEFORE they poison ANN recall or kmeans
    * centroids. `outlier` flags z ≤ −2 (unusually FAR from the
    * nearest centroid relative to cell peers); singleton or
    * zero-variance cells yield null z and never flag.
    *
    * Determinism (the DSIR micro-nat convention — a plain avg/stddev
    * hash-mismatched in the 6th decimal cross-engine): the rounded
    * cosine is quantized to integer micro-units per row, the cell
    * aggregates are order-immune integer sums (Σc, Σc²), and mean and
    * sample-stddev are double divisions of those exact integers with
    * one terminal round (6 dp; z to 4). Integer range: Σc² ≤
    * |cell|·10¹², exact in a Long to ~9·10⁶ vectors per cell — past
    * that Spark's ANSI sum overflows LOUDLY (and DuckDB's HUGEINT
    * side keeps going); shrink the quantization to 10⁵ on both sides
    * if a gate corpus ever approaches that.
    *
    * 100 TB shape: centroid assignment is a broadcast (k ≤ 16 seed
    * vectors) against a single scan; the stats frame is a k-row
    * aggregate with map-side partials, broadcast back. Nothing
    * vector-scale shuffles.
    */
  def embedOutliers(spark: SparkSession, dir: String, cells: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val assigned = seedAssigned(spark, dir, cells)
      .select(col("vec_id"), col("cell_id"), col("cos_centroid"),
        round(col("cos_centroid") * 1e6, 0).cast("long").as("c_micro"))
    val moments = assigned.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_cell"),
        sum(col("c_micro")).as("sc"),
        sum(col("c_micro") * col("c_micro")).as("sc2"))
    val n   = col("n_cell").cast("double")
    val scd = col("sc").cast("double")
    val vr  = (col("sc2").cast("double") - scd * scd / n) / (n - 1)
    val stats = moments
      .withColumn("mu", round(scd / n / 1e6, 6))
      .withColumn("sd", when(col("n_cell") > 1, round(sqrt(greatest(vr, lit(0.0))) / 1e6, 6)))
      .select(col("cell_id"), col("n_cell"), col("mu"), col("sd"))
    assigned.join(broadcast(stats), "cell_id")
      .withColumn("z",
        when(col("sd") > 0, round((col("cos_centroid") - col("mu")) / col("sd"), 4)))
      .withColumn("outlier", coalesce(col("z") <= -2.0, lit(false)))
      .select(col("vec_id"), col("cell_id"), col("cos_centroid"),
        col("n_cell"), col("mu"), col("sd"), col("z"), col("outlier"))
      .orderBy(col("vec_id"))
  }

  /** Simplified-silhouette cluster-quality audit (x_cluster_silhouette)
    * — the Hruschka et al. 2004 centroid-based variant of Rousseeuw's
    * silhouette: per vector, a = distance to its OWN centroid and b =
    * distance to the nearest OTHER centroid, s = (b − a)/max(a, b).
    * This is the standard internal validity index a pipeline reads
    * before trusting a clustering for SemDeDup-style pruning or
    * mixture construction — well-separated cells score near 1,
    * boundary-straddling cells near 0. The classic silhouette's
    * all-pairs a/b (O(n²)) is replaced by centroid distances (O(n·k))
    * — the ONLY variant that survives 100 TB, and the reason the
    * simplified form is what production validity checks run.
    *
    * Under argmax assignment a ≤ b by construction, so s ∈ [0, 1)
    * here — the audit separates "tight vs boundary" cells rather than
    * flagging misassignment (which argmax precludes).
    *
    * Determinism: distances are 1 − round(cos, 6) quantized to
    * integer micro-units (nonnegative, so half-up rounding agrees
    * with the oracle's floor(x·10⁶ + 0.5)); the per-row silhouette is
    * one truncating integer division ((b−a)·10⁶ div max(a,b), both
    * operands nonnegative), and the per-cell mean is an exact integer
    * sum divided once — the x_embed_outliers micro-unit discipline.
    * a and b are ranks 1–2 of [[nearestCells]], whose rank 1 IS
    * [[assignCells]], so "own centroid" here is bit-identical to every
    * other 16-cell face's assignment.
    *
    * 100 TB shape: one narrow scan with the row-local top-2 kernel
    * (zero shuffle) into a k-row hash aggregate with
    * map-side partials. Nothing vector-scale shuffles.
    */
  def clusterSilhouette(spark: SparkSession, dir: String, cells: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val centroids = seedCentroids(e, cells)
    // ranks 1–2 of the assignment sort: element 1 IS the argmax cell
    val top2 = nearestCells(spark, centroids, 2)
    def distMicro(s: Column): Column =
      round((s.getField("neg_cos") + lit(1.0)) * 1e6, 0).cast("long")
    val rows = e.withColumn("t2", top2)
      .select(col("vec_id"),
        element_at(col("t2"), 1).getField("cell_id").as("cell_id"),
        distMicro(element_at(col("t2"), 1)).as("a_micro"),
        distMicro(element_at(col("t2"), 2)).as("b_micro"))
      .withColumn("sil",
        when(greatest(col("a_micro"), col("b_micro")) > 0,
          expr("(b_micro - a_micro) * 1000000 div greatest(a_micro, b_micro)"))
          .otherwise(lit(0L)))
    rows.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_cell"),
        sum(col("sil")).as("ssil"),
        min(col("sil")).as("min_sil"),
        max(col("sil")).as("max_sil"))
      .select(col("cell_id"), col("n_cell"),
        expr("ssil div n_cell").as("mean_sil"),
        col("min_sil"), col("max_sil"))
      .orderBy(col("cell_id"))
  }

  /** Driver-side cosine in EXACTLY the engines' arithmetic shape —
    * sequential index-order dot products in double, d/(√da·√db) —
    * so a bounded collected candidate set can be re-scored on the
    * driver bit-identically to the codegen cosine and DuckDB's
    * list_dot_product loop (the x_sim_mmr greedy needs pairwise
    * candidate sims after the distributed top-k already ran).
    */
  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var da = 0.0; var db = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i).toDouble
      da += a(i).toDouble * a(i).toDouble
      db += b(i).toDouble * b(i).toDouble
      i += 1
    }
    d / (math.sqrt(da) * math.sqrt(db))
  }

  /** Rounded-6 cosine in integer micro-units, matching the engines'
    * round(cos, 6)·10⁶ quantization (HALF_UP on a value that is
    * integer ± ~10⁻¹⁰, so floor(x+0.5) and BigDecimal agree).
    */
  private def cosMicroLocal(a: Array[Float], b: Array[Float]): Long =
    BigDecimal(cosineLocal(a, b)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(1000000)).toLongExact

  /** Maximal-Marginal-Relevance diversified retrieval (x_sim_mmr;
    * Carbonell & Goldstein, SIGIR 1998) — the post-retrieval
    * diversification every RAG context-packer runs: plain top-k hands
    * the consumer k near-copies of the best hit when the corpus has
    * near-duplicates; MMR greedily picks
    * argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), trading relevance
    * against similarity to what is ALREADY selected. λ = 0.7 as the
    * integer pair (7, 3): score = (7·rel_micro − 3·maxsim_micro)
    * div 10 — the whole greedy runs in exact integers, no float
    * boundary crosses the engine seam, ties to the smaller vec_id.
    *
    * Two-stage shape (how MMR deploys at any scale): the DISTRIBUTED
    * stage is the bounded top-`kCand` cosine scan (broadcast 1-row
    * query + TopKByScore map-side partials — the rankFusion vector
    * leg); the greedy then runs on the ≤kCand collected candidates
    * (kCand = 20 — the funnel-style bounded driver fetch), because
    * MMR is inherently sequential in k and its input is the ALREADY
    * REDUCED candidate list, never the corpus. Driver re-scoring uses
    * [[cosineLocal]] — the engines' exact arithmetic shape — so the
    * oracle's unrolled greedy (one MATERIALIZED CTE per step) replays
    * the selection bit-for-bit.
    *
    * Output: (rank, vec_id, rel_micro, score_micro) for the k
    * selected vectors; rank 1 is the plain argmax-relevance hit BY
    * CONSTRUCTION (its selection ignores the empty selected set), so
    * the MMR list and the top-k list always agree at rank 1 — a spec
    * theorem, alongside a planted near-duplicate fixture where MMR
    * demotes the duplicate that plain top-k keeps.
    */
  def mmrTopK(spark: SparkSession, dir: String, k: Int = 5,
      kCand: Int = 20): DataFrame =
    mmrFor(spark, Tables.embeddings(spark, dir), k, kCand)

  private[graft] def mmrFor(spark: SparkSession, e: DataFrame, k: Int,
      kCand: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val scored = e.filter(col("vec_id") =!= 0).join(broadcast(qv))
      .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6))
    val top = scored
      .agg(graft.functions.GraftFunctions.topKByScore(col("cos"), col("vec_id"), kCand).as("top"))
      .select(explode(col("top")).as("s"))
      .select(col("s.id").as("vec_id"), col("s.score").as("cos"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    val ids = top.map(_._1).toSet
    val vecs = e.filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // greedy over ≤kCand rows, exact integers throughout
    val rel = top.toMap
    var remaining = top.map(_._1).toVector
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]() // (vec, rel, score)
    val selected = scala.collection.mutable.ArrayBuffer[Long]()
    while (picked.length < k && remaining.nonEmpty) {
      val best = remaining.map { d =>
        val maxSim =
          if (selected.isEmpty) 0L
          else selected.map(s => cosMicroLocal(vecs(d), vecs(s))).max
        val score = (7 * rel(d) - 3 * maxSim) / 10 // Long / == div (trunc)
        (d, score)
      }.minBy { case (d, sc) => (-sc, d) } // (score DESC, vec_id ASC)
      picked += ((best._1, rel(best._1), best._2))
      selected += best._1
      remaining = remaining.filterNot(_ == best._1)
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case ((d, r, sc), i) => (i + 1L, d, r, sc) }
      .toDF("rank", "vec_id", "rel_micro", "score_micro")
      .orderBy(col("rank"))
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    * SIGIR 2009): fuse a lexical BM25 leg with a vector cosine leg —
    * the standard two-tower retrieval stack (keyword recall + semantic
    * recall) every modern data-mining / eval-mining pipeline runs, and
    * the reason both the TF-IDF machinery and the ANN machinery live
    * in one engine. Legs are top-`kLeg` lists; a document absent from
    * a leg contributes nothing (its leg rank is emitted as 0). Fused
    * score = Σ 1/(rrfK + rank) over the legs it appears in — rank
    * arithmetic over small integers, bit-identical cross-engine, with
    * the fused ranking tie-broken by doc_id (symmetric rank pairs DO
    * tie exactly).
    *
    * The lexical leg is [[graft.ext.TextAnalysis.bm25Rank]] verbatim;
    * the vector leg scores the corpus against the vec_id-0 embedding
    * (a 1-row broadcast) with the fused codegen cosine and ranks via
    * the bounded TopKByScore aggregate. The fusion join is a
    * (≤ kLeg)-row × (≤ kLeg)-row full outer — dust at any scale; the
    * legs themselves carry the 100 TB story (BM25: filtered explode +
    * broadcast df; cosine: broadcast query + bounded top-k).
    */
  def rankFusion(spark: SparkSession, dir: String,
      kLeg: Int = 20, k: Int = 10, rrfK: Int = 60): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val vecScored = e.filter(col("vec_id") =!= 0).join(broadcast(qv))
      .withColumn("cos", round(cosine(col("qv"), col("embedding")), 6))
    val vecLeg = vecScored
      .agg(graft.functions.GraftFunctions.topKByScore(col("cos"), col("vec_id"), kLeg).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("s.id").as("doc_id"), (col("pos") + 1).cast("long").as("r_vec"))
    val lexLeg = graft.ext.TextAnalysis.bm25Rank(spark, dir, kLeg)
      .select(col("doc_id"), col("rk").as("r_lex"))
    val fused = lexLeg.join(vecLeg, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_vec"), lit(0L)).as("r_vec"))
      .withColumn("rrf", round(
        when(col("r_lex") > 0, lit(1.0) / (lit(rrfK) + col("r_lex"))).otherwise(lit(0.0)) +
          when(col("r_vec") > 0, lit(1.0) / (lit(rrfK) + col("r_vec"))).otherwise(lit(0.0)), 6))
    fused
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("r_lex"), col("r_vec"), col("rrf"))
  }

  /** Dimension-truncation operating curve (`x_sim_dim_curve`, round
    * 16): the Matryoshka read (Kusupati et al., NeurIPS 2022) for the
    * ANN ladder — how much retrieval quality survives scoring on only
    * the first `d` of 64 dimensions. Production motivation: a
    * truncated prefix is a d/64-size index (memory, cache, SIMD
    * width) and, stored as its own column, a d/64 scan — the standard
    * funnel is "route with the cheap prefix, re-rank the shortlist at
    * full width", and this curve is the evidence for picking d.
    *
    * One broadcast-query corpus scan computes ALL levels: each scored
    * row explodes into one (dims, cos) leg per level — cosine over
    * the SLICED arrays (prefix norms, the truncate-and-renormalize
    * contract), rounded to 6 dp — and one bounded top-k aggregate
    * keyed (dims, query_id) ranks every level at once (the
    * probe-curve discipline: levels are legs of ONE scan, not four
    * scans). The ranked frame is ≤ |levels|·|Q|·k rows BY
    * CONSTRUCTION and is localized (the NSW convention) so the
    * truth-join legs are LocalRelation joins, not rescans.
    *
    * Verdict face: per (dims, query) the top-3 hits against the
    * dims=64 ranking — which IS brute truth, so the 64-row anchor's
    * n_hits = k by construction (computed, not literal: a ranking bug
    * fails the hash gate) — plus the level's top-1 id and its
    * truncated-cosine micro value (the routing decision a prefix
    * index would actually make).
    */
  def dimTruncationCurve(spark: SparkSession, dir: String, k: Int = 3,
      levels: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    // the truth leg IS the levels.max ranking — it must be the table's
    // full 64-dim width, or every n_hits silently relabels a prefix
    // ranking as brute truth (review r16, the nq-require class)
    require(levels.nonEmpty && levels.max == 64,
      s"dimTruncationCurve: levels.max = ${levels.sorted.lastOption.getOrElse(0)} " +
        "must be the embedding table's full width (64) — the curve's truth anchor is the full-width leg")
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
    val isQuery = col("vec_id") >= 16 && col("vec_id") < 26
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val leveled = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        explode(array(levels.map(d => struct(
          lit(d.toLong).as("dims"),
          round(cosine(slice(col("qv"), 1, d), slice(col("embedding"), 1, d)), 6)
            .as("cos"))): _*)).as("lc"))
      .select(col("query_id"), col("vec_id"), col("lc.dims").as("dims"), col("lc.cos").as("cos"))
    val topPlan = leveled.groupBy(col("dims"), col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(col("cos"), col("vec_id"), k).as("top"))
      .select(col("dims"), col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("dims"), col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("vec_id"), col("s.score").as("cos"))
    // ≤ |levels|·|Q|·k rows by construction — localize so the truth
    // join and the top-1 projection read a LocalRelation, not a rescan
    val top = spark.createDataFrame(
      java.util.Arrays.asList(topPlan.collect(): _*), topPlan.schema)
    val truth = top.filter(col("dims") === levels.max.toLong)
      .select(col("query_id"), col("vec_id"))
    val hits = top.join(truth, Seq("query_id", "vec_id"))
      .groupBy(col("dims"), col("query_id")).agg(count(lit(1)).as("n_hits"))
    top.filter(col("rk") === 1)
      .select(col("dims"), col("query_id"), col("vec_id").as("top1_id"),
        floor(col("cos") * 1e6 + 0.5).cast("long").as("top1_cos_micro"))
      .join(hits, Seq("dims", "query_id"), "left")
      .select(col("dims"), col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("top1_id"), col("top1_cos_micro"))
      .orderBy(col("dims"), col("query_id"))
  }

  /** Graph-ANN greedy beam search (`x_sim_nsw`, round 16 — VERDICT
    * r15 #5): the navigable-small-world family (Malkov & Yashunin's
    * HNSW is its hierarchical refinement), the one production FAISS
    * index class the Flat/LSH/SQ8/IVF/PQ/IVF-PQ ladder was missing.
    * Two deterministic stages, both oracle-replayable:
    *
    * **Index**: a bounded-degree neighbor graph — each vector's top-M
    * within-cell neighbors by (rounded cosine DESC, id ASC),
    * symmetrized and deduplicated. Cell-bounding the quadratic is the
    * same SemDeDup/IVF discipline every embedding face shares (the
    * documented recall trade); degree ≤ 2M by construction, so graph
    * size is ≤ 2M·n edges whatever the corpus — the HNSW memory
    * contract. Memoized per (cells, m, dir) beside [[seedAssigned]].
    *
    * **Search**: per held-out query (vec_id 16..25), enter at the
    * MIN-id member of the query's argmax cell (the IVF router picks
    * the region, the graph walks it — the IVF+graph hybrid
    * composition real deployments run), then `rounds` fixed greedy
    * beam steps: candidates = beam ∪ neighbors(beam) minus the query
    * itself, beam = top-`beamW` by (rounded cos DESC, id ASC). No
    * visited-set bookkeeping — the beam frame IS the state, so each
    * round is ONE graph equi-join + ONE broadcast score join + ONE
    * bounded top-k aggregate, the same iterated-join shape as
    * [[Graph.pageRank]] (and the same fixed-iteration honesty: the
    * plan is `rounds` joins deep, no driver loop over data).
    * Best-in-beam cosine is non-decreasing across rounds (beam_r
    * picks the top of a superset of beam_{r-1} — spec-asserted
    * theorem), so the walk can stall at a local basin but never
    * regress; that basin risk is exactly what the verdict prices.
    *
    * **Verdict face**: final top-k rows (query_id, rk, neighbor_id,
    * cos_micro) carrying `n_scored` — the count of DISTINCT vectors
    * ever scored, the honest cost axis (≤ 1 + Σ beamW·(1+2M) per
    * round, independent of corpus size — vs the whole-cell scan the
    * single-cell IVF leg pays) — and `is_truth` membership against
    * the shared brute top-k (the x_sim_ivf_probe recall pattern).
    * The truth leg is the documented ≤10-broadcast-query scan
    * (query-sample pricing at scale, PlanLint-allowlisted).
    *
    * 100 TB shape: the index is a per-cell bounded pair join (the
    * shuffle key a deployment buckets by) + a 2M-bounded aggregate;
    * each search round broadcasts a ≤|Q|·beamW·(1+2M)-row candidate
    * frame onto equi-joins — no corpus-sized shuffle, no window, no
    * driver-side data loop. Raising `rounds` re-raises the
    * iterated-frame lineage question [[Graph.pageRank]] documents;
    * at the registered 3 rounds the plan is bounded.
    */
  /** The md5 upper-layer draw of the NSW hierarchy: P[upper] = 1/8
    * (first 32 hash bits < 2²⁹ ⟺ ≥ 3 leading zeros — the qLevel
    * idiom without the bin() dance), prefixed 'g:' to decorrelate
    * from every other draw in the repo. ONE definition shared by the
    * engine filter and (textually) the oracle.
    */
  private def nswUpperMark: Column =
    expr("CAST(conv(substring(md5(concat('g:', CAST(vec_id AS STRING))), 1, 8), 16, 10)"
      + " AS BIGINT) < 536870912")

  /** The memoized bounded-EDGE-MASS within-cell neighbor graph (each
    * member's top-`m` neighbors by (rounded cos DESC, id ASC),
    * symmetrized, distinct) over the vectors `memberOf` admits — the
    * whole corpus for the base layer, the 1/8 md5 draw for the
    * hierarchy's upper layer. Each node contributes ≤ m undirected
    * edges, so ≤ 2m·n directed rows total; per-node OUT-links are ≤ m
    * but IN-degree is unbounded (a hub can sit in many nodes' top-m —
    * spec-observed degree 17 > 2m at sf0.001), which is why every
    * per-round beam bound downstream is stated against the measured
    * candidate frame, not a per-node degree constant.
    */
  private def nswGraphFor(spark: SparkSession, dir: String, cells: Int,
      m: Int, layer: String, memberOf: Column): DataFrame =
    Dedup.Frames.getOrCompute(spark, s"nswgraph:$layer:$cells:$m:$dir", dir,
        tables = Seq("embeddings.parquet")) {
      val assigned = seedAssigned(spark, dir, cells)
        .filter(memberOf)
        .select(col("vec_id"), col("embedding"), col("cell_id"))
      val a = assigned.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("cell_id"))
      val b = assigned.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("cell_id"))
      val pairs = a.join(b, Seq("cell_id"))
        .filter(col("v1") =!= col("v2"))
        .withColumn("cos_q", round(cosine(col("e1"), col("e2")), 6))
      val out = pairs.groupBy(col("v1"))
        .agg(graft.functions.GraftFunctions.topKByScore(col("cos_q"), col("v2"), m).as("top"))
        .select(col("v1").as("src"), explode(col("top")).as("s"))
        .select(col("src"), col("s.id").as("dst"))
      out.union(out.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    }

  /** Per-query min-id entry point among `members` sharing the query's
    * argmax cell (excluding the query itself) — an equi-join on
    * cell_id, no global constant; a query with no such member is
    * absent (no search can start on that layer).
    */
  private def nswEntryFor(members: DataFrame, queryCells: DataFrame): DataFrame =
    members.join(queryCells, Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(min(col("vec_id")).as("cand"))

  /** One greedy beam stage over a neighbor graph from a per-query
    * entry frame — the loop shared by the flat and hierarchical
    * faces. Returns the final beam (query_id, rk, cand, cos_q) and
    * every candidate frame scored along the way (entry + per-round
    * candidate sets) for the caller's n_scored cost accounting.
    * Per-round lineage truncation: without it each round's plan
    * embeds every previous round's broadcast join and the task binary
    * compounds (measured 41 MiB by round 3 at sf0.01 — the
    * iterated-frame blow-up Graph.pageRank documents). Each candidate
    * frame is ≤ |Q|·beamW·(1+maxdeg) rows — maxdeg is the graph's
    * densest adjacency list, ≤ the densest CELL's population (per-node
    * out-links are ≤ m but hub in-links from symmetrization are not;
    * see [[nswGraphFor]]) — a bounded, queries-scaled frame, so it is
    * localized to a driver-side LocalRelation — the centroid-collect
    * convention (localCheckpoint would also truncate, but loses
    * attribute identity under AQE; a LocalRelation re-broadcasts for
    * free).
    */
  private def nswBeamStage(spark: SparkSession, e: DataFrame, q: DataFrame,
      graph: DataFrame, entry: DataFrame, rounds: Int, beamW: Int):
      (DataFrame, Seq[DataFrame]) = {
    // score a small (query_id, cand) frame: broadcast it (with qv
    // attached) onto the corpus scan — the corpus streams, nothing
    // corpus-sized shuffles
    def score(cands: DataFrame): DataFrame =
      e.join(broadcast(cands.join(q, Seq("query_id"))), col("vec_id") === col("cand"))
        .select(col("query_id"), col("cand"),
          round(cosine(col("qv"), col("embedding")), 6).as("cos_q"))
    var beam = score(entry)
    val roundCands = scala.collection.mutable.Buffer[DataFrame](
      entry.select(col("query_id"), col("cand")))
    for (_ <- 1 to rounds) {
      val neigh = beam.select(col("query_id"), col("cand"))
        .join(graph, col("cand") === col("src"))
        .select(col("query_id"), col("dst").as("cand"))
      val candPlan = beam.select(col("query_id"), col("cand"))
        .union(neigh).distinct()
        .filter(col("cand") =!= col("query_id"))
      val cands = spark.createDataFrame(
        java.util.Arrays.asList(candPlan.collect(): _*), candPlan.schema)
      roundCands += cands
      beam = score(cands).groupBy(col("query_id"))
        .agg(graft.functions.GraftFunctions
          .topKByScore(col("cos_q"), col("cand"), beamW).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
          col("s.id").as("cand"), col("s.score").as("cos_q"))
    }
    (beam, roundCands.toSeq)
  }

  /** Shared verdict tail: final top-k rows + distinct-scored cost +
    * brute truth membership (the probe-report convention).
    */
  private def nswFinalize(beam: DataFrame, candFrames: Seq[DataFrame],
      e: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val scanned = candFrames.reduce(_.union(_)).distinct()
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_scored"))
    val brute = bruteRanked(e, isQuery, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("truth_mark"))
    beam.filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand").as("neighbor_id"),
        floor(col("cos_q") * 1e6 + 0.5).cast("long").as("cos_micro"))
      .join(scanned, Seq("query_id"))
      .join(brute, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos_micro"),
        col("n_scored"), col("truth_mark").isNotNull.as("is_truth"))
      .orderBy(col("query_id"), col("rk"))
  }

  def nswSearch(spark: SparkSession, dir: String, k: Int = 3, m: Int = 4,
      beamW: Int = 4, rounds: Int = 3, cells: Int = 16): DataFrame = {
    // rounds = 0 would die downstream on the missing rk column, and a
    // beam narrower than k cannot fill the final top-k (review r16)
    require(rounds >= 1, s"nswSearch needs at least one beam round, got $rounds")
    require(beamW >= k, s"nswSearch needs beamW >= k to fill the top-$k, got beamW=$beamW")
    graft.functions.GraftFunctions.register(spark)
    // Round 22 (VERDICT r21 #9): the widened-scan A/B ran and LOST —
    // x_sim_nsw 3.3-4.7 s narrow vs 8.0-8.2 s widened (3-rep TimeMany,
    // same battery): every beam round's candidate collect re-executes
    // the corpus scan, so the widen exchange is paid per round. The
    // beam loop's parallelism comes from its broadcast joins; the scan
    // stays narrow.
    val e = Tables.embeddings(spark, dir)
    val isQuery = col("vec_id") >= cells && col("vec_id") < cells + 10
    val graph = nswGraphFor(spark, dir, cells, m, "base", lit(true))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val assignedCells = seedAssigned(spark, dir, cells)
      .select(col("vec_id"), col("cell_id"))
    val queryCells = assignedCells.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("cell_id"))
    val entry = nswEntryFor(assignedCells, queryCells)
    val (beam, candFrames) = nswBeamStage(spark, e, q, graph, entry, rounds, beamW)
    nswFinalize(beam, candFrames, e, isQuery, k)
  }

  /** Hierarchical graph-ANN (`x_sim_nsw_hier`, round 16): the "H" of
    * HNSW made honest on the same machinery — a 2-layer navigable
    * small world. The UPPER layer is the deterministic 1/8 md5 draw
    * ([[nswUpperMark]] — HNSW's geometric level assignment with the
    * repo's deterministic coin), carrying its own bounded-degree
    * within-cell graph over just those vectors; a query first runs a
    * SHORT cheap beam there (beamW = 2, 2 rounds — few vectors, long
    * hops), and its upper winner seeds the base-layer beam (the
    * routing role upper layers play in HNSW: replace the arbitrary
    * min-id entry with a query-adapted one). A query whose cell has
    * no upper member falls back to the flat face's min-id entry
    * (deterministic coalesce on both engines). Verdict face identical
    * to [[nswSearch]] — final top-k, n_scored now counting BOTH
    * layers' scored vectors (the hierarchy's honest total cost), and
    * brute-truth membership — so the two faces' recall-vs-cost rows
    * are directly comparable side by side.
    */
  def nswHierSearch(spark: SparkSession, dir: String, k: Int = 3, m: Int = 4,
      beamW: Int = 4, rounds: Int = 3, upperBeamW: Int = 2,
      upperRounds: Int = 2, cells: Int = 16): DataFrame = {
    require(rounds >= 1 && upperRounds >= 1,
      s"nswHierSearch needs at least one round per layer, got ($rounds, $upperRounds)")
    require(beamW >= k, s"nswHierSearch needs beamW >= k, got beamW=$beamW")
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir) // narrow — see nswSearch's A/B note
    val isQuery = col("vec_id") >= cells && col("vec_id") < cells + 10
    val baseGraph = nswGraphFor(spark, dir, cells, m, "base", lit(true))
    val upperGraph = nswGraphFor(spark, dir, cells, m, "upper", nswUpperMark)
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val assignedCells = seedAssigned(spark, dir, cells)
      .select(col("vec_id"), col("cell_id"))
    val queryCells = assignedCells.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("cell_id"))
    val upperEntry = nswEntryFor(assignedCells.filter(nswUpperMark), queryCells)
    val (ubeam, uCands) =
      nswBeamStage(spark, e, q, upperGraph, upperEntry, upperRounds, upperBeamW)
    val routed = ubeam.filter(col("rk") === 1)
      .select(col("query_id"), col("cand").as("up_cand"))
    val baseEntry = nswEntryFor(assignedCells, queryCells)
    val entry2 = baseEntry.join(routed, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("up_cand"), col("cand")).as("cand"))
    val (beam, bCands) = nswBeamStage(spark, e, q, baseGraph, entry2, rounds, beamW)
    nswFinalize(beam, uCands ++ bCands, e, isQuery, k)
  }
}
