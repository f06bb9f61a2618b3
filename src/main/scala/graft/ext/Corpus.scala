package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-assembly operators for a training-data pipeline — the steps
  * that come AFTER cleaning/dedup and turn a document collection into
  * training input: deterministic splits, benchmark decontamination,
  * and context-window packing. Each has an exact DuckDB oracle.
  */
object Corpus {

  /** Deterministic train/val/test assignment by md5 hash bucket
    * (80/10/10). The split is a pure function of `doc_id`: stable under
    * reruns, cluster layout, and corpus growth (a doc never changes
    * split when others are added — the property random shuffles lack).
    * md5 is engine-portable, so the oracle hash-checks the exact
    * assignment. 100 TB shape: one narrow projection, no shuffle at
    * all until the final presentation sort.
    */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    splitAssignFor(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** The split assignment without the presentation sort — for joins
    * (e.g. [[Dedup.splitLeakage]]) where a Sort below the join would be
    * dead weight the optimizer may or may not remove.
    */
  /** First 4 hex digits of md5(doc_id) → 0..65535, mod 100 — the
    * split draw, row-local.
    */
  private[graft] val splitBucketCol: Column =
    expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100")

  /** The split label as a row-local column — ONE definition shared by
    * [[splitAssignFor]] and the cross-split KMV contamination face
    * ([[Profiling.kmvSplitOverlap]]), so the two cannot drift.
    */
  private[graft] val splitLabelCol: Column =
    when(splitBucketCol < 80, lit("train"))
      .when(splitBucketCol < 90, lit("val"))
      .otherwise(lit("test"))

  private[graft] def splitAssignFor(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitBucketCol.as("bucket"), splitLabelCol.as("split"))

  /** Exactly-k uniform sample (`x_sample_exact_k`, round 16) — the
    * order-statistics companion to [[sampleSplit]]'s Bernoulli draw:
    * the k documents with the SMALLEST md5 draws form an exactly-k
    * uniform-without-replacement sample (bottom-k order statistics of
    * i.i.d. hashes — the KMV trick pointed at sampling), where the
    * Bernoulli split can only promise k in expectation. The everyday
    * uses are eval-subset selection and "give me exactly 20 docs to
    * eyeball" debugging at any corpus size.
    *
    * Deterministic and MERGEABLE: the draw packs (h, doc_id) into one
    * bigint (h·2³¹ + doc_id — a total order, h major), so
    * [[graft.functions.BottomKDistinct]] maintains the sample in ONE
    * scan with map-side partials (k rows per partition on the wire)
    * and bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B)) holds —
    * the union of two shards' samples re-aggregates to the corpus
    * sample exactly (spec-asserted). No global sort, no window, no
    * `ORDER BY rand() LIMIT k` single-reducer funnel — the shapes
    * this op replaces. The 's:' hash prefix decorrelates the draw
    * from [[sampleSplit]]'s bucket (an unprefixed reuse would make
    * the sample a deterministic function of the split). doc_id < 2³¹
    * is required for the pack and loudly checked against the corpus
    * max inside the same aggregate.
    */
  def sampleExactK(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    // only the draw and the id feed the aggregate — metadata arrives
    // via the ≤k-row join-back below (review r16: dead columns here
    // implied otherwise)
    val packed = docs.select(col("doc_id"),
      expr("CAST(conv(substring(md5(concat('s:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)")
        .as("h"))
    val row = packed.agg(
      graft.functions.GraftFunctions
        .bottomKDistinct(expr("h * 2147483648 + doc_id"), k).as("mins"),
      max(col("doc_id")).as("max_id"),
      min(col("doc_id")).as("min_id")).head()
    if (!row.isNullAt(1)) {
      require(row.getLong(1) < 2147483648L,
        s"sampleExactK packs doc_id into 31 bits; corpus max ${row.getLong(1)} overflows")
      // a negative id would corrupt the pack's truncating unpack
      // silently (review r16) — the guard covers BOTH halves of the
      // 0 <= doc_id < 2^31 precondition
      require(row.getLong(2) >= 0L,
        s"sampleExactK needs nonnegative doc_id; corpus min ${row.getLong(2)}")
    }
    val sampled = spark.createDataFrame(
      java.util.Arrays.asList(
        row.getSeq[Long](0).zipWithIndex.map { case (v, i) =>
          org.apache.spark.sql.Row((i + 1).toLong, v / 2147483648L, v % 2147483648L)
        }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rk", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("draw", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, false))))
    // ≤ k rows broadcast back onto the table scan for the metadata
    docs.join(broadcast(sampled), Seq("doc_id"))
      .select(col("rk"), col("doc_id"), col("draw"), col("lang"),
        col("source"), col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("rk"))
  }

  /** The (doc_id, qp, key_micro) frame behind [[sampleWeighted]] —
    * exposed for the shard-merge spec. qp is the trained filter's
    * integer-micro-unit probability ([[TextAnalysis.qualityProbFrame]],
    * ≥ 1 by construction); the key is the Efraimidis–Spirakis
    * exponential draw −ln(u)/w quantized to integer micro-units BEFORE
    * any ranking (the quantize-before-ranking rule): u = (h+1)/2³²
    * from the first 32 md5 bits under the 'es:' prefix (decorrelated
    * from the split/sample draws; +1 keeps u > 0, u = 1 gives key 0 —
    * harmless, both engines agree), and the double shape
    * (−ln((h+1)/2³²))·10¹²/qp is ONE textual expression replayed
    * verbatim by the oracle (ln on identical double inputs is libm on
    * both engines — the x_hll_distinct precedent).
    */
  private[graft] def weightedKeyFrame(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = TextAnalysis.qualityWeights(spark, dir, iters) // memoized — NO GD re-run
    weightedKeyCols(TextAnalysis.qualityProbFrame(docs, w)
      .select(col("doc_id"), col("qp")))
  }

  /** The row-local A-ES key columns over any (doc_id, qp) frame — ONE
    * definition shared by the batch face and the streaming reservoir
    * twin ([[graft.streaming.EventsStream.weightedSampleStream]]), so
    * the two draws cannot drift.
    */
  private[graft] def weightedKeyCols(df: DataFrame): DataFrame =
    df.withColumn("h",
        expr("CAST(conv(substring(md5(concat('es:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("key_micro",
        expr("CAST(floor((-ln((h + 1) / 4294967296e0)) * 1000000000000e0"
          + " / CAST(qp AS DOUBLE) + 0.5) AS BIGINT)"))

  /** Weighted sampling without replacement (`x_sample_weighted`, round
    * 17 — VERDICT r16 #6): the Efraimidis–Spirakis A-ES bottom-k
    * (Inf. Proc. Lett. 2006) with weights = the trained quality
    * filter's calibrated probabilities — the DCLM/FineWeb-style
    * quality-weighted resampling step, completing the sampling family
    * next to [[sampleSplit]] (Bernoulli) and [[sampleExactK]]
    * (uniform exactly-k). Item i is sampled iff its exponential draw
    * −ln(uᵢ)/wᵢ is among the k smallest — A-ES's keys uᵢ^(1/wᵢ)
    * under the order-reversing log transform, so the selected SET is
    * exactly theirs and inclusion probability rises with weight
    * (key strictly decreasing in w at fixed u — spec theorem).
    *
    * Deterministic and MERGEABLE: keys are md5-derived and quantized
    * to integer micro-units, selection is the bounded
    * [[graft.functions.TopKByScore]] aggregate ((−key DESC, id ASC) =
    * (key ASC, id ASC), the oracle's row_number order) — one scan,
    * map-side partials, bottom-k of shard bottom-ks = the corpus
    * bottom-k (spec-asserted merge theorem), no `ORDER BY rand()
    * LIMIT k` funnel. Rides the MEMOIZED weight vector (the quality
    * chain's rider convention — no GD re-run) and prices one feature
    * projection + one bounded aggregate + a ≤k-row broadcast
    * join-back. Key range: −ln(u) ≤ 32·ln2 ≈ 22.18, qp ≥ 1 micro →
    * key_micro ≤ ~2.3·10¹³ — int64-safe and double-exact (< 2⁵³) for
    * the aggregate's score.
    */
  def sampleWeighted(spark: SparkSession, dir: String, k: Int = 20,
      iters: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val keyed = weightedKeyFrame(spark, dir, iters)
    val sel = keyed
      .agg(graft.functions.GraftFunctions
        .topKByScore((-col("key_micro")).cast("double"), col("doc_id"), k).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rk"), col("s.id").as("doc_id"),
        (-col("s.score")).cast("long").as("key_micro"))
    keyed.select(col("doc_id"), col("qp"))
      .join(broadcast(sel), Seq("doc_id"))
      .select(col("rk"), col("doc_id"), col("qp").as("weight_micro"), col("key_micro"))
      .orderBy(col("rk"))
  }

  /** Stratified weighted sampling (`x_sample_weighted_by_key`, round
    * 17): [[sampleWeighted]] GROUPED by language — "the k
    * highest-quality-weighted docs PER domain", the domain-balanced
    * eval-set / per-language curation read (a corpus-wide weighted
    * sample follows the corpus mix; a stratified one guarantees every
    * language its quota). The A-ES theory grants grouping for free:
    * keys are per-item draws, so each key's bottom-k IS the
    * corpus-wide key order filtered to that key (the x_hll_by_key /
    * x_quantile_by_key grouping-theorem pattern, spec-asserted) — ONE
    * key projection, one per-key bounded TopKByScore aggregate (≤ k
    * rows per (partition, key) on the wire), a ≤ k·|keys|-row
    * broadcast join-back. Rides the memoized weight vector like every
    * quality-chain member.
    */
  def sampleWeightedByKey(spark: SparkSession, dir: String, k: Int = 5,
      iters: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val keyed = weightedKeyFrame(spark, dir, iters)
    val lang = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val sel = keyed.join(lang, "doc_id")
      .groupBy(col("lang"))
      .agg(graft.functions.GraftFunctions
        .topKByScore((-col("key_micro")).cast("double"), col("doc_id"), k).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("s.id").as("doc_id"), (-col("s.score")).cast("long").as("key_micro"))
    keyed.select(col("doc_id"), col("qp"))
      .join(broadcast(sel), Seq("doc_id"))
      .select(col("lang"), col("rk"), col("doc_id"),
        col("qp").as("weight_micro"), col("key_micro"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Curriculum assignment: every document gets a training STAGE (1 =
    * cleanest quartile, trained first) from exact quartiles of the
    * deterministic quality score, plus a deterministic within-stage
    * shuffle key — the "easy-to-hard with intra-stage shuffling"
    * ordering curriculum-learning recipes prescribe (Bengio et al.
    * ICML'09). A loader sorts by (stage, shuffle_key) and gets the
    * same epoch order on every run and every cluster layout; no RNG,
    * no global rank window.
    *
    * Boundaries are EXACT score quartiles via the distributed selection
    * behind [[Profiling.equiDepthHist]] (range-partition + per-partition
    * offsets — no single-reducer percentile), rounded half-away to 6 dp
    * and inlined as literals, so stage assignment is a row-local
    * three-comparison sum both engines compute identically. The shuffle
    * key is the md5 16-bit trick of [[sampleSplit]] without the mod.
    * 100 TB shape: one bounded P-row selection pass, then a narrow
    * row-local projection — the corpus never shuffles.
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.ext.TextAnalysis.qualityClassify(spark, dir)
      .select(col("doc_id"), col("score"))
    val bounds = curriculumBounds(spark, dir)
    val easier = bounds.map(b => when(col("score") > b, 1L).otherwise(0L)).reduce(_ + _)
    scored
      .withColumn("stage", lit(4L) - easier)
      .withColumn("shuffle_key",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT)"))
      .orderBy(col("doc_id"))
  }

  /** The exact-quartile stage boundaries [[curriculum]] cuts at —
    * exposed so the streaming twin
    * ([[graft.streaming.EventsStream.stageAssignStream]]) broadcasts
    * the SAME rounded literals the batch assignment inlined.
    */
  def curriculumBounds(spark: SparkSession, dir: String): Seq[Double] =
    graft.ext.Profiling.exactQuantilesDistributed(
      graft.ext.TextAnalysis.qualityClassify(spark, dir).select(col("score")),
      Seq(0.25, 0.5, 0.75)).map(round6HalfAway)

  /** ×1e6 HALF_UP product rounding — same std::round-matching contract
    * as [[Profiling.round2HalfAway]], at the 6 dp the quality score
    * already carries.
    */
  private def round6HalfAway(b: Double): Double =
    BigDecimal(b * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6

  /** Domain-mixture sampling to a token budget: downsample each source
    * (domain) to ≈`budget` tokens by keeping a deterministic hash slice
    * of its documents — the "mix web/books/code at fixed token ratios"
    * step of corpus assembly. Per source, the keep rate is
    * `min(1, budget / source_tokens)` expressed as an integer
    * basis-point threshold (floor, so both engines agree bit-for-bit —
    * no float rate crosses the engine boundary), and a document is kept
    * iff its md5 bucket (first 4 hex digits mod 10000, same engine-
    * portable trick as [[sampleSplit]]) falls below the threshold.
    * Deterministic under reruns and corpus growth within a source's
    * token total; no RNG, no sort-based sampling.
    *
    * 100 TB shape: one tiny per-source aggregate (|sources| rows)
    * BROADCAST back onto the corpus, then a pure row-local hash filter —
    * the big side never shuffles. The 4-hex-digit bucket is mildly
    * non-uniform over 10000 (65536 % 10000 ≠ 0); acceptable skew for a
    * mixture knob, documented here.
    */
  def mixtureSample(spark: SparkSession, dir: String, budget: Long = 2000): DataFrame =
    mixtureSampleFor(Tables.documents(spark, dir), budget)

  def mixtureSampleFor(input: DataFrame, budget: Long): DataFrame = {
    val docs = input
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val totals = docs.groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))
    docs.join(broadcast(totals), "source")
      .withColumn("thr",
        least(lit(10000L), expr(s"CAST(${budget * 10000L} div src_tok AS BIGINT)")))
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 10000"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("thr"), col("bucket"), (col("bucket") < col("thr")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Mixture-drift verdict — did [[mixtureSample]]'s keep decision
    * actually land the corpus on its target mixture? Per source:
    * achieved kept-token share vs the target share (`min(budget,
    * src_tokens)` normalized), and the per-source KL contribution
    * `p·ln(p/q)` of achieved-vs-target — the "am I training on the
    * mix I asked for" check run after every assembly pass, and the
    * domain-distribution sibling of [[Profiling.psiDrift]]'s
    * length-distribution monitor. Shares are Laplace-smoothed (+0.5
    * token per source) so an empty source stays finite, and the KL
    * term uses the UNROUNDED shares with one final round — the
    * psi_drift convention, so no intermediate float crosses the
    * engine seam.
    *
    * 100 TB shape: rides [[mixtureSampleFor]]'s broadcast-threshold
    * plan (the corpus never shuffles), collapses to a |sources|-row
    * aggregate, and the two grand totals are ONE bounded 1-row collect
    * inlined as literals (the psi/LM pattern — no 1-row cross join for
    * the lint to reject).
    */
  def mixtureDrift(spark: SparkSession, dir: String, budget: Long = 2000): DataFrame = {
    val per = mixtureSample(spark, dir, budget)
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("src_tok"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tok"))
      .withColumn("target_tok", least(lit(budget), col("src_tok")))
    val tot = per.agg(
      coalesce(sum(col("kept_tok")), lit(0L)).as("kt"),
      coalesce(sum(col("target_tok")), lit(0L)).as("tt"),
      count(lit(1)).as("ns")).head()
    val (keptTot, targetTot, nSrc) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val p = (col("kept_tok") + 0.5) / lit(keptTot + 0.5 * nSrc)
    val q = (col("target_tok") + 0.5) / lit(targetTot + 0.5 * nSrc)
    per.select(col("source"), col("src_tok"), col("target_tok"), col("kept_tok"),
        round(p, 6).as("p_kept"),
        round(q, 6).as("p_target"),
        round(p * log(p / q), 6).as("kl_contrib"))
      .orderBy(col("source"))
  }

  /** Per-domain document cap: keep at most `cap` documents per source,
    * chosen by a deterministic hash order (md5 of doc_id, ties by
    * doc_id) — the "no single domain dominates the corpus" guard that
    * complements rate-based [[mixtureSample]] with a hard ceiling. The
    * hash order makes the kept subset a uniform, rerun-stable sample
    * rather than "whatever sorted first".
    *
    * Round 14 (the r13 "salt-and-merge if one domain outweighs an
    * executor" docstring promise, made real): no per-source rank
    * window — a pathologically hot domain is exactly the case the cap
    * exists for, and a `Window.partitionBy(source)` would sort that
    * whole domain on ONE reducer. Instead the per-source BOUNDARY
    * tuple at rank min(cap, n) under (md5, doc_id) order comes from
    * keyed distributed selection ([[Profiling.exactRankRowsByKey]] —
    * range-partitioned, a hot domain spreads over many partitions),
    * broadcasts as a |sources|-row frame, and `keep` is a row-local
    * tuple compare. doc_id is unique, so the order is total and the
    * boundary rule equals the rank rule bit-for-bit.
    *
    * 100 TB shape: one selection pass + a broadcast |sources|-row join;
    * no key ever concentrates on one task. The rank itself left the
    * output contract — a cap needs the boundary, not per-row ranks.
    */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("h", md5(col("doc_id").cast("string")))
    val (sel, counts) = Profiling.exactRankRowsByKey(
      docs.select(col("source"), col("h"), col("doc_id")),
      n => Seq(math.min(cap.toLong, n)))
    import spark.implicits._
    val bdf = counts.toSeq.sortBy(_._1).map { case (s, n) =>
      val r = sel((s, math.min(cap.toLong, n)))
      (s, r.getString(1), r.getLong(2))
    }.toDF("source", "hb", "idb")
    docs.join(broadcast(bdf), "source")
      .withColumn("keep",
        col("h") < col("hb") || (col("h") === col("hb") && col("doc_id") <= col("idb")))
      .select(col("doc_id"), col("source"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** STRATIFIED train/val/test split: exact 80/10/10 WITHIN every
    * source, not just in expectation. [[sampleSplit]]'s hash buckets
    * give each domain its proportions only asymptotically — a 30-doc
    * domain can land 26/1/3 by hash luck, and a val set with one doc
    * from a domain evaluates nothing. Here each source's docs are
    * ranked in a deterministic hash order (md5 of doc_id, ties by
    * doc_id — the [[domainCap]] order, so the "random" order is
    * rerun-stable) and cut at exact integer thresholds:
    * `rn·10 ≤ n_src·8` → train, `rn·10 ≤ n_src·9` → val, else test —
    * all-integer comparisons, so both engines agree bit-for-bit and
    * every source lands within one document of 80/10/10.
    *
    * Trade-off vs [[sampleSplit]], stated for the pipeline doc: exact
    * proportions cost growth-stability — adding docs to a source can
    * reassign its existing docs (n_src moves the thresholds), where the
    * hash split never does. Use this for frozen evaluation snapshots,
    * the hash split for a corpus that accretes.
    *
    * Round 14 (the salt-and-merge promise [[domainCap]]'s docstring
    * carried, made real for both): the per-source rank window is gone.
    * `rn·10 ≤ n·8` ⟺ the doc's (md5, doc_id) tuple is ≤ the tuple at
    * rank ⌊8n/10⌋ — doc_id is unique, the order is total, so the
    * boundary rule IS the rank rule. The two boundary tuples per
    * source come from keyed distributed selection
    * ([[Profiling.exactRankRowsByKey]]), broadcast as a |sources|-row
    * frame, and the split label is a row-local tuple compare. A
    * source with ⌊8n/10⌋ = 0 gets a null boundary → the compare is
    * null → falls through (no train docs), matching the rank rule.
    *
    * 100 TB shape: one selection pass (range-partitioned — a dominant
    * source spreads across partitions instead of sorting on one
    * reducer) + a broadcast |sources|-row join. The rank left the
    * output contract; a split needs boundaries, not per-row ranks.
    */
  def splitStratified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("h", md5(col("doc_id").cast("string")))
    val (sel, counts) = Profiling.exactRankRowsByKey(
      docs.select(col("source"), col("h"), col("doc_id")),
      n => Seq(n * 8 / 10, n * 9 / 10))
    import spark.implicits._
    val bdf = counts.toSeq.sortBy(_._1).map { case (s, n) =>
      def b(k: Long): (Option[String], Option[Long]) =
        sel.get((s, k)).map(r => (Option(r.getString(1)), Option(r.getLong(2))))
          .getOrElse((None, None))
      val (h8, id8) = b(n * 8 / 10)
      val (h9, id9) = b(n * 9 / 10)
      (s, n, h8, id8, h9, id9)
    }.toDF("source", "n_src", "h8", "id8", "h9", "id9")
    def le(hb: String, idb: String) =
      col("h") < col(hb) || (col("h") === col(hb) && col("doc_id") <= col(idb))
    docs.join(broadcast(bdf), "source")
      .withColumn("split",
        when(le("h8", "id8"), lit("train"))
          .when(le("h9", "id9"), lit("val"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("source"), col("n_src"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled domain sampling weights (the multilingual
    * up-sampling rule of XLM-R / mT5: sample domain i with probability
    * ∝ shareᵢ^α, α < 1 flattening the mixture so head domains stop
    * drowning the tail). α is fixed at 1/2 — not just a common
    * temperature but the one exactly-rounded choice: `sqrt` is
    * correctly rounded under IEEE-754 on every engine, where `pow(x,
    * 0.3)` is only ≤1-ulp and could hash-mismatch cross-engine.
    *
    * Determinism contract: `wᵢ = floor(√(src_tokᵢ/T)·10⁶)` quantizes
    * each weight to integer micro-units from the UNROUNDED share
    * (integer-ratio division and sqrt are both exactly rounded, so the
    * doubles match cross-engine; quantizing the rounded share instead
    * would zero out any source below ~5·10⁻⁷ of corpus mass — exactly
    * the tail the tempering exists to up-weight, ADVICE r13), so the
    * normalizing total is an ORDER-IMMUNE integer sum — the
    * [[mixtureDrift]] / DSIR micro-nat convention. Outputs: the share
    * rounded to 6 dp for display, the tempered probability
    * `p_temp = wᵢ/W`, and `boost = p_temp/share` (the epoch multiplier
    * a loader applies per domain; tail domains get boost > 1, head
    * domains < 1) — null for a sub-quantum source whose displayed
    * share rounds to 0 rather than a divide-by-zero infinity.
    *
    * 100 TB shape: one |sources|-row hash aggregate (map-side partial
    * over the corpus scan); grand totals are ONE bounded 1-row collect
    * inlined as literals — the corpus itself never shuffles.
    */
  def mixtureTemperature(spark: SparkSession, dir: String): DataFrame = {
    // memoized via the Frames lifecycle (NOT a bare persist, which
    // leaks across repeated API calls — the Dedup.Frames rationale):
    // the |sources|-row frame serves the two total-collects AND the
    // returned plan, and releaseCaches()/corpus-fingerprint changes
    // reclaim it
    val per = Dedup.Frames.getOrCompute(spark, s"srctok:$dir", dir)(
      perSourceTokens(Tables.documents(spark, dir)))
    mixtureTemperatureFromPer(per)
  }

  /** Memo-free corpus-frame variant (specs plant synthetic source
    * mixes — e.g. the sub-quantum tail source the ADVICE-r13 fix
    * exists for — without touching the per-dir memo).
    */
  private[graft] def mixtureTemperatureFor(docs: DataFrame): DataFrame =
    mixtureTemperatureFromPer(perSourceTokens(docs))

  private def perSourceTokens(docs: DataFrame): DataFrame =
    docs.select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("src_tok"))

  private def mixtureTemperatureFromPer(per: DataFrame): DataFrame = {
    val totTok = per.agg(coalesce(sum(col("src_tok")), lit(0L)).as("t"))
      .head().getLong(0)
    val shareRaw = col("src_tok").cast("double") / lit(totTok.toDouble)
    val weighted = per.withColumn("share", round(shareRaw, 6))
      .withColumn("w", floor(sqrt(shareRaw) * 1e6).cast("long"))
    val totW = weighted.agg(coalesce(sum(col("w")), lit(0L)).as("w")).head().getLong(0)
    val out = weighted
      .withColumn("p_temp", round(col("w").cast("double") / lit(totW.toDouble), 6))
      .withColumn("boost",
        when(col("share") > 0, round(col("p_temp") / col("share"), 4)))
      .select(col("source"), col("src_tok"), col("share"), col("w"),
        col("p_temp"), col("boost"))
      .orderBy(col("source"))
    out
  }

  /** Dedup-adjusted temperature mixture (x_mixture_dedup_adjusted,
    * round 14) — [[mixtureTemperature]]'s α = 1/2 weighting computed
    * on each source's DEDUPLICATED token mass instead of its raw
    * volume: a syndicated/mirrored source inflates its raw share with
    * copies, so a mixture trained on raw counts over-samples exactly
    * the content dedup will later collapse. Here every near-dup
    * cluster contributes only its canonical copy's tokens
    * ([[Dedup.dedupCanonical]]'s quality-aware keep-best), the
    * temperature weight is `⌊√(unrounded kept-share)·10⁶⌋` (the
    * sqrt-not-pow and integer-micro-unit conventions of the raw
    * variant), and `dup_tok_share` reports how much of each source's
    * volume was duplicate mass — the number that explains the raw→kept
    * share movement.
    *
    * Rides the keep-warm chain: cluster labels and the keep-best
    * verdict come from the memoized pair frame, so this query prices
    * one narrow corpus scan + a |sources|-row aggregate + two bounded
    * 1-row collects. 100 TB shape: identical to [[mixtureTemperature]]
    * plus the pair-mass-bounded canonical join.
    */
  def mixtureDedupAdjusted(spark: SparkSession, dir: String): DataFrame = {
    // the canonical verdict is fetched BEFORE the memo call (the
    // nested-frame-under-the-lock rule), and the |sources|-row frame is
    // memoized because it serves the two total-collects AND the
    // returned plan (the mixtureTemperature rationale — review r14:
    // unmemoized, the whole canonical pipeline re-executed 3x)
    val docs = Tables.documents(spark, dir)
    val keep = Dedup.dedupCanonical(spark, dir)
      .select(col("doc_id"), col("keep_best"))
    val per = Dedup.Frames.getOrCompute(spark, s"srctok_dedup:$dir", dir)(docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(keep, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("src_tok"),
        sum(when(col("keep_best"), col("n_tok")).otherwise(lit(0L))).as("kept_tok")))
    val tots = per
      .agg(coalesce(sum(col("src_tok")), lit(0L)),
        coalesce(sum(col("kept_tok")), lit(0L))).head()
    val (totRaw, totKept) = (tots.getLong(0), tots.getLong(1))
    val shareRaw = col("src_tok").cast("double") / lit(totRaw.toDouble)
    val shareKept = col("kept_tok").cast("double") / lit(totKept.toDouble)
    val weighted = per
      .withColumn("share_raw", round(shareRaw, 6))
      .withColumn("share_kept", round(shareKept, 6))
      .withColumn("w", floor(sqrt(shareKept) * 1e6).cast("long"))
    val totW = weighted.agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
    weighted
      .withColumn("p_temp", round(col("w").cast("double") / lit(totW.toDouble), 6))
      .withColumn("boost_vs_raw",
        when(col("share_raw") > 0, round(col("p_temp") / col("share_raw"), 4)))
      .withColumn("dup_tok_share",
        round(lit(1.0) - col("kept_tok").cast("double") / col("src_tok").cast("double"), 6))
      .select(col("source"), col("src_tok"), col("kept_tok"),
        col("share_raw"), col("share_kept"), col("w"),
        col("p_temp"), col("boost_vs_raw"), col("dup_tok_share"))
      .orderBy(col("source"))
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥
    * `minShared` distinct 8-char shingles with an evaluation set (here:
    * doc_id < 20 stands in for the benchmark). The industry-standard
    * n-gram-overlap check for train/eval contamination.
    *
    * 100 TB shape: the eval set is tiny by construction, so its
    * (hashed, distinct) shingle set BROADCASTS and the corpus streams
    * past it — no shuffle of the big side, no pair blowup beyond
    * matching shingle hits. Reuses [[graft.functions.NgramShingles]]
    * (in-operator dedup + xxhash64), so the joined key is 8 bytes.
    */
  def decontaminate(spark: SparkSession, dir: String, minShared: Int = 10): DataFrame =
    decontaminateFor(spark, dir, minShared).orderBy(col("doc_id"))

  /** Word-13-gram decontamination (x_decontam_13gram, round 13) — the
    * PUBLISHED standard: GPT-3's appendix C and PaLM both define
    * train/eval contamination as a shared 13-token n-gram, where the
    * 8-char shingle gate above is this engine's finer-grained variant.
    * Any single shared 13-gram marks the document (the papers' rule —
    * a 13-token verbatim run is already beyond-chance duplication),
    * so the two gates disagree exactly on short paraphrase-level
    * overlap, which is why pipelines publish WHICH definition they
    * enforced.
    *
    * 100 TB shape: the corpus side emits per-doc DISTINCT 13-gram
    * xxhash64s row-locally (hashes, not strings — 8 bytes crossing
    * the wire per gram; the oracle joins the literal strings, counts
    * agree by the chunk-family's collision-free contract), the tiny
    * eval side broadcasts, and the corpus never shuffles.
    */
  def decontaminate13(spark: SparkSession, dir: String, n: Int = 13): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // the compiled TokenWindowHashes kernel (repetitionScores' bigram
    // engine at width 13): one byte-level pass per doc — the
    // transform/slice HOF formulation re-ran the regex split per
    // position and measured 9.2 s at sf0.1 vs ~1 s compiled (the
    // lmScore interpreted-lambda tax, review r13)
    val arr = Tables.documents(spark, dir).select(col("doc_id"),
      array_distinct(graft.functions.GraftFunctions
        .tokenWindowHashes(col("text"), n)).as("ngs"))
    val g = arr.select(col("doc_id"), explode(col("ngs")).as("ng"))
    val evalSet = g.filter(col("doc_id") < 20).select(col("ng")).distinct()
    val overlap = g.join(broadcast(evalSet), "ng")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    arr.select(col("doc_id"), size(col("ngs")).cast("long").as("n_13g"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_13g"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= 1).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** The contamination flags without the presentation sort — for
    * consumers that join them ([[graft.ext.Dedup.filterFunnel]]).
    */
  private[graft] def decontaminateFor(spark: SparkSession, dir: String,
      minShared: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val g = Dedup.allShingles(docs) // uncapped: exact-match semantics
    val evalSet = g.filter(col("doc_id") < 20).select(col("ng")).distinct()
    val overlap = g
      .join(broadcast(evalSet), "ng")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")) // g is distinct per (doc, ng)
    docs.select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= minShared)
  }

  /** Per-EVAL-document leakage report card — the symmetric view of
    * [[decontaminate]]: that query flags which CORPUS docs to drop;
    * this one reports which BENCHMARK items are already burned (their
    * shingle mass present in the training corpus) and how badly —
    * the table an eval owner reads to decide whether a benchmark
    * number is trustworthy at all. Per eval doc: its shingle count,
    * how many of those shingles the rest of the corpus serves, the
    * coverage share, and `burned` at ≥ 50% coverage.
    *
    * 100 TB shape: the eval shingle set is tiny and BROADCASTS; the
    * corpus streams past it once, and the matched-shingle set —
    * bounded by the EVAL set's size, not the corpus — is all that
    * aggregates. Per-doc attribution then joins two eval-sized
    * frames. The corpus never shuffles.
    */
  def evalLeakage(spark: SparkSession, dir: String,
      burnShare: Double = 0.5): DataFrame = {
    val g = Dedup.allShingles(Tables.documents(spark, dir))
    val evalSh = g.filter(col("doc_id") < 20)
    val matched = g.filter(col("doc_id") >= 20)
      .join(broadcast(evalSh.select(col("ng")).distinct()), "ng")
      .select(col("ng")).distinct()
    evalSh
      .join(broadcast(matched.withColumn("hit", lit(1L))), Seq("ng"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        coalesce(sum(col("hit")), lit(0L)).as("n_leaked"))
      .withColumn("coverage", round(col("n_leaked").cast("double") / col("n_sh"), 6))
      .withColumn("burned", col("coverage") >= burnShare)
      .orderBy(col("doc_id"))
  }

  /** Embedding-based (semantic) decontamination — the paraphrase-aware
    * twin of [[decontaminate]] (VERDICT r9 #4): flag corpus documents
    * whose EMBEDDING is τ-cosine-close to an eval-set embedding. 8-gram
    * overlap misses benchmark leakage that was reworded, translated, or
    * templated; embedding proximity is the check modern pipelines run
    * for exactly that gap (the same leakage class SemDeDup prunes
    * within-corpus). Eval set: vec_id < 20, mirroring the textual
    * check's doc_id < 20 stand-in — and as there, eval members flag
    * themselves (cos(v,v) = 1 ≥ τ), a deliberate sanity property.
    *
    * 100 TB shape: candidates come from the SAME sign-bit LSH bucket
    * equi-join as [[Similarity.lshNearDupPairs]] — the tiny eval side
    * (bucketed) BROADCASTS and the corpus streams past it, no shuffle
    * of the big side, candidate pairs bounded per bucket instead of
    * |corpus|×|eval|. Recall trade (documented, same as every LSH
    * path): a τ-close pair split across buckets is missed; production
    * raises recall with multi-probe ([[Similarity.lshTopKMultiProbe]]'s
    * Hamming-1 fan-out on the broadcast side) rather than more tables.
    * Deterministic bucketing + 6-dp-rounded cosine keep the whole
    * check exact, engine-portable SQL the oracle replays verbatim.
    */
  def decontaminateSemantic(spark: SparkSession, dir: String, tau: Double = 0.4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    decontaminateSemanticFor(Tables.embeddings(spark, dir), tau)
  }

  def decontaminateSemanticFor(e: DataFrame, tau: Double): DataFrame = {
    val bucketed = e.withColumn("bucket", Similarity.signBucket(col("embedding")))
    val evalSet = bucketed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"), col("bucket"))
    val hits = bucketed.join(broadcast(evalSet), Seq("bucket"))
      .filter(round(Similarity.cosine(col("embedding"), col("ev")), 6) >= tau)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_close"))
    e.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n_close"), lit(0L)).as("n_close"))
      .withColumn("contaminated", col("n_close") >= 1)
      .orderBy(col("vec_id"))
  }

  /** Multi-probe face of [[decontaminateSemantic]] — prices the recall
    * remedy that path documents instead of just promising it. Each eval
    * embedding probes its own bucket PLUS every Hamming-1 bucket (one
    * sign bit flipped — Lv et al., VLDB'07, same trade as
    * [[Similarity.lshTopKMultiProbe]]): a τ-close corpus/eval pair whose
    * unstable near-zero dimension flipped one bucket bit is recovered,
    * where the single-bucket check misses it.
    *
    * One join prices BOTH checks: probes carry their `mask`, so
    * `n_close` (single-bucket = mask 0) and `n_close_probe` (all 9
    * probes) fall out of the same matched set, and the superset
    * invariant `probe_ok` (probe never loses a single-bucket hit) is
    * hash-checked by the oracle. Counts are exact with no dedup stage:
    * a corpus row lives in ONE bucket and an eval row's 9 probe buckets
    * are distinct, so each (corpus, eval) pair matches at most once.
    *
    * 100 TB shape: identical to the single-bucket path — the probe
    * fan-out lands on the BROADCAST side (eval rows × 9, still tiny);
    * the corpus side never shuffles and never duplicates.
    */
  def decontaminateSemanticProbe(spark: SparkSession, dir: String, tau: Double = 0.4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    decontaminateSemanticProbeFor(Tables.embeddings(spark, dir), tau)
  }

  def decontaminateSemanticProbeFor(e: DataFrame, tau: Double, bits: Int = 8): DataFrame = {
    val bucketed = e.withColumn("bucket", Similarity.signBucket(col("embedding"), bits))
    val masks = lit(0L) +: (0 until bits).map(j => lit(1L << j))
    val probes = bucketed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"),
        col("bucket"), explode(array(masks: _*)).as("mask"))
      .select(col("eval_id"), col("ev"), col("mask"),
        col("bucket").bitwiseXOR(col("mask")).as("qb"))
    val hits = bucketed.join(broadcast(probes), col("bucket") === col("qb"))
      .filter(round(Similarity.cosine(col("embedding"), col("ev")), 6) >= tau)
      .groupBy(col("vec_id"))
      .agg(sum(when(col("mask") === 0L, 1L).otherwise(0L)).as("n_close"),
        count(lit(1)).as("n_close_probe"))
    e.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        coalesce(col("n_close_probe"), lit(0L)).as("n_close_probe"))
      .withColumn("probe_gain", col("n_close_probe") - col("n_close"))
      .withColumn("probe_ok", col("n_close_probe") >= col("n_close"))
      .withColumn("contaminated", col("n_close_probe") >= 1)
      .orderBy(col("vec_id"))
  }

  /** Bloom-filter decontamination — the 100 TB twin of [[decontaminate]].
    * The exact form broadcasts the eval set's distinct shingle hashes as
    * a join hash relation; at corpus scale even "tiny" eval suites reach
    * tens of millions of shingles, and a hash relation of 8-byte keys
    * costs ~16-32 bytes/key in the build map. The Bloom form compresses
    * the same membership test into a fixed `numBits` bitmap (here 1 MiB
    * for ~1% fp at 1M shingles) built by ONE tiny aggregate — Spark's
    * own `BloomFilterAggregate`, the machinery the optimizer injects for
    * runtime shuffle-join pruning — and probes it row-locally with
    * `BloomFilterMightContain`: no join at all on the corpus side, just
    * a codegen'd predicate over the already-hashed shingle stream.
    *
    * Bloom guarantees NO false negatives, so `n_shared_bloom >=
    * n_shared` exactly, and a doc the exact check flags is always
    * flagged by the bloom path. The registered verdict query emits the
    * exact counts plus that invariant (`bloom_ok`) so the DuckDB oracle
    * — which cannot build the same bitmap — still hash-checks real
    * content: the exact overlap AND the bloom path's soundness on every
    * document. False-positive rate is the tunable recall/cost knob; a
    * production pipeline re-checks bloom hits exactly (second pass over
    * the ~contaminated subset only).
    */
  def decontaminateBloom(spark: SparkSession, dir: String, minShared: Int = 10): DataFrame = {
    import graft.functions.GraftFunctions
    val docs = Tables.documents(spark, dir)
    val g = Dedup.allShingles(docs) // distinct (doc_id, ng) with ng = xxhash64(shingle)
    val evalSet = g.filter(col("doc_id") < 20).select(col("ng")).distinct()
    // one row, numBits/8 = 1 MiB to the driver — bounded like a broadcast
    val bloomBytes = evalSet
      .agg(GraftFunctions.bloomBuild(col("ng"), 1L << 20, 8L * (1L << 20)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val bloomHits = g
      .filter(GraftFunctions.bloomMightContain(lit(bloomBytes), col("ng")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_bloom"))
    val exact = g
      .join(broadcast(evalSet), "ng")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    docs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(bloomHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"),
        // bloom soundness: every exact hit is a bloom hit (no false negatives)
        (coalesce(col("n_shared_bloom"), lit(0L)) >= coalesce(col("n_shared"), lit(0L)))
          .as("bloom_ok"))
      .orderBy(col("doc_id"))
  }

  /** Context-window packing: assign documents (in doc_id order) to
    * fixed-budget token bins — the greedy sequential packing used to
    * assemble training batches. `bin = floor(tokens_before / budget)`,
    * where `tokens_before` is the running token count of all earlier
    * docs: a document starts in the bin its prefix sum lands in.
    *
    * A global running sum is the textbook driver-side/single-reducer
    * funnel (`Window.orderBy` with no partition = ONE task for the
    * whole corpus), so this computes the classic DISTRIBUTED prefix
    * sum instead:
    *   1. bucket docs into `parts` contiguous doc_id ranges (pure
    *      function of doc_id — no sampling, so the bucketing is
    *      deterministic and re-derivable);
    *   2. one tiny aggregate gives each bucket's token total (`parts`
    *      rows to the driver — bounded like a broadcast threshold);
    *   3. each bucket's rows get local prefix sums in parallel
    *      (window PARTITIONED by bucket) plus the broadcast offset of
    *      all earlier buckets.
    * Wall-clock is two narrow passes; no stage sees more than one
    * bucket's rows in order.
    */
  /** Deterministic T5-style span corruption (x_span_corruption, round
    * 13) — the denoising-objective data-prep step (Raffel et al.'s
    * ~15% corruption in short spans): tokens are masked in spans of 3
    * within fixed 20-token blocks, one span per FULL block at an
    * md5-derived offset, giving exactly 15% corruption of full-block
    * mass with non-overlapping spans BY CONSTRUCTION (the true T5
    * sampler draws spans at random; a replayable 100 TB pipeline
    * wants the seeded block-stratified variant so every re-run, and
    * the oracle, masks the identical positions — the mixtureSample
    * md5-bucket discipline). The partial tail block is left unmasked
    * (documented: corruption rate reads n_masked/n_tok < 15% for
    * short docs). Emits the span manifest "start-3,…" (1-based token
    * positions, the pack-manifest string convention).
    *
    * 100 TB shape: pure row-local md5 arithmetic on one narrow scan —
    * zero shuffle until the presentation sort.
    */
  def spanCorruption(spark: SparkSession, dir: String,
      block: Int = 20, span: Int = 3): DataFrame = {
    require(span <= block, "span must fit its block")
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("n_blocks", expr(s"n_tok div $block"))
      .withColumn("n_masked", col("n_blocks") * span)
      .select(col("doc_id"), col("n_tok"), col("n_blocks"), col("n_masked"),
        round(col("n_masked").cast("double") / col("n_tok"), 4).as("mask_rate"),
        expr(
          s"""CASE WHEN n_blocks = 0 THEN ''
              ELSE array_join(transform(sequence(1, CAST(n_blocks AS INT)),
                bi -> concat(CAST((bi - 1) * $block + 1 +
                  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(bi - 1 AS STRING))), 1, 4), 16, 10) AS BIGINT) % ${block - span + 1}
                  AS STRING), '-$span')), ',')
              END""").as("spans"))
      .orderBy(col("doc_id"))
  }

  /** Fill-in-the-middle split (x_fim_split, round 13) — the FIM
    * transformation of code/text pretraining (Bavarian et al. 2022:
    * move a random middle span to the end so the model learns infill):
    * two md5-derived cut points 0 ≤ a ≤ b ≤ n split each document
    * into prefix/middle/suffix; emitted as the cut positions plus the
    * md5 of each segment (portable digests — both engines hash the
    * identical reassembled strings, so the hash gate proves the SPLIT,
    * not just the counts). Deterministic md5 arithmetic per the
    * [[mixtureSample]] bucket discipline; empty segments hash the
    * empty string on both engines.
    *
    * 100 TB shape: pure row-local projection, zero shuffle until the
    * presentation sort.
    */
  def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    def bucket(tag: String) =
      s"CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':$tag')), 1, 4), 16, 10) AS BIGINT)"
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("p_end", expr(s"${bucket("a")} % (n_tok + 1)"))
      .withColumn("m_end", expr(s"p_end + ${bucket("b")} % (n_tok - p_end + 1)"))
      .select(col("doc_id"), col("n_tok"), col("p_end"), col("m_end"),
        md5(expr("concat_ws(' ', slice(toks, 1, CAST(p_end AS INT)))")).as("prefix_md5"),
        md5(expr("concat_ws(' ', slice(toks, CAST(p_end + 1 AS INT), CAST(m_end - p_end AS INT)))")).as("middle_md5"),
        md5(expr("concat_ws(' ', slice(toks, CAST(m_end + 1 AS INT), CAST(n_tok - m_end AS INT)))")).as("suffix_md5"))
      .orderBy(col("doc_id"))
  }

  def packBins(spark: SparkSession, dir: String, budget: Long = 2048, parts: Int = 32): DataFrame =
    tokenPrefixFrame(spark, dir, parts) match {
      case None =>
        Tables.documents(spark, dir)
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"),
            lit(0L).as("bin"))
      case Some(prefixed) =>
        prefixed
          .select(col("doc_id"), col("n_tok"),
            expr(s"tokens_before div $budget").as("bin"))
          .orderBy(col("doc_id"))
    }

  /** The distributed prefix sum shared by [[packBins]] and
    * [[packSequences]]: (doc_id, n_tok, tokens_before) where
    * `tokens_before` is the running token count of all earlier docs in
    * doc_id order. None on an empty corpus (no doc_id to bucket by).
    * See [[packBins]]'s scaladoc for why this is two narrow passes and
    * a `parts`-row collect, not one global window.
    */
  private def tokenPrefixFrame(spark: SparkSession, dir: String, parts: Int): Option[DataFrame] = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val maxIdRow = docs.agg(max(col("doc_id"))).head()
    if (maxIdRow.isNullAt(0)) return None // empty corpus: max is NULL
    val maxId = maxIdRow.getLong(0)
    val span = maxId / parts + 1 // contiguous ranges: deterministic, no sampling
    // integer div, not `/` (which is double division on longs in Spark)
    val bucketed = docs.withColumn("bkt", expr(s"CAST(doc_id div $span AS INT)"))
    // one bounded collect: `parts` (bucket, total) rows — the offsets
    val totals = bucketed.groupBy(col("bkt")).agg(sum(col("n_tok")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to parts).scanLeft(0L)((acc, b) => acc + totals.getOrElse(b, 0L))
    val offsetCol = element_at(typedLit(offsets.toArray), col("bkt") + 1)
    val w = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Some(bucketed
      .withColumn("tokens_before", coalesce(sum(col("n_tok")).over(w), lit(0L)) + offsetCol))
  }

  /** TRUE sequence packing — the training-batch assembly [[packBins]]
    * stops short of: [[packBins]] assigns each whole document to the
    * bin its prefix sum starts in, so a document straddling a budget
    * boundary silently overflows its bin. Real fixed-length batch
    * assembly SPLITS the straddling document: the global token stream
    * (docs concatenated in doc_id order) is cut at every `budget`
    * boundary and each document emits one (bin, slice) row per boundary
    * it crosses — `slice_start/slice_end` are 1-based token positions
    * within the doc, every bin except the last holds exactly `budget`
    * tokens, and a document's slices reassemble it exactly.
    *
    * 100 TB shape: the prefix sum is the shared distributed two-pass
    * ([[tokenPrefixFrame]] — no global window, `parts`-row collect);
    * the boundary arithmetic and the per-doc explode are pure row-local
    * integer work, and a doc emits `1 + ⌊(n_tok−1)/budget⌋`-ish rows —
    * output tracks corpus token count / budget, not a blowup. No
    * shuffle after the prefix sum except the presentation sort.
    */
  def packSequences(spark: SparkSession, dir: String, budget: Long = 2048, parts: Int = 32): DataFrame =
    tokenPrefixFrame(spark, dir, parts) match {
      case None =>
        Tables.documents(spark, dir)
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"),
            lit(0L).as("bin"), lit(0L).as("slice_id"),
            lit(0L).as("slice_start"), lit(0L).as("slice_end"), lit(0L).as("n_tok_slice"))
      case Some(prefixed) =>
        prefixed
          // every budget boundary the doc's [tokens_before, tokens_before
          // + n_tok) token span crosses contributes one slice; sequence()
          // is inclusive on both ends, so first bin .. last bin directly
          .withColumn("bin", explode(expr(
            s"sequence(tokens_before div $budget, (tokens_before + n_tok - 1) div $budget)")))
          .select(col("doc_id"), col("n_tok"), col("bin"),
            expr(s"bin - tokens_before div $budget").as("slice_id"),
            (greatest(col("bin") * budget - col("tokens_before"), lit(0L)) + 1L).as("slice_start"),
            least((col("bin") + 1L) * budget - col("tokens_before"), col("n_tok")).as("slice_end"))
          .withColumn("n_tok_slice", col("slice_end") - col("slice_start") + 1L)
          .orderBy(col("doc_id"), col("bin"))
    }

  /** Per-bin batch MANIFEST — the view of [[packSequences]] a training
    * loader actually consumes: for every fixed-budget bin, how many
    * slices it holds, its exact token count, and the ordered assembly
    * recipe `doc:start-end,doc:start-end,…` (1-based in-doc token
    * positions). The manifest line is the "read these spans in this
    * order" instruction for sequence assembly, and the ordered string
    * is also where cross-doc ATTENTION BOUNDARIES live — each `,`
    * marks a position the trainer must not attend across.
    *
    * Determinism: within a bin the stream order is doc_id order and a
    * doc contributes at most one slice per bin, so sorting the
    * collected slice structs by doc_id (array_sort on structs —
    * collect_list order is not deterministic, the sort is what makes
    * the string canonical) yields the exact string DuckDB's
    * `string_agg(... ORDER BY doc_id)` builds. 100 TB shape: rides the
    * distributed prefix sum, one hash aggregate keyed by bin; each
    * bin's manifest is budget/min-doc-length entries at most.
    */
  def packManifest(spark: SparkSession, dir: String, budget: Long = 2048, parts: Int = 32): DataFrame =
    packSequences(spark, dir, budget, parts)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_slices"),
        sum(col("n_tok_slice")).as("bin_tok"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("slice_start"), col("slice_end")))),
            s => concat(s.getField("doc_id").cast("string"), lit(":"),
              s.getField("slice_start").cast("string"), lit("-"),
              s.getField("slice_end").cast("string"))),
          ",").as("manifest"))
      .orderBy(col("bin"))

  /** Length-grouped batching with a padding-waste verdict — the
    * training-loader step between packing styles: when sequences are
    * padded to the batch max (SFT / any non-packed collator), batching
    * docs of similar length is what keeps the pad fraction low (HF
    * `group_by_length`, fairseq's length-bucketed iterators). Docs land
    * in power-of-two token-length buckets (bkt = how many of
    * 16..1024 thresholds they clear), within a bucket batches of
    * `batchSize` form in doc_id order, and every (bucket, batch) row
    * reports its max length, token mass, absolute pad waste
    * `n·max − Σtok`, and fill ratio — the "how much compute goes to
    * pad tokens" audit, with the verdict-vs-naive comparison asserted
    * in ExtSpec (bucketing must not lose to batching the corpus in raw
    * doc_id order).
    *
    * 100 TB shape: the within-bucket rank is the [[tokenPrefixFrame]]
    * trick with COUNTS — contiguous doc_id ranges sub-partition each
    * bucket, a ≤ buckets·`parts`-row aggregate broadcasts range
    * offsets back, and the only corpus-row window is partitioned by
    * (bucket, range): no partition ever exceeds a doc_id span. The
    * final rollup is one hash aggregate keyed (bucket, batch).
    */
  def lengthBatching(spark: SparkSession, dir: String,
      batchSize: Int = 8, parts: Int = 32): DataFrame = {
    val thresholds = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val maxIdRow = docs.agg(max(col("doc_id"))).head()
    if (maxIdRow.isNullAt(0))
      return docs.select(lit(0L).as("bkt"), lit(0L).as("batch"),
        lit(0L).as("n_docs"), lit(0L).as("batch_max"), lit(0L).as("batch_tok"),
        lit(0L).as("pad_waste"), lit(0.0).as("fill_ratio"))
    val span = maxIdRow.getLong(0) / parts + 1
    val bktCol = thresholds.map(t => when(col("n_tok") >= t, 1L).otherwise(0L)).reduce(_ + _)
    val bucketed = docs.withColumn("bkt", bktCol)
      .withColumn("idb", expr(s"CAST(doc_id div $span AS INT)"))
    // rows in earlier doc_id ranges of the same bucket — a window over
    // the ≤ 8·parts-row AGGREGATE frame, then broadcast back
    val counts = bucketed.groupBy(col("bkt"), col("idb")).agg(count(lit(1)).as("c"))
    val wOff = Window.partitionBy(col("bkt")).orderBy(col("idb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select(col("bkt"), col("idb"), col("off"))
    val wLocal = Window.partitionBy(col("bkt"), col("idb")).orderBy(col("doc_id"))
    bucketed
      .join(broadcast(offsets), Seq("bkt", "idb"))
      .withColumn("rk", row_number().over(wLocal) - 1L + col("off"))
      .withColumn("batch", expr(s"rk div $batchSize"))
      .groupBy(col("bkt"), col("batch"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("batch_max"),
        sum(col("n_tok")).as("batch_tok"))
      .withColumn("pad_waste", col("n_docs") * col("batch_max") - col("batch_tok"))
      .withColumn("fill_ratio",
        round(col("batch_tok") / (col("n_docs") * col("batch_max")), 6))
      .orderBy(col("bkt"), col("batch"))
  }

  /** Overlapping context-window chunking — the retrieval/RAG
    * counterpart of [[packBins]]: split each document's token sequence
    * into fixed `window`-token chunks advancing by `stride` tokens
    * (window − stride tokens of overlap), so a passage never straddles
    * a chunk boundary without also appearing whole in a neighbor. This
    * is the chunker every retrieval index and long-context training
    * pipeline runs before embedding; the emitted `chunk_md5` keys the
    * chunk-level dedup/embedding stages downstream.
    *
    * The last chunk starts at `⌈(n_tok − window)/stride⌉·stride + 1`
    * (integer form `(n_tok − window + stride − 1) div stride`, clamped
    * at 0) — the first start whose window reaches the final token — so
    * short documents emit exactly one chunk and no start is generated
    * past coverage (a naive `sequence(1, n_tok, stride)` emits
    * redundant tail chunks already fully covered by their
    * predecessor).
    *
    * 100 TB shape: pure row-local array work — `sequence` + `explode`
    * + `slice`, zero shuffle until the presentation sort; chunk count
    * per doc is n_tok/stride, so output size tracks corpus token
    * count, not document count.
    */
  def chunkOverlap(spark: SparkSession, dir: String,
      window: Int = 64, stride: Int = 48): DataFrame =
    chunkFrame(Tables.documents(spark, dir), window, stride)
      .drop("chunk_toks") // the token slice is for chunkNearDup's shingles, not the registered surface
      .orderBy(col("doc_id"), col("chunk_id"))

  /** The ONE chunk projection shared by [[chunkOverlap]],
    * [[chunkDedup]], and the streaming
    * [[graft.streaming.EventsStream.chunkDupCandidates]] — batch and
    * stream emit byte-identical chunk keys because they run this exact
    * expression, not a hand-kept copy. Pure row-local (sequence +
    * explode + slice), streaming-safe, zero shuffle.
    */
  private[graft] def chunkFrame(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs
      .select(col("doc_id").cast("long").as("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("start_tok", explode(expr(
        s"sequence(1L, greatest(0L, (n_tok - $window + ${stride - 1}) div $stride) * $stride + 1, CAST($stride AS BIGINT))")))
      .select(col("doc_id"),
        expr(s"(start_tok - 1) div $stride").as("chunk_id"),
        col("start_tok"),
        least(col("start_tok") + (window - 1), col("n_tok")).as("end_tok"),
        (least(col("start_tok") + (window - 1), col("n_tok")) - col("start_tok") + 1).as("n_tok_chunk"),
        md5(expr(s"array_join(slice(toks, CAST(start_tok AS INT), $window), ' ')")).as("chunk_md5"),
        expr(s"slice(toks, CAST(start_tok AS INT), $window)").as("chunk_toks"))
  }

  /** Per-chunk quality gate — the RAG-side sibling of the document
    * quality classifier: retrieval indexes chunks, not documents, so
    * a clean document can still emit junk chunks (the padded tail, a
    * token-repetition run) and they poison retrieval individually.
    * Per chunk: token count, type-token ratio, and a keep verdict
    * (ttr ≥ 0.3 — the repetition gate — and ≥ 16 tokens — the
    * degenerate-tail gate). Pure row-local over the shared
    * [[chunkFrame]], so the gated chunk set is keyed identically to
    * every other chunk-family face; zero shuffle before the
    * presentation sort.
    */
  def chunkQuality(spark: SparkSession, dir: String,
      window: Int = 64, stride: Int = 48): DataFrame =
    chunkQualityFor(Tables.documents(spark, dir), window, stride)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** The gate projection without the presentation sort — THE shared
    * face ([[chunkFrame]] discipline): applied to a streaming frame it
    * gates arriving documents row-locally with no state, so stream and
    * batch gate identical chunks.
    */
  private[graft] def chunkQualityFor(docs: DataFrame,
      window: Int, stride: Int): DataFrame =
    chunkFrame(docs, window, stride)
      .select(col("doc_id"), col("chunk_id"), col("n_tok_chunk"),
        round(size(array_distinct(col("chunk_toks"))) / size(col("chunk_toks")), 4).as("ttr"))
      .withColumn("keep", col("ttr") >= 0.3 && col("n_tok_chunk") >= 16)

  /** Cross-document duplicated CHUNKS — the batch face of
    * [[graft.streaming.EventsStream.chunkDupCandidates]] and the
    * chunk-granularity member of the dedup family (line_dedup works on
    * 4-token lines, substr_dedup on 8-token windows; this works on the
    * retrieval chunks [[chunkOverlap]] actually emits): every chunk
    * hash served by ≥2 distinct documents, with its spread. Feeding
    * chunk-level dedup before embedding cuts the ANN index and the
    * training set by exactly the syndicated/boilerplate mass.
    *
    * 100 TB shape: row-local chunking (zero shuffle) → one hash
    * aggregate on chunk_md5; output is bounded by the duplicated-chunk
    * count. min/max doc ids pin the canonical owner and the spread
    * without carrying per-doc lists.
    */
  def chunkDedup(spark: SparkSession, dir: String,
      window: Int = 64, stride: Int = 48): DataFrame =
    chunkOverlap(spark, dir, window, stride)
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("owner"),
        max(col("doc_id")).as("max_doc"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("chunk_md5"))

  /** Chunk-level NEAR-dup pairs — the gap [[chunkDedup]] leaves open:
    * md5 equality only catches byte-identical chunks, so a syndicated
    * passage with one token edited slips through at chunk granularity.
    * This runs the MinHash-LSH near-dup machinery (the
    * [[graft.ext.Dedup.minhashLshPairs]] pattern) at CHUNK granularity:
    * word-3-gram shingles within each chunk, banded MinHash candidates,
    * exact-Jaccard verify at ≥ 0.8.
    *
    * Feature choice: word 3-grams, NOT token sets — the corpus
    * vocabulary is small (a chunk contains most distinct tokens, so
    * token-set Jaccard saturates near 1 for unrelated chunks), while
    * 3-gram shingles encode local word ORDER and give a sharply bimodal
    * Jaccard (measured at sf0.01: unrelated pairs < 0.3, edited
    * syndication ≥ 0.8, nothing between 0.3 and 0.8).
    *
    * Scale design, outside-in:
    *   1. exact copies are collapsed FIRST — one representative chunk
    *      per chunk_md5 (lexicographic-min (doc_id, chunk_id), a
    *      keyed window over the md5 groups), so an N-times-syndicated
    *      chunk costs one row here instead of N banded rows and N²
    *      candidate pairs ([[chunkDedup]] already reports the exact
    *      mass);
    *   2. candidates come from 32-band MinHash signatures computed
    *      per-row (one [[graft.functions.MinHashBands]] call, no
    *      shuffle before the band equi-join; miss probability at
    *      J ≥ 0.8 is < 6e-8 with 128 hashes — the verified output
    *      equals brute force, which the recall spec asserts);
    *   3. verify is a hash equi-join back to the memoized rep frame
    *      and a row-local array_intersect; the threshold compares
    *      integers (`5·shared ≥ 4·(n1+n2−shared)`), so no 0.8 float
    *      boundary crosses the engine seam.
    * Sub-3-token chunks carry no 3-gram and are excluded — documented,
    * matching the shingle estimator's support (same convention as
    * DSIR's single-token docs).
    */
  def chunkNearDup(spark: SparkSession, dir: String,
      window: Int = 64, stride: Int = 48): DataFrame =
    chunkPairFrame(spark, dir, window, stride).orderBy(col("m1"), col("m2"))

  /** The memoized verified chunk pair frame behind [[chunkNearDup]] and
    * [[chunkClusters]] — unsorted (the registered surface adds the
    * presentation sort; the cluster solve consumes edges order-free,
    * the doc family's pairFrame convention). Memo keys carry the chunk
    * geometry: a 128/96 call must never serve 64/48 pairs.
    */
  private def chunkPairFrame(spark: SparkSession, dir: String,
      window: Int, stride: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // the verified pair frame is memoized (Frames lifecycle) so the
    // keep-warm successor `x_chunk_clusters` prices only its component
    // solve — the doc family's pairFrame contract at chunk granularity;
    // peekOrBuild's two-level discipline applies (ADVICE r13).
    Dedup.Frames.peekOrBuild(spark, s"chunkpairs:$dir:$window:$stride", dir)(
      chunkPairBuild(spark, dir, window, stride))
  }

  private def chunkPairBuild(spark: SparkSession, dir: String,
      window: Int, stride: Int): DataFrame = {
    val reps = Dedup.Frames.getOrCompute(spark, s"chunkrep:$dir:$window:$stride", dir) {
        val w = Window.partitionBy(col("chunk_md5")).orderBy(col("doc_id"), col("chunk_id"))
        chunkFrame(Tables.documents(spark, dir), window, stride)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("chunk_id"), col("chunk_md5"),
            expr("""CASE WHEN size(chunk_toks) < 3 THEN CAST(array() AS ARRAY<BIGINT>)
                    ELSE array_distinct(transform(sequence(1, size(chunk_toks) - 2),
                      i -> xxhash64(concat_ws(' ', element_at(chunk_toks, i),
                        element_at(chunk_toks, i + 1), element_at(chunk_toks, i + 2)))))
                    END""").as("ghs"))
          .filter(size(col("ghs")) > 0)
          .withColumn("n_g", size(col("ghs")).cast("long"))
      }
    Dedup.Frames.getOrCompute(spark, s"chunkpairs:$dir:$window:$stride", dir) {
      val banded = reps.select(col("chunk_md5"),
        posexplode(graft.functions.GraftFunctions.minhashBands(col("ghs"), 128, 32))
          .as(Seq("band", "bsig")))
      val cand = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("a.chunk_md5") < col("b.chunk_md5"))
        .select(col("a.chunk_md5").as("m1"), col("b.chunk_md5").as("m2"))
        .distinct()
      cand
        .join(reps.select(col("chunk_md5").as("m1"), col("doc_id").as("d1"),
          col("chunk_id").as("c1"), col("ghs").as("ghs1"), col("n_g").as("n1")), "m1")
        .join(reps.select(col("chunk_md5").as("m2"), col("doc_id").as("d2"),
          col("chunk_id").as("c2"), col("ghs").as("ghs2"), col("n_g").as("n2")), "m2")
        .withColumn("shared", expr("CAST(cardinality(array_intersect(ghs1, ghs2)) AS BIGINT)"))
        .filter(col("shared") * 5 >= (col("n1") + col("n2") - col("shared")) * 4)
        .select(col("m1"), col("m2"), col("d1"), col("c1"), col("d2"), col("c2"),
          col("n1"), col("n2"), col("shared"),
          (col("shared") / (col("n1") + col("n2") - col("shared"))).as("jac"))
    }
  }

  /** Packed chunk key `doc_id·2²⁰ + chunk_id` with a LOUD overflow
    * guard: a chunk_id past 2²⁰ (a single doc over ~50M tokens at the
    * default stride) would silently alias another document's chunks in
    * every tiebreak and cluster label — raise instead.
    */
  private def packedChunkKey: org.apache.spark.sql.Column = expr(
    s"""doc_id * ${1L << 20} + (CASE WHEN chunk_id < ${1L << 20} THEN chunk_id
        ELSE CAST(raise_error('chunk_id >= 2^20 overflows the packed dedup key — re-chunk or widen the shift') AS BIGINT) END)""")

  /** Incremental CHUNK dedup — the oracle-checked batch face of
    * [[graft.streaming.EventsStream.chunkDupCandidates]] and the
    * chunk-granularity member of the incremental family
    * ([[Dedup.incrementalNearDup]] is the document face): an arriving
    * batch (doc_id ≥ 400, the family's split convention) is judged
    * chunk-by-chunk against the standing corpus — a chunk already
    * served by a corpus document is a dup with that owner; a chunk
    * first served by an EARLIER batch chunk defers to it (first-wins
    * by (doc_id, chunk_id)); only first sightings are kept. This is
    * the per-ingest decision that keeps a growing store's chunk index
    * and embedding queue free of re-served boilerplate.
    *
    * The in-batch tiebreak key is the packed long `doc_id·2²⁰ +
    * chunk_id` — identical arithmetic on both engines, no struct
    * comparison crossing the seam (valid while chunk_id < 2²⁰, i.e.
    * docs under ~50M tokens at the default stride).
    *
    * 100 TB shape: row-local chunking → two hash aggregates on
    * chunk_md5 (corpus owners, batch firsts) + two equi-joins back;
    * output is one row per BATCH chunk only.
    */
  /** The standing corpus's chunk index: one row per distinct chunk_md5
    * with its canonical owner (min doc_id < `splitId`) — the STATIC
    * side of both [[chunkIncremental]] and the streaming
    * [[graft.streaming.EventsStream.chunkDedupAgainstStore]], built by
    * the same expression so batch and stream judge against identical
    * keys. 100 TB shape: row-local chunking → one hash aggregate;
    * typically persisted as a table the ingest re-reads per cycle.
    */
  def chunkIndex(spark: SparkSession, dir: String,
      window: Int = 64, stride: Int = 48, splitId: Long = Long.MaxValue): DataFrame =
    chunkFrame(Tables.documents(spark, dir), window, stride)
      .filter(col("doc_id") < splitId)
      .groupBy(col("chunk_md5")).agg(min(col("doc_id")).as("corpus_owner"))

  def chunkIncremental(spark: SparkSession, dir: String,
      window: Int = 64, stride: Int = 48, splitId: Long = 400): DataFrame = {
    val ch = chunkFrame(Tables.documents(spark, dir), window, stride)
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"))
    val corpus = chunkIndex(spark, dir, window, stride, splitId)
    val batch = ch.filter(col("doc_id") >= splitId)
      .withColumn("k", packedChunkKey)
    val batchFirst = batch.groupBy(col("chunk_md5")).agg(min(col("k")).as("fk"))
    batch
      .join(batchFirst, "chunk_md5")
      .join(corpus, Seq("chunk_md5"), "left")
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"),
        coalesce(col("corpus_owner"), lit(-1L)).as("corpus_owner"),
        col("corpus_owner").isNotNull.as("dup_of_corpus"),
        (col("k") > col("fk")).as("dup_of_batch"),
        (col("corpus_owner").isNull && col("k") === col("fk")).as("keep"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Chunk CLUSTERS — the component solve over the WHOLE chunk-dup
    * graph, turning [[chunkDedup]]'s exact matches and
    * [[chunkNearDup]]'s edited-syndication pairs into one actionable
    * label per chunk (the chunk-granularity face of
    * [[Dedup.dedupClusters]]): exact copies edge to their md5
    * representative, near-dup representatives edge to each other, and
    * every chunk gets its component's minimum (doc_id, chunk_id) as
    * canonical — `keep` marks exactly one surviving chunk per cluster,
    * the apply decision for a chunk-level dedup pass.
    *
    * Vertices are the packed longs `doc_id·2²⁰ + chunk_id` (see
    * [[chunkIncremental]] for the bound), so the size-adaptive
    * component solve ([[Dedup.componentsFor]]: driver union-find under
    * 10M edges, pointer-jumping min-label propagation above) is reused
    * verbatim. Edge count is bounded by the duplicated-chunk mass plus
    * the near-dup pair count — orders of magnitude below the chunk
    * count at corpus scale.
    */
  def chunkClusters(spark: SparkSession, dir: String,
      window: Int = 64, stride: Int = 48): DataFrame = {
    val ch = chunkFrame(Tables.documents(spark, dir), window, stride)
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"))
      .withColumn("k", packedChunkKey)
    val repK = ch.groupBy(col("chunk_md5")).agg(min(col("k")).as("rk"))
    val eqEdges = ch.join(repK, "chunk_md5").filter(col("k") =!= col("rk"))
      .select(col("rk").as("d1"), col("k").as("d2"))
    val ndEdges = chunkPairFrame(spark, dir, window, stride)
      .select((col("d1") * (1L << 20) + col("c1")).as("d1"),
        (col("d2") * (1L << 20) + col("c2")).as("d2"))
    val labels = Dedup.componentsFor(
      ch.select(col("k").as("doc_id")), eqEdges.union(ndEdges))
      .select(col("doc_id").as("k"), col("cluster"), col("keep"))
    ch.join(labels, "k")
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"),
        expr(s"cluster div ${1L << 20}").as("cluster_doc"),
        pmod(col("cluster"), lit(1L << 20)).as("cluster_chunk"),
        col("keep"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Data Selection via Importance Resampling (DSIR — Xie et al.,
    * NeurIPS 2023): pick raw-pool documents whose hashed-n-gram
    * distribution looks like a target (high-quality) corpus, the
    * domain-matching selection step modern pretraining pipelines run
    * between cleaning and mixing. Feature space is word bigrams hashed
    * to `nBuckets` buckets (the paper's hashed n-gram estimator); the
    * target distribution is estimated from this corpus's own val split
    * and the raw pool is its train split (the md5 buckets of
    * [[sampleSplit]]), so the whole computation is a pure function of
    * the corpus. Per-bucket log-likelihood ratios are Laplace-smoothed
    * (+0.5 / +B/2) and QUANTIZED to integer micro-nats — per-doc
    * importance weights are then exact integer sums, immune to float
    * summation order across engines and partitionings. Sampling
    * without replacement uses the Gumbel-top-k trick with a
    * deterministic md5-derived uniform per doc (u = (h24+0.5)/2^24),
    * so the "random" draw is replayable and oracle-checkable.
    * Single-token documents have no bigram and are never drawn —
    * documented, matching the estimator's support.
    *
    * 100 TB shape: the explode is corpus-token-sized but collapses to
    * a `nBuckets`-row hash aggregate (map-side partials); the ratio
    * table broadcasts back; per-doc weights are one hash aggregate;
    * the draw is the bounded TopKByScore tail with a 100-row broadcast
    * join-back. Two bounded driver touches (the two split totals),
    * inlined as literals the oracle recomputes exactly.
    */
  def dsirSample(spark: SparkSession, dir: String,
      nBuckets: Int = 1024, k: Int = 100): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val feats = dsirFeats(spark, dir, nBuckets)
    // Memoize the ≤nBuckets-row per-bucket counts (the Dedup.Frames
    // lifecycle: fingerprinted per corpus, dropped by releaseCaches /
    // clearCache — a bare persist here leaked across repeated API
    // calls): the totals collect and the ratio-table leg then share
    // ONE md5 explode (the per-doc weight leg re-runs it once more —
    // caching the exploded or per-(doc,bucket) frame instead costs a
    // corpus-scale shuffle or cache that measured SLOWER than
    // recomputing the row-local md5s, and would be the wrong trade at
    // 100 TB for the same reason).
    val (counts, tct, tcr) = dsirCounts(spark, dir, nBuckets, feats)
    val half = nBuckets / 2.0
    val lam = counts.select(col("b"),
      floor((log((col("ct") + 0.5) / lit(tct + half)) - log((col("cr") + 0.5) / lit(tcr + half)))
        * 1000000 + 0.5).cast("long").as("lam_q"))
    // one row per raw doc; referenced by both the top-k draw and the
    // join-back, which would otherwise each re-run the explode leg —
    // memoized under the same corpus-fingerprinted lifecycle as counts
    val scored = Dedup.Frames.getOrCompute(spark, s"dsir_scored:$dir:$nBuckets", dir)(
      feats.filter(!col("is_target"))
        .join(broadcast(lam), "b")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feat"), sum(col("lam_q")).as("logw_q"))
        .withColumn("u",
          (expr("CAST(conv(substring(md5(concat('dsir:', CAST(doc_id AS STRING))), 1, 6), 16, 10) AS BIGINT)")
            + 0.5) / lit(16777216.0))
        .withColumn("g", round(col("logw_q") / 1000000.0 - log(-log(col("u"))), 6)))
    val winners = scored
      .agg(graft.functions.GraftFunctions.topKByScore(col("g"), col("doc_id"), k).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rk"), col("s.id").as("doc_id"))
    scored.join(broadcast(winners), "doc_id")
      .select(col("rk"), col("doc_id"), col("n_feat"),
        (col("logw_q") / 1000000.0).as("logw"), col("g"))
      .orderBy(col("rk"))
  }

  /** The hashed-bigram (doc_id, is_target, bucket) explode shared by
    * [[dsirSample]] and [[dsirRatioQ]] — the paper's feature extractor
    * as one row-local expression (target = val split, raw = train
    * split, per [[sampleSplit]]'s md5 buckets).
    */
  /** The hashed-bigram bucket expression over a token-array column `w`
    * — ONE definition feeds the batch extractor ([[dsirFeats]]) and the
    * streaming scorer ([[graft.streaming.EventsStream.dsirScoreStream]]),
    * so the stream/batch bit-identity contract is enforced by sharing,
    * not by keeping two copies in sync.
    */
  private[graft] def bigramBucketsSql(nBuckets: Int): String =
    s"""CASE WHEN size(w) < 2 THEN CAST(array() AS ARRAY<BIGINT>)
        ELSE transform(sequence(1, size(w) - 1),
          i -> CAST(conv(substring(md5(concat(element_at(w, i), ' ', element_at(w, i + 1))), 1, 3), 16, 10) AS BIGINT) % $nBuckets)
        END"""

  private def dsirFeats(spark: SparkSession, dir: String, nBuckets: Int): DataFrame =
    // widened scan (round 22): the md5-bigram explode is the CPU cost
    // and ran on the 1-task narrow scan (the kmv/f2/lang r21 pattern);
    // 3-rep TimeMany A/B: narrow 2.01/2.01 s steady vs WIDE 1.49/1.63 s
    Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100")
          .as("sbucket"),
        split(col("text"), " ").as("w"))
      .filter(col("sbucket") < 90)
      .withColumn("is_target", col("sbucket") >= 80)
      .select(col("doc_id"), col("is_target"),
        explode(expr(bigramBucketsSql(nBuckets))).as("b"))

  /** The memoized per-bucket (target, raw) counts + split totals behind
    * [[dsirSample]] and [[dsirRatioQ]] — one corpus-token-sized explode
    * collapsing to a ≤`nBuckets`-row hash aggregate, shared through the
    * Frames lifecycle.
    */
  private def dsirCounts(spark: SparkSession, dir: String, nBuckets: Int,
      feats: DataFrame): (DataFrame, Long, Long) = {
    // nBuckets is part of the memo key: counts taken mod 1024 must
    // never serve a 512-bucket caller (review r12)
    val counts = Dedup.Frames.getOrCompute(spark, s"dsir_counts:$dir:$nBuckets", dir)(
      feats.groupBy(col("b")).agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("is_target"), 1L).otherwise(0L)).as("cr")))
    val tot = counts.agg(
      coalesce(sum(col("ct")), lit(0L)).as("tct"),
      coalesce(sum(col("cr")), lit(0L)).as("tcr")).head()
    (counts, tot.getLong(0), tot.getLong(1))
  }

  /** The DSIR log-likelihood-ratio table as a dense `nBuckets`-long
    * array (micro-nat integers, index = bucket): the broadcastable form
    * the STREAMING scorer inlines as a literal
    * ([[graft.streaming.EventsStream.dsirScoreStream]]). Buckets never
    * observed in the batch corpus get the same Laplace-smoothed formula
    * at ct = cr = 0 — a novel bucket arriving on the stream scores the
    * smoothing prior instead of failing the lookup. The Scala
    * quantization mirrors the SQL expression op-for-op (Math.log both
    * sides), so a stream-scored doc's integer weight is bit-identical
    * to the batch join-based weight — the property the batch-agreement
    * spec asserts.
    */
  def dsirRatioQ(spark: SparkSession, dir: String, nBuckets: Int = 1024): Array[Long] = {
    val (counts, tct, tcr) = dsirCounts(spark, dir, nBuckets, dsirFeats(spark, dir, nBuckets))
    val half = nBuckets / 2.0
    val observed = counts.collect()
      .map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2)))).toMap
    Array.tabulate(nBuckets) { b =>
      val (ct, cr) = observed.getOrElse(b, (0L, 0L))
      math.floor((math.log((ct + 0.5) / (tct + half)) - math.log((cr + 0.5) / (tcr + half)))
        * 1000000 + 0.5).toLong
    }
  }
}
