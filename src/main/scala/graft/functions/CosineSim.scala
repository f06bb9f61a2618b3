package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused cosine similarity over two float vectors — a native Catalyst
  * expression with whole-stage codegen (SURVEY.md §4.3: the one
  * perf-conditional custom expression; measurement at sf0.1 showed the
  * higher-order-function formulation at 179 s for the all-pairs query,
  * dominated by interpreted per-pair array folds).
  *
  * One pass computes dot(a,b), ‖a‖², ‖b‖² with double accumulators in
  * index order — the accumulation sequence is IDENTICAL to the
  * zip_with/aggregate formulation it replaces (and to DuckDB's
  * list_dot_product loop), so results are bit-equal and the oracle
  * contract is unchanged.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused integer dot product over two bigint arrays (the int8-quantized
  * ANN scoring kernel). The zip_with + aggregate HOF formulation it
  * replaces ran two interpreted lambdas and allocated an intermediate
  * array per PAIR — measured 3.4 s for the quantized top-k at sf0.1,
  * dominated by exactly that; one codegen'd loop with a long
  * accumulator is the whole cost. Exact integer arithmetic — identical
  * to the oracle's sum regardless of order.
  */
case class DotLong(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused squared-L2 distance over two double vectors — the PQ/ADC
  * scoring kernel (x_sim_pq). One codegen pass accumulates ‖a‖², a·b,
  * ‖b‖² in index order and combines them as ‖a‖² − 2·(a·b) + ‖b‖² —
  * the EXACT expression the DuckDB oracle writes
  * (`list_dot_product(a,a) - 2*list_dot_product(a,b) +
  * list_dot_product(b,b)`), each accumulator running the same
  * sequential loop as `list_dot_product`, so the IEEE double result is
  * bit-equal cross-engine. Double (not float) input because both PQ
  * call sites — 8-dim subvector-vs-codebook argmin and 64-dim
  * query-vs-reconstruction ADC — feed literal-double codebook arrays.
  */
case class SqDistL2(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist_l2"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var naa = 0.0; var dab = 0.0; var nbb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      naa += xv * xv; dab += xv * yv; nbb += yv * yv
      i += 1
    }
    naa - 2.0 * dab + nbb
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val naa = ctx.freshName("naa")
      val dab = ctx.freshName("dab")
      val nbb = ctx.freshName("nbb")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $naa = 0.0, $dab = 0.0, $nbb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $naa += $xv * $xv; $dab += $xv * $yv; $nbb += $yv * $yv;
         |}
         |${ev.value} = $naa - 2.0 * $dab + $nbb;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registry + Column-API access for the custom expressions. Column ↔
  * Expression bridges are private[sql] in Spark 4, so functions resolve
  * through the FunctionRegistry + call_function (the supported route).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  /** Idempotent per-session registration: skips names already present
    * (either from a previous call or injected via GraftExtensions), so
    * repeated calls from query builders don't log replace warnings.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("cosine_sim")))
      reg.createOrReplaceTempFunction(
        "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("minhash128")))
      reg.createOrReplaceTempFunction(
        "minhash128", exprs => MinHash128(exprs(0)), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("ngram_shingles")))
      reg.createOrReplaceTempFunction(
        "ngram_shingles", exprs => NgramShingles(exprs(0), intLit(exprs(1))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("collect_set_capped")))
      reg.createOrReplaceTempFunction(
        "collect_set_capped", exprs => CollectSetCapped(exprs(0), intLit(exprs(1))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("topk_by_score")))
      reg.createOrReplaceTempFunction(
        "topk_by_score", exprs => TopKByScore(exprs(0), exprs(1), intLit(exprs(2))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("topk_by_score_str")))
      reg.createOrReplaceTempFunction(
        "topk_by_score_str", exprs => TopKByScoreStr(exprs(0), exprs(1), intLit(exprs(2))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("bottomk_distinct")))
      reg.createOrReplaceTempFunction(
        "bottomk_distinct", exprs => BottomKDistinct(exprs(0), intLit(exprs(1))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("simhash_md5")))
      reg.createOrReplaceTempFunction(
        "simhash_md5", exprs => SimHashAgg(exprs(0), exprs(1)), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("minhash_bands")))
      reg.createOrReplaceTempFunction(
        "minhash_bands", exprs => MinHashBands(exprs(0), intLit(exprs(1)), intLit(exprs(2))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("freq_sketch")))
      reg.createOrReplaceTempFunction(
        "freq_sketch", exprs => FreqSketch(exprs(0), intLit(exprs(1))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("token_window_hashes")))
      reg.createOrReplaceTempFunction(
        "token_window_hashes", exprs => TokenWindowHashes(exprs(0), intLit(exprs(1))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("cdc_boundary_positions")))
      reg.createOrReplaceTempFunction(
        "cdc_boundary_positions", exprs => CdcBoundaryPositions(exprs(0)), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("winnow_select")))
      reg.createOrReplaceTempFunction(
        "winnow_select", exprs => WinnowSelect(exprs(0), intLit(exprs(1)), intLit(exprs(2))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("dot_long")))
      reg.createOrReplaceTempFunction(
        "dot_long", exprs => DotLong(exprs(0), exprs(1)), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("sq_dist_l2")))
      reg.createOrReplaceTempFunction(
        "sq_dist_l2", exprs => SqDistL2(exprs(0), exprs(1)), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("nearest_seed")))
      reg.createOrReplaceTempFunction(
        "nearest_seed",
        exprs => NearestSeed(exprs(0), longArrayLit(exprs(1)), floatArrayLit(exprs(2)), intLit(exprs(3))),
        "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("char_window_md5")))
      reg.createOrReplaceTempFunction(
        "char_window_md5",
        exprs => CharWindowMd5Hashes(exprs(0), intLit(exprs(1))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("char_bigram_buckets")))
      reg.createOrReplaceTempFunction(
        "char_bigram_buckets",
        exprs => CharBigramBucketCounts(exprs(0), intLit(exprs(1))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("pq_encode")))
      reg.createOrReplaceTempFunction(
        "pq_encode",
        exprs => PqEncode(exprs(0), intLit(exprs(1)), intLit(exprs(2)), doubleArrayLit(exprs(3))),
        "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("adc_score")))
      reg.createOrReplaceTempFunction(
        "adc_score",
        exprs => AdcScore(exprs(0), exprs(1), intLit(exprs(2)), intLit(exprs(3)), doubleArrayLit(exprs(4))),
        "scala_udf")
    // Spark's own runtime-row-filter machinery, surfaced for explicit
    // use: BloomFilterAggregate builds a serialized filter over a LONG
    // key column; BloomFilterMightContain probes it. The same pair the
    // optimizer injects for shuffle-join pre-filtering — no custom
    // sketch code, no UDF, Predicate-level codegen on the probe side.
    if (!reg.functionExists(FunctionIdentifier("bloom_build")))
      reg.createOrReplaceTempFunction(
        "bloom_build",
        exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2)),
        "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("outer_product_q")))
      reg.createOrReplaceTempFunction(
        "outer_product_q", exprs => OuterProductAgg(exprs(0), intLit(exprs(1))), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("nfc_normalize")))
      reg.createOrReplaceTempFunction(
        "nfc_normalize", exprs => NfcNormalize(exprs(0)), "scala_udf")
    if (!reg.functionExists(FunctionIdentifier("bloom_might_contain")))
      reg.createOrReplaceTempFunction(
        "bloom_might_contain",
        exprs => org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1)),
        "scala_udf")
  }

  private def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"expected an integer literal argument, got $other")
    }

  private def longArrayLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Long] =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(LongType, _)) =>
        v.toLongArray().toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"expected an array<bigint> literal argument, got $other")
    }

  private def floatArrayLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Float] =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(FloatType, _)) =>
        v.toFloatArray().toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"expected an array<float> literal argument, got $other")
    }

  private def doubleArrayLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Double] =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(DoubleType, _)) =>
        v.toDoubleArray().toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"expected an array<double> literal argument, got $other")
    }

  /** Requires [[register]] to have been called on the owning session. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Aggregate: 128-long MinHash signature over pre-hashed shingles. */
  def minhash128(h: Column): Column = call_function("minhash128", h)

  /** Distinct n-gram shingle array of a string column. */
  def ngramShingles(s: Column, n: Int): Column =
    call_function("ngram_shingles", s, org.apache.spark.sql.functions.lit(n))

  /** Bounded-state distinct-collect: at most `cap` bigints per group. */
  def collectSetCapped(v: Column, cap: Int): Column =
    call_function("collect_set_capped", v, org.apache.spark.sql.functions.lit(cap))

  /** Aggregate: k best (score, id) pairs, (score DESC, id ASC). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_score", score, id, org.apache.spark.sql.functions.lit(k))

  /** Aggregate: k best (score, id) pairs with STRING ids, (score DESC,
    * id ASC in UTF8 binary order).
    */
  def topKByScoreStr(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_score_str", score, id, org.apache.spark.sql.functions.lit(k))

  /** Aggregate: the k smallest DISTINCT bigints per group, ascending
    * (the KMV sketch insert — duplicate-absorbing, so no distinct
    * pass is needed in front of it).
    */
  def bottomKDistinct(v: Column, k: Int): Column =
    call_function("bottomk_distinct", v, org.apache.spark.sql.functions.lit(k))

  /** Aggregate: SimHash-64 majority fingerprint (hex string) over
    * packed md5 halves.
    */
  def simhashMd5Agg(h1: Column, h2: Column): Column =
    call_function("simhash_md5", h1, h2)

  /** Aggregate: Misra-Gries frequent-items counters (item, est),
    * bounded at `capacity` entries per group.
    */
  def freqSketch(item: Column, capacity: Int): Column =
    call_function("freq_sketch", item, org.apache.spark.sql.functions.lit(capacity))

  /** Fused exact integer dot product of two bigint arrays. */
  def dotLong(a: Column, b: Column): Column = call_function("dot_long", a, b)

  /** Aggregate: exact Σ x·xᵀ Gram matrix (row-major dim² bigints) over
    * quantized integer vectors; symmetric-triangle partial buffers.
    */
  def outerProductQ(v: Column, dim: Int): Column =
    call_function("outer_product_q", v, org.apache.spark.sql.functions.lit(dim))

  /** Fused squared-L2 distance of two double arrays (oracle-bit-exact). */
  def sqDistL2(a: Column, b: Column): Column = call_function("sq_dist_l2", a, b)

  /** The `n` nearest centroids of a flattened centroid matrix, best
    * first — array<struct(neg_cos, cell_id)> (see [[NearestSeed]]).
    * The matrix/ids travel as array literals only to cross the
    * FunctionRegistry boundary; the expression folds them into
    * reference objects, so the generated code is the same for every
    * centroid set.
    */
  def nearestSeed(emb: Column, cellIds: Array[Long], matrix: Array[Float], n: Int): Column =
    call_function("nearest_seed", emb,
      org.apache.spark.sql.functions.typedLit(cellIds),
      org.apache.spark.sql.functions.typedLit(matrix),
      org.apache.spark.sql.functions.lit(n))

  /** All w-token window hashes of a string, in window order. */
  def tokenWindowHashes(s: Column, w: Int): Column =
    call_function("token_window_hashes", s, org.apache.spark.sql.functions.lit(w))

  /** Rolling-hash CDC boundary positions (1-based char offsets). */
  def cdcBoundaryPositions(s: Column): Column =
    call_function("cdc_boundary_positions", s)

  /** Winnowed md5-hex fingerprints of the w-token windows (MOSS). */
  def winnowSelect(s: Column, w: Int, k: Int): Column =
    call_function("winnow_select", s,
      org.apache.spark.sql.functions.lit(w),
      org.apache.spark.sql.functions.lit(k))

  /** Per-row banded MinHash signatures over a shingle-hash array. */
  def minhashBands(ngs: Column, numHashes: Int, bands: Int): Column =
    call_function("minhash_bands", ngs,
      org.apache.spark.sql.functions.lit(numHashes),
      org.apache.spark.sql.functions.lit(bands))

  /** Unicode NFC canonical composition of a string column. */
  def nfcNormalize(s: Column): Column = call_function("nfc_normalize", s)

  /** Aggregate: serialized Bloom filter over a bigint key column. */
  def bloomBuild(key: Column, expectedItems: Long, numBits: Long): Column =
    call_function("bloom_build", key,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(numBits))

  /** Probe: might `key` be in the serialized filter? (no false negatives) */
  def bloomMightContain(bloom: Column, key: Column): Column =
    call_function("bloom_might_contain", bloom, key)

  /** All n-char-window md5 prefix-32 hashes of a string, in window
    * order — `conv(substring(md5(substring(s,i,n)),1,8),16,10)` per
    * window, empty array below n chars (see [[CharWindowMd5Hashes]]).
    */
  def charWindowMd5(s: Column, n: Int): Column =
    call_function("char_window_md5", s, org.apache.spark.sql.functions.lit(n))

  /** Row-local hashed char-bigram bucket counts
    * [n_windows, count_0, …] (see [[CharBigramBucketCounts]]). */
  def charBigramBuckets(s: Column, buckets: Int): Column =
    call_function("char_bigram_buckets", s, org.apache.spark.sql.functions.lit(buckets))

  /** Compiled PQ encode: array<int> of m per-subspace argmin codes
    * against a row-major flattened [j][c][d] codebook array — bit-equal
    * to the m·ksub literal `round(sq_dist_l2(slice…))` struct-min form
    * (see [[PqEncode]]). Books cross the FunctionRegistry boundary as
    * an array literal, then fold into a reference object.
    */
  def pqEncode(v: Column, m: Int, ksub: Int, flatBooks: Array[Double]): Column =
    call_function("pq_encode", v,
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(ksub),
      org.apache.spark.sql.functions.typedLit(flatBooks))

  /** Compiled ADC score: rounded ‖q − reconstruction(codes)‖² against
    * the same flattened codebooks — bit-equal to
    * `round(sq_dist_l2(q, concat(element_at…)), 6)` (see [[AdcScore]]).
    */
  def adcScore(q: Column, codes: Column, m: Int, ksub: Int, flatBooks: Array[Double]): Column =
    call_function("adc_score", q, codes,
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(ksub),
      org.apache.spark.sql.functions.typedLit(flatBooks))
}
