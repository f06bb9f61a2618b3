package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Compiled nearest-seed assignment kernel (round 20): the argmax over
  * K centroids of the rounded cosine, as ONE expression whose
  * generated code is O(1) in K — the centroid matrix rides along as a
  * REFERENCE OBJECT (`ctx.addReferenceObj`), never as literal
  * expression nodes, so the kernel compiles at any K where the
  * literal-inline `cellScoreArray` form (BASELINE.md, "Round 20
  * seed-assignment A/B past the literal edge": out of whole-stage
  * codegen at 512 cells already, 64 KB-degraded fallback past 1k)
  * cannot.
  *
  * Bit-equivalence contract with the literal form (spec-asserted):
  *   - per-candidate cosine is [[CosineSim]]'s exact accumulation
  *     sequence over n = min(|emb|, dim) elements (the embedding norm
  *     is hoisted — same value, same operation order);
  *   - each candidate is rounded through [[NearestSeed.round6]] =
  *     `java.math.BigDecimal.valueOf(x).setScale(6, HALF_UP)`, the
  *     exact arithmetic Spark's `round(_, 6)` generates, BEFORE
  *     comparison (two candidates that round equal must tie, and ties
  *     go to the smaller cell_id — comparing raw cosines would break
  *     that);
  *   - the running min uses `java.lang.Double.compare`, which is
  *     Spark's SQL double ordering (NaN greatest, −0.0 < 0.0), with
  *     ties keeping the earlier candidate — centroids arrive sorted by
  *     cell_id ([[graft.ext.Similarity.seedCentroids]]), so this IS
  *     the (−cos asc, cell_id asc) struct-min.
  *
  * Returns struct(neg_cos double, cell_id bigint) — the same winner
  * shape `array_min(cellScoreArray(...))` produces.
  */
case class NearestSeed(child: Expression, cellIds: Seq[Long], matrix: Seq[Float])
    extends UnaryExpression {

  require(cellIds.nonEmpty, "nearest_seed requires at least one centroid")
  require(matrix.length % cellIds.length == 0,
    s"matrix length ${matrix.length} not a multiple of ${cellIds.length} centroids")

  private val dim: Int = matrix.length / cellIds.length
  @transient private lazy val cellArr: Array[Long] = cellIds.toArray
  @transient private lazy val matArr: Array[Float] = matrix.toArray

  override def dataType: DataType = StructType(Seq(
    StructField("neg_cos", DoubleType, nullable = false),
    StructField("cell_id", LongType, nullable = false)))
  override def prettyName: String = "nearest_seed"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    var na = 0.0
    var i = 0
    while (i < n) { val xv = v.getFloat(i).toDouble; na += xv * xv; i += 1 }
    var bestNeg = Double.NaN
    var bestId = 0L
    var first = true
    var c = 0
    while (c < cellArr.length) {
      val base = c * dim
      var dot = 0.0; var nb = 0.0
      var j = 0
      while (j < n) {
        val xv = v.getFloat(j).toDouble
        val yv = matArr(base + j).toDouble
        dot += xv * yv; nb += yv * yv
        j += 1
      }
      val neg = -NearestSeed.round6(dot / (math.sqrt(na) * math.sqrt(nb)))
      if (first || java.lang.Double.compare(neg, bestNeg) < 0) {
        bestNeg = neg; bestId = cellArr(c); first = false
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestNeg, bestId))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cells = ctx.addReferenceObj("nearestSeedCells", cellArr, "long[]")
      val mat = ctx.addReferenceObj("nearestSeedMatrix", matArr, "float[]")
      val n = ctx.freshName("n")
      val na = ctx.freshName("na")
      val bestNeg = ctx.freshName("bestNeg")
      val bestId = ctx.freshName("bestId")
      val first = ctx.freshName("first")
      val c = ctx.freshName("c")
      val base = ctx.freshName("base")
      val dot = ctx.freshName("dot")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val neg = ctx.freshName("neg")
      s"""
         |int $n = Math.min($a.numElements(), $dim);
         |double $na = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  $na += $xv * $xv;
         |}
         |double $bestNeg = Double.NaN;
         |long $bestId = 0L;
         |boolean $first = true;
         |for (int $c = 0; $c < ${cellArr.length}; $c++) {
         |  int $base = $c * $dim;
         |  double $dot = 0.0, $nb = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    double $xv = (double) $a.getFloat($j);
         |    double $yv = (double) $mat[$base + $j];
         |    $dot += $xv * $yv; $nb += $yv * $yv;
         |  }
         |  double $neg = -graft.functions.NearestSeed.round6($dot / (Math.sqrt($na) * Math.sqrt($nb)));
         |  if ($first || java.lang.Double.compare($neg, $bestNeg) < 0) {
         |    $bestNeg = $neg; $bestId = $cells[$c]; $first = false;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[] { java.lang.Double.valueOf($bestNeg), java.lang.Long.valueOf($bestId) });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestSeed {
  /** The exact arithmetic Spark's `round(x, 6)` performs on a double
    * (RoundBase, HALF_UP over `BigDecimal.valueOf`) — shared by eval
    * and the generated code so the kernel's per-candidate rounding is
    * bit-identical to the literal form's `round(cosine_sim(...), 6)`.
    * NaN/Infinity pass through exactly as Spark's round does (its
    * codegen guards before `BigDecimal.valueOf`, which THROWS on
    * non-finite input) — a zero-norm or empty embedding yields cosine
    * 0/0 = NaN, and the literal form carries that NaN into the struct
    * order (NaN sorts greatest, so such a candidate never wins the
    * argmin unless every candidate is NaN); the kernel must not crash
    * where the literal form ranks.
    */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
