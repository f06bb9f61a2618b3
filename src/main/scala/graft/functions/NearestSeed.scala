package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** The engine's one nearest-centroid kernel: the `n` best of K
  * centroids by rounded cosine, as array<struct(neg_cos double,
  * cell_id bigint)> of min(n, K) entries. Every cell assignment
  * (`n` = 1), probe list (`n` = nprobe) and silhouette top-2 goes
  * through it.
  *
  * The centroid matrix rides along as a REFERENCE OBJECT
  * (`ctx.addReferenceObj`) and the generated code reads K and the
  * embedding width from it, so the generated source carries neither
  * K nor any centroid value: one compiled class serves every
  * centroid set, and no K reaches the 64 KB method limit (the
  * literal-inline form this replaced left whole-stage codegen at a
  * few hundred cells — BASELINE.md, "Round 20 seed-assignment A/B
  * past the literal edge").
  *
  * Arithmetic contract (spec-asserted against the literal
  * `slice(array_sort(array(struct(-round(cosine_sim(embedding, c), 6),
  * cell_id) …)), 1, n)` reference kept in the specs):
  *   - per-candidate cosine is [[CosineSim]]'s exact accumulation
  *     sequence over min(|emb|, dim) elements (the embedding norm is
  *     hoisted — same value, same operation order);
  *   - each candidate is rounded through [[NearestSeed.round6]] =
  *     `java.math.BigDecimal.valueOf(x).setScale(6, HALF_UP)`, the
  *     exact arithmetic Spark's `round(_, 6)` generates, BEFORE
  *     comparison (two candidates that round equal must tie);
  *   - entries are ordered by `java.lang.Double.compare` on neg_cos
  *     (NaN greatest), then the smaller cell_id — the struct order
  *     `array_sort` gives, whatever order the centroids arrive in.
  */
case class NearestSeed(child: Expression, cellIds: Seq[Long], matrix: Seq[Float], n: Int)
    extends UnaryExpression {

  require(cellIds.nonEmpty, "nearest_seed requires at least one centroid")
  require(matrix.length % cellIds.length == 0,
    s"matrix length ${matrix.length} not a multiple of ${cellIds.length} centroids")
  require(n >= 1, s"nearest_seed needs n >= 1, got $n")

  @transient private lazy val cellArr: Array[Long] = cellIds.toArray
  @transient private lazy val matArr: Array[Float] = matrix.toArray

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neg_cos", DoubleType, nullable = false),
    StructField("cell_id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_seed"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    NearestSeed.topN(input.asInstanceOf[ArrayData], cellArr, matArr, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cells = ctx.addReferenceObj("nearestSeedCells", cellArr, "long[]")
      val mat = ctx.addReferenceObj("nearestSeedMatrix", matArr, "float[]")
      s"${ev.value} = graft.functions.NearestSeed.topN($a, $cells, $mat, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestSeed {
  /** The `n` nearest of the centroids `mat` (row-major, one row per
    * `cells` entry) to `v`, best first — shared by eval and the
    * generated code, so both paths are one definition.
    */
  def topN(v: ArrayData, cells: Array[Long], mat: Array[Float], n: Int): ArrayData = {
    val dim = mat.length / cells.length
    val len = math.min(v.numElements(), dim)
    var na = 0.0
    var i = 0
    while (i < len) { val xv = v.getFloat(i).toDouble; na += xv * xv; i += 1 }
    val top = math.min(n, cells.length)
    val negs = new Array[Double](top)
    val ids = new Array[Long](top)
    var filled = 0
    var c = 0
    while (c < cells.length) {
      val base = c * dim
      var dot = 0.0; var nb = 0.0
      var j = 0
      while (j < len) {
        val xv = v.getFloat(j).toDouble
        val yv = mat(base + j).toDouble
        dot += xv * yv; nb += yv * yv
        j += 1
      }
      val neg = -round6(dot / (math.sqrt(na) * math.sqrt(nb)))
      val id = cells(c)
      // insertion into the sorted kept prefix; a full list drops a
      // candidate that does not beat its last entry
      if (filled < top || before(neg, id, negs(top - 1), ids(top - 1))) {
        var p = if (filled < top) filled else top - 1
        while (p > 0 && before(neg, id, negs(p - 1), ids(p - 1))) {
          negs(p) = negs(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        negs(p) = neg; ids(p) = id
        if (filled < top) filled += 1
      }
      c += 1
    }
    new GenericArrayData(Array.tabulate[Any](top)(k => InternalRow(negs(k), ids(k))))
  }

  private def before(neg: Double, id: Long, otherNeg: Double, otherId: Long): Boolean = {
    val o = java.lang.Double.compare(neg, otherNeg)
    o < 0 || (o == 0 && id < otherId)
  }

  /** The exact arithmetic Spark's `round(x, 6)` performs on a double
    * (RoundBase, HALF_UP over `BigDecimal.valueOf`) — so the kernel's
    * per-candidate rounding is bit-identical to
    * `round(cosine_sim(...), 6)`. NaN/Infinity pass through exactly as
    * Spark's round does (its codegen guards before
    * `BigDecimal.valueOf`, which THROWS on non-finite input) — a
    * zero-norm or empty embedding yields cosine 0/0 = NaN, which sorts
    * greatest, so such a candidate never ranks ahead of a finite one
    * and an all-NaN row falls to the smallest cell_id.
    */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
