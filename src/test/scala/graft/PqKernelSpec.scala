package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}
import graft.functions.GraftFunctions

/** Bit-equality contract of the round-21 compiled PQ kernels
  * ([[graft.functions.PqEncode]], [[graft.functions.AdcScore]])
  * against the literal expression forms they replaced — the
  * NearestSeed-vs-[[LiteralCells]] convention applied to PQ encode/ADC
  * (VERDICT r20 #1). The literal forms stay in the codebase purely as
  * the independent reference these assertions compare against.
  */
class PqKernelSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("pq encode kernel is bit-equal to the literal struct-min form on the trained residual books") {
    GraftFunctions.register(spark)
    val (enc, books, _) = Similarity.pqResidualTrained(spark, dir, 8, 16, 2)
    val m = books.length
    // enc's rcodes column is the kernel path; rebuild the literal
    // m·ksub struct-min form over the SAME resid column
    val rows = enc
      .withColumn("lit_codes", array((0 until m).map(Similarity.residCodeFor(books)): _*))
      .select(col("vec_id"), col("rcodes"), col("lit_codes"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"vec ${r.getLong(0)}: kernel ${r.getSeq[Int](1)} vs literal ${r.getSeq[Int](2)}")
    }
    Dedup.releaseCaches()
  }

  test("adc score kernel is bit-equal to reconstruction + sq_dist_l2 on the trained residual books") {
    GraftFunctions.register(spark)
    val (enc, books, _) = Similarity.pqResidualTrained(spark, dir, 8, 16, 2)
    val m = books.length
    val ksub = books(0).length
    val flat = books.flatMap(_.flatMap(_.toSeq))
    val recon = concat((0 until m).map { j =>
      element_at(typedLit(books(j).map(_.toIndexedSeq).toIndexedSeq),
        (element_at(col("rcodes"), j + 1) + 1).cast("int"))
    }: _*)
    val sq = GraftFunctions.sqDistL2 _
    val rows = enc
      .withColumn("lit_d", round(sq(col("resid"), recon), 6))
      .withColumn("kern_d", GraftFunctions.adcScore(col("resid"), col("rcodes"), m, ksub, flat))
      .select(col("vec_id"), col("lit_d"), col("kern_d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (l, k) = (r.getDouble(1), r.getDouble(2))
      assert(l == k || (l.isNaN && k.isNaN),
        s"vec ${r.getLong(0)}: kernel $k vs literal $l")
    }
    Dedup.releaseCaches()
  }

  test("pq encode kernel matches the literal slice semantics on ragged and degenerate vectors") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    // m=2, ksub=3, sub=4 books; vectors of lengths 0, 3, 5, 8, 11 probe
    // the empty slice, the mid-subspace cut, the exact fit, and the
    // over-length tail (ignored by both forms); one row carries NaN
    // (all candidates tie under SQL double ordering -> code 0 in both)
    val books: Array[Array[Array[Double]]] = Array.tabulate(2, 3, 4)((j, c, d) =>
      0.25 * (j + 1) * (c - 1) + 0.125 * d)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("resid", ArrayType(DoubleType, containsNull = false), nullable = true)))
    val data = Seq(
      Row(0L, Seq.empty[Double]),
      Row(1L, Seq(0.5, -0.25, 0.75)),
      Row(2L, Seq(0.5, -0.25, 0.75, 1.0, -0.5)),
      Row(3L, Seq(0.5, -0.25, 0.75, 1.0, -0.5, 0.25, -1.0, 0.125)),
      Row(4L, (0 until 11).map(i => 0.1 * i - 0.4)),
      Row(5L, Seq(Double.NaN, 0.5, -0.25, 0.75, 1.0, -0.5, 0.25, -1.0)),
      Row(6L, null))
    val df = spark.createDataFrame(data.asJava, schema)
    val m = books.length
    val got = df
      .withColumn("lit_codes", array((0 until m).map(Similarity.residCodeFor(books)): _*))
      .withColumn("kern_codes", GraftFunctions.pqEncode(col("resid"), m, 3,
        books.flatMap(_.flatMap(_.toSeq))))
      .select(col("vec_id"), col("lit_codes"), col("kern_codes"))
      .collect()
      .sortBy(_.getLong(0))
    got.foreach { r =>
      if (r.isNullAt(2)) {
        // null input: the kernel is null (UnaryExpression null
        // propagation); the literal array() form yields an array of
        // per-subspace nulls — both are "no codes", and no hot path
        // feeds null vectors (embeddings are non-null parquet arrays)
        assert(r.getLong(0) == 6L)
      } else {
        assert(r.getSeq[Int](1) == r.getSeq[Int](2),
          s"vec ${r.getLong(0)}: kernel ${r.getSeq[Int](2)} vs literal ${r.getSeq[Int](1)}")
      }
    }
    assert(got.length == 7)
  }
}
