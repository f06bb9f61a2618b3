package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The literal nearest-centroid form, kept only as the independent
  * reference the specs hold [[graft.functions.NearestSeed]] to: per
  * row, every centroid inlined as a literal into
  * `struct(-round(cosine_sim(embedding, c), 6), cell_id)`, the array
  * sorted and cut to its first `n` entries. It shares no code with the
  * kernel beyond `cosine_sim` and Spark's own `round`/`array_sort`.
  */
object LiteralCells {
  def topN(centroids: Array[(Long, Array[Float])], n: Int): Column =
    slice(array_sort(array(centroids.toIndexedSeq.map { case (cellId, cv) =>
      struct(
        (-round(GraftFunctions.cosineSim(col("embedding"), typedLit(cv)), 6)).as("neg_cos"),
        lit(cellId).as("cell_id"))
    }: _*)), 1, n)

  /** The reference twin of `Similarity.assignCells`: same columns. */
  def assign(df: DataFrame, centroids: Array[(Long, Array[Float])]): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("best_cell", element_at(topN(centroids, 1), 1))
      .withColumn("cell_id", col("best_cell").getField("cell_id"))
      .withColumn("cos_centroid", -col("best_cell").getField("neg_cos"))
      .drop("best_cell")
  }

  /** Runs `body` with whole-stage codegen off: the K-literal plan
    * outgrows the 64 KB method limit at a few hundred cells, and the
    * split per-expression projections compute the same values without
    * a failed compile.
    */
  def unfused[T](spark: SparkSession)(body: => T): T =
    SparkSpec.withConf(spark, "spark.sql.codegen.wholeStage", "false")(body)
}
