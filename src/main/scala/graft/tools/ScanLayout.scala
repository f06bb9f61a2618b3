package graft.tools

/** Dev tool: report each table's parquet row-group layout and the scan
  * partition count Spark produces under the session's split config —
  * the round-21 parallelism-hole diagnosis (single-file tables under
  * `spark.sql.files.openCostInBytes` scan as ONE task, serializing
  * every CPU-heavy projection). Usage:
  *   runMain graft.tools.ScanLayout [sfDir] [openCostInBytes]
  */
object ScanLayout {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val openCost = if (args.length > 1) args(1) else "4194304"
    val spark = graft.Session.local("32")
    spark.conf.set("spark.sql.files.openCostInBytes", openCost)
    val conf = spark.sparkContext.hadoopConfiguration
    graft.Tables.names.foreach { t =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val blocks = reader.getFooter.getBlocks
      import scala.jdk.CollectionConverters._
      val sizes = blocks.asScala.map(_.getCompressedSize)
      reader.close()
      val df = graft.Tables.load(spark, dir, t)
      val parts = df.rdd.getNumPartitions
      val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
      val nonEmpty = perPart.count(_ > 0)
      println(f"[layout] $t%-12s rowGroups=${blocks.size}%3d " +
        f"groupBytes=${sizes.mkString(",")} scanParts=$parts%3d nonEmpty=$nonEmpty%3d " +
        f"rowsPerPart=${perPart.filter(_ > 0).take(8).mkString(",")}")
    }
    spark.stop()
  }
}
