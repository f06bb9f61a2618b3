package graft.ext

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

import graft.Tables

/** The Frames store's contracts: fingerprints list only the tables a
  * KEY declares (review r12), so an embeddings rewrite must not
  * invalidate document-side frames (or vice versa) and a change to a
  * key's own table must rebuild it; one store holds frames, values,
  * widen decisions, table schemas and tracked persists, and
  * [[Dedup.releaseCaches]] empties it.
  */
class FramesSpec extends graft.SparkSpec {

  /** A temp dir holding copies of the sf0.001 `tables`. */
  private def tempCopy(tables: String*): java.nio.file.Path = {
    val tmp = Files.createTempDirectory("graft_frames")
    for (t <- tables)
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t"), tmp.resolve(t),
        StandardCopyOption.REPLACE_EXISTING)
    tmp
  }

  private def touch(tmp: java.nio.file.Path, t: String): Unit = {
    val f = tmp.resolve(t).toFile
    // mtime participates in the fingerprint; jump it far enough that
    // coarse-grained filesystems can't collapse the change
    assert(f.setLastModified(f.lastModified() + 60000))
  }

  /** The messages Spark logs at WARN or above while `body` runs. */
  private def warningsOf(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("frames-spec", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    val root = org.apache.logging.log4j.LogManager.getRootLogger.asInstanceOf[Logger]
    appender.start()
    root.addAppender(appender)
    try body
    finally { root.removeAppender(appender); appender.stop() }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("memo invalidation is scoped to the key's declared tables") {
    val tmp = tempCopy("documents.parquet", "embeddings.parquet")
    val dir = tmp.toString
    val cachedBefore = org.apache.spark.sql.CachedEntries.count(spark)
    var docBuilds = 0
    def docFrame = Dedup.Frames.getOrCompute(spark, s"spec_doc:$dir", dir) {
      docBuilds += 1; spark.range(1).toDF("x")
    }
    var embBuilds = 0
    def embFrame = Dedup.Frames.getOrCompute(spark, s"spec_emb:$dir", dir,
        tables = Seq("embeddings.parquet")) {
      embBuilds += 1; spark.range(1).toDF("x")
    }
    // both keys build the same plan, so they share one CacheManager
    // entry: neither may persist it twice, nor drop it under the other
    val warnings = warningsOf {
      docFrame; docFrame; embFrame; embFrame
      assert(docBuilds == 1 && embBuilds == 1, "second access must hit the memo")
      docFrame.count()
      val filled = spark.sparkContext.getPersistentRDDs.keySet

      touch(tmp, "embeddings.parquet")
      docFrame; embFrame
      assert(filled.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
        "an embeddings rewrite must not drop the data the document-scoped key still holds")
      assert(docBuilds == 1, "an embeddings rewrite must NOT invalidate a document-scoped frame")
      assert(embBuilds == 2, "an embeddings rewrite MUST invalidate an embeddings-scoped frame")

      touch(tmp, "documents.parquet")
      docFrame; embFrame
      assert(docBuilds == 2, "a documents rewrite must invalidate the document-scoped frame")
      assert(embBuilds == 2, "a documents rewrite must not touch the embeddings-scoped frame")
    }
    assert(org.apache.spark.sql.CachedEntries.count(spark) == cachedBefore + 1,
      "two keys over one plan must add one CacheManager entry")
    assert(docFrame.storageLevel != StorageLevel.NONE && embFrame.storageLevel != StorageLevel.NONE)
    assert(!warnings.exists(_.contains("Asked to cache already cached data")), warnings)
  }

  test("one store: a widen decision is one entry per (dir, table); release empties the store") {
    val tmp = tempCopy("documents.parquet")
    val dir = tmp.toString
    def widenKeys = Dedup.Frames.residentKeys(spark).filter(_.startsWith("widen:"))
    Dedup.releaseCaches()
    graft.Tables.documentsWide(spark, dir); graft.Tables.documentsWide(spark, dir)
    assert(widenKeys == Set(s"widen:documents:$dir"), "two loads must share one decision")

    touch(tmp, "documents.parquet")
    graft.Tables.documentsWide(spark, dir)
    assert(widenKeys == Set(s"widen:documents:$dir"),
      s"a rewritten table must replace its decision, not add one: $widenKeys")

    Dedup.Frames.getOrComputeValue(spark, s"spec_val:$dir", dir)(42)
    val tracked = Dedup.Frames.trackPersist(spark.range(10).toDF("x"))
    assert(tracked.storageLevel != StorageLevel.NONE)
    assert(Dedup.Frames.residentKeys(spark).contains(s"spec_val:$dir"))
    Dedup.releaseCaches()
    assert(tracked.storageLevel == StorageLevel.NONE, "release must unpersist a tracked frame")
    assert(Dedup.Frames.residentKeys(spark).isEmpty,
      s"no entry may survive the release: ${Dedup.Frames.residentKeys(spark)}")
  }

  test("a table file's schema is inferred once: a repeat load starts no Spark job") {
    val tmp = tempCopy("orders.parquet")
    val dir = tmp.toString
    def schemaKeys = Dedup.Frames.residentKeys(spark).filter(_.startsWith("schema:"))
    Dedup.releaseCaches()
    assert(jobsOf(Tables.orders(spark, dir)) > 0, "the first load infers the schema")
    assert(jobsOf(Tables.orders(spark, dir)) == 0,
      "a repeat load of an unchanged file must start no job")
    assert(schemaKeys == Set(s"schema:orders:$dir"))

    // each load is still a fresh relation, so self-joins resolve
    val (a, b) = (Tables.orders(spark, dir), Tables.orders(spark, dir))
    val ids = a.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(b.queryExecution.analyzed.output.forall(c => !ids(c.exprId)),
      "two loads must not share attribute ids")

    touch(tmp, "orders.parquet")
    assert(jobsOf(Tables.orders(spark, dir)) > 0, "a rewritten file must be inferred again")
    assert(schemaKeys == Set(s"schema:orders:$dir"),
      s"a rewritten file must replace its schema entry, not add one: $schemaKeys")
    assert(jobsOf(Tables.orders(spark, dir)) == 0)

    Dedup.releaseCaches()
    assert(schemaKeys.isEmpty, "release must drop the schema entry")
    assert(jobsOf(Tables.orders(spark, dir)) > 0, "after a release the next load infers again")
    Dedup.releaseCaches()
  }

  /** Asserts that a warm `Tables.load` of `dir/t.parquet` starts no job
    * and equals a plain `spark.read.parquet` read, converted the way
    * `load` documents for a TIMESTAMP(NANOS) `events.ts`.
    */
  private def assertLoadMatchesPlainRead(dir: String, t: String): Unit = {
    Tables.load(spark, dir, t)
    var memo: DataFrame = null
    assert(jobsOf { memo = Tables.load(spark, dir, t) } == 0, s"$t: the schema must come from the store")
    val raw = spark.read.parquet(s"$dir/$t.parquet")
    val plain =
      if (t == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
      else raw
    assert(memo.schema == plain.schema, t)
    assert(memo.exceptAll(plain).isEmpty && plain.exceptAll(memo).isEmpty, s"$t: rows differ")
    assert(memo.count() == plain.count() && memo.count() > 0, t)
  }

  test("a memoized-schema load returns the schema and rows of a plain read, every sf0.001 table") {
    Dedup.releaseCaches()
    val dir = tempCopy(Tables.names.map(t => s"$t.parquet"): _*).toString
    Tables.names.foreach(assertLoadMatchesPlainRead(dir, _))
    Dedup.releaseCaches()
  }

  test("a memoized-schema load of a TIMESTAMP(NANOS) events.ts matches a plain read") {
    // the sf* tables store events.ts as MICROS; parquet's own writer
    // makes the NANOS layout that `load` converts
    val dir = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    // ns epochs past 2^53, with sub-microsecond digits the conversion truncates
    Seq(1L -> 1733310000123456789L, 2L -> 1733310060999999999L, 3L -> 0L).foreach {
      case (id, ns) => writer.write(rows.newGroup().append("event_id", id).append("ts", ns))
    }
    writer.close()
    Dedup.releaseCaches()
    assertLoadMatchesPlainRead(dir, "events")
    val ts = Tables.events(spark, dir).orderBy("event_id").select("ts").collect().map(_.get(0))
    assert(ts.toSeq == Seq("2024-12-04T11:00:00.123456", "2024-12-04T11:01:00.999999",
      "1970-01-01T00:00").map(java.time.LocalDateTime.parse), ts.toSeq)
    Dedup.releaseCaches()
  }

  test("a lazily armed persist read by two concurrent jobs is built once: the second reader waits") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rows = 200L
    FramesSpec.Build.reset()
    val counted = org.apache.spark.sql.functions.udf { (x: Long) =>
      FramesSpec.Build.row(); x
    }.asNondeterministic()
    val df = Dedup.Frames.trackPersist(
      spark.range(0, rows, 1, 1).select(counted(org.apache.spark.sql.functions.col("id")).as("id")))
    try {
      val first = Future(df.count())
      assert(FramesSpec.Build.started.await(60, SECONDS), "the first reader never started the build")
      // the first reader holds the block's write lock inside the build;
      // a second job reading the same unfilled partition starts now
      val second = Future(df.count())
      Thread.sleep(500)
      FramesSpec.Build.release.countDown()
      assert(Await.result(first, 60.seconds) == rows && Await.result(second, 60.seconds) == rows)
      assert(FramesSpec.Build.built.get == rows,
        s"${FramesSpec.Build.built.get} rows built for a $rows-row persist read by two jobs")
      assert(df.count() == rows && FramesSpec.Build.built.get == rows, "a later read must hit the block")
    } finally {
      FramesSpec.Build.release.countDown()
      Dedup.releaseCaches()
    }
  }
}

object FramesSpec {
  /** Counts the rows a persisted frame's build computes, and holds the
    * build at its first row until `release` (executor threads of the
    * local session share this object).
    */
  object Build {
    @volatile var started = new java.util.concurrent.CountDownLatch(1)
    @volatile var release = new java.util.concurrent.CountDownLatch(1)
    val built = new java.util.concurrent.atomic.AtomicLong

    def reset(): Unit = {
      started = new java.util.concurrent.CountDownLatch(1)
      release = new java.util.concurrent.CountDownLatch(1)
      built.set(0)
    }

    def row(): Unit = {
      started.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      built.incrementAndGet()
    }
  }
}
