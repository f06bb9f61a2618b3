package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.ingest.{BulkDecoder, EventParser, Normalize}

/** §2A ingestion semantics, edge cases straight from the reference
  * (filebeat-to-ck/main.go): bulk framing 268-329, timestamp coercion
  * 86-112, field coalescing 452-516, fallback chains 562-609.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val fixedTs = lit("2025-12-05 00:00:00").cast("timestamp")

  test("bulk framing: blanks skipped, actions dropped, naked docs kept, garbage dropped") {
    val lines = Seq(
      """{"index":{"_index":"x"}}""",           // action → dropped
      """{"message":"a"}""",                    // doc after action
      """   """,                                // blank → skipped
      """{"message":"naked"}""",                // naked doc, no action
      """{"create":{}}""",                      // action variant
      """{"message":"b"}""",
      """garbage not json""",                   // unparseable → dropped
      """{"delete":null}""",                    // action with null body
      """[1,2,3]""",                            // JSON but not an object → dropped
      """{"@timestamp":"2024-01-01T00:00:00Z","message":"truncated""" // truncated object → dropped
    ).toDF("value")
    val out = BulkDecoder.frameBulk(lines).as[String].collect().toSet
    assert(out == Set("""{"message":"a"}""", """{"message":"naked"}""", """{"message":"b"}"""))
  }

  test("bulk framing: whole-payload split matches per-line framing") {
    val payload = Seq(
      "{\"index\":{}}\n{\"message\":\"x\"}\n\n{\"message\":\"y\"}"
    ).toDF("value")
    val out = BulkDecoder.frameBulkPayloads(payload).as[String].collect().toSet
    assert(out == Set("""{"message":"x"}""", """{"message":"y"}"""))
  }

  test("timestamp coercion: all five reference layouts parse; fallback on junk/null") {
    val rows = Seq(
      ("2025-12-04T10:00:00Z", "2025-12-04 10:00:00"),
      ("2025-12-04T10:00:00+08:00", "2025-12-04 02:00:00"),
      ("2025-12-04T10:00:00.123456789Z", "2025-12-04 10:00:00"),
      ("2025-12-04T10:00:00.123Z", "2025-12-04 10:00:00"),
      ("2025-12-04 10:00:00", "2025-12-04 10:00:00"),
      ("junk", "2025-12-05 00:00:00"),
      (null, "2025-12-05 00:00:00")
    )
    val df = rows.map(_._1).toDF("raw")
      .select(Normalize.coerceTimestamp(col("raw"), fixedTs).cast("string").as("got"))
    assert(df.as[String].collect().toSeq == rows.map(_._2))
  }

  test("timestamp fallback uses real ingest time by default (never-fail, main.go:88)") {
    val before = java.time.Instant.now().minusSeconds(60)
    val got = Seq("junk").toDF("raw")
      .select(Normalize.coerceTimestamp(col("raw")).as("ts"))
      .collect()(0).getTimestamp(0).toInstant
    val after = java.time.Instant.now().plusSeconds(60)
    assert(got.isAfter(before) && got.isBefore(after))
  }

  test("normalize: container coalesce name ?? id ?? '' (main.go:462-468)") {
    val out = Seq(
      """{"container":{"name":"n1","id":"i1"}}""",
      """{"container":{"id":"i2"}}""",
      """{"message":"none"}"""
    ).toDF("value")
    val got = Normalize.normalize(out, ingestTs = fixedTs)
      .select("container").as[String].collect().toSeq
    assert(got == Seq("n1", "i2", ""))
  }

  test("normalize is total: arbitrary JSON yields complete non-null rows") {
    val weird = Seq(
      """{}""",
      """{"@timestamp":12345}""",
      """{"container":"plain-string-not-object"}""",
      """{"docker":{"container":{}}}""",
      """{"message":null,"host":{"name":null}}""",
      """{"deep":{"nest":{"very":{"deep":1}}}}"""
    ).toDF("value")
    val rows = Normalize.normalize(weird, ingestTs = fixedTs).collect()
    assert(rows.length == weird.count())
    rows.foreach { r =>
      assert(!r.anyNull, s"null field in $r")
    }
  }

  test("normalize: second-precision truncation before any ordering (trap 3)") {
    val got = Seq(
      """{"@timestamp":"2025-12-04T10:00:00.999Z","message":"early-but-big-fraction"}""",
      """{"@timestamp":"2025-12-04T10:00:00.001Z","message":"late-but-small-fraction"}"""
    ).toDF("value")
    val ts = Normalize.normalize(got, ingestTs = fixedTs)
      .select(col("timestamp").cast("string")).as[String].collect().toSet
    assert(ts == Set("2025-12-04 10:00:00"))
  }

  test("property: 500 randomized semi-structured events normalize totally and faithfully") {
    val rnd = new scala.util.Random(42)
    def maybe(s: => String): String = if (rnd.nextBoolean()) s else ""
    val tsPool = Seq("2025-12-04T10:00:00Z", "2025-12-04 10:00:00", "garbage-ts", "", "12345")
    val lines = (0 until 500).map { i =>
      val parts = Seq(
        maybe(s""""@timestamp":"${tsPool(rnd.nextInt(tsPool.length))}""""),
        maybe(s""""message":"msg-$i""""),
        maybe(s""""container":{"name":"c$i"}"""),
        maybe(s""""container":"not-an-object""""),
        maybe(s""""host":{"name":"h${rnd.nextInt(10)}"}"""),
        maybe(s""""junk_${rnd.nextInt(100)}":[1,2,{"deep":true}]""")
      ).filter(_.nonEmpty)
      s"{${parts.mkString(",")}}"
    }
    val df = Normalize.normalize(lines.toDF("value"), ingestTs = fixedTs)
    val rows = df.collect()
    assert(rows.length == 500)                      // total: nothing dropped or duplicated
    rows.foreach(r => assert(!r.anyNull))           // complete 10-column rows
    // raw_json is the verbatim input line for every row
    val raws = df.select("raw_json").as[String].collect().toSet
    assert(raws == lines.toSet)
    // any parsed message matches its source line
    df.select("message", "raw_json").as[(String, String)].collect().foreach {
      case (m, raw) => if (m.nonEmpty) assert(raw.contains(s""""message":"$m""""))
    }
  }

  test("array parse keeps element-level raw_json fidelity") {
    val payload = Seq("""[{"message":"m1","extra_key":"preserved"},{"message":"m2"}]""").toDF("value")
    val docs = EventParser.parseJsonArray(payload).as[String].collect()
    assert(docs.length == 2)
    assert(docs.exists(_.contains("extra_key")))
  }

  test("logstash fallback chain: array, object, garbage") {
    val payloads = Seq(
      """[{"message":"a1"},{"message":"a2"}]""",
      """{"message":"obj"}""",
      """nope""",
      """42""",
      """{"@timestamp":"2024-01-01T00:00:00Z","message":"truncated"""
    ).toDF("value")
    val out = Normalize.normalize(EventParser.parseLogstash(payloads), ingestTs = fixedTs)
    assert(out.select("message").as[String].collect().toSet == Set("a1", "a2", "obj"))
  }

  test("T10 processor chain: json-message merge, host gating, rename no-op") {
    import graft.ingest.Preprocess
    val docs = Seq(
      // message is JSON: keys merge into root and win; untouched root
      // keys (host) survive the merge
      """{"@timestamp":"2025-12-04T10:00:00Z","message":"{\"message\":\"inner\",\"level\":\"warn\"}","host":{"name":"h9"}}""",
      // forwarded: host metadata must NOT be added
      """{"message":"fwd","tags":["forwarded","beats"]}""",
      // target key exists: rename is a silent no-op, @timestamp remains
      """{"@timestamp":"2025-12-04T10:03:00Z","timestamp":"kept","message":"both"}"""
    ).toDF("value")
    val out = Preprocess.preprocess(docs).select("doc")
      .as[Map[String, String]].collect()
    val merged = out.find(_.get("message").contains("inner")).get
    assert(merged("level") == "warn")
    assert(merged("timestamp") == "2025-12-04T10:00:00Z") // renamed from @timestamp
    assert(!merged.contains("@timestamp"))
    assert(merged("host").contains("h9"))
    val fwd = out.find(_.get("message").contains("fwd")).get
    assert(!fwd.contains("host"))
    val both = out.find(_.get("message").contains("both")).get
    assert(both("timestamp") == "kept" && both.contains("@timestamp"))
  }
}
