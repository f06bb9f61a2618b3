package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll

import graft.ingest.Normalize
import graft.streaming.IngestPipeline

/** Property-based checks (SURVEY §5.2 item 2).
  *
  * Two families:
  *   - the ingest contract on ARBITRARY input: normalize is total
  *     (never throws, never yields a null column, timestamp always
  *     lands) — the reference's "never reject" semantics
  *     (main.go:86-112) must hold for inputs no fixture anticipated;
  *   - the hand-written byte-level kernels (TokenWindowHashes,
  *     CdcBoundaryPositions) against straight-line REFERENCE
  *     implementations on arbitrary — including multi-byte — strings:
  *     the kernels earn their speed with offset arithmetic, and
  *     off-by-ones there produce silently wrong counts, not crashes.
  *
  * Driver-side evaluation (expressions run through eval on literal
  * rows) keeps each ScalaCheck case off the cluster path — hundreds of
  * cases per property at unit-test cost; the Spark-side plumbing of
  * the same kernels is covered by the example specs and oracle gate.
  */
class PropertySpec extends SparkSpec {

  /** Raw-ScalaCheck runner (scalatestplus isn't in the offline cache):
    * 200 cases per property, failures surface the shrunk labels.
    */
  private def check(p: Prop, minTests: Int = 200): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  // ---- generators ----------------------------------------------------

  private val asciiWord: Gen[String] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))

  /** Strings over a mixed alphabet: ASCII, spaces (often doubled), and
    * multi-byte code points — exercises the byte-vs-char paths.
    */
  private val mixedText: Gen[String] = {
    val piece = Gen.frequency(
      6 -> asciiWord,
      3 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "漢", "🙂", "ß"))
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
  }

  /** Arbitrary shallow JSON events: known keys, unknown keys, broken
    * timestamps, nested objects — everything the wire can carry.
    */
  private val jsonEvent: Gen[String] = {
    val ts = Gen.oneOf(
      Gen.const("\"2025-12-04T10:00:00Z\""),
      Gen.const("\"2025-12-04 10:00:00\""),
      Gen.const("\"totally-not-a-time\""),
      Gen.const("12345"),
      Gen.const("null"))
    val msg = asciiWord.map(w => "\"" + w + "\"")
    for {
      t <- ts; m <- msg
      extra <- Gen.oneOf("", ",\"container\":{\"name\":\"c1\"}",
        ",\"weird_key\":[1,2,3]", ",\"host\":{\"name\":\"h\"},\"deep\":{\"a\":{\"b\":1}}")
    } yield s"""{"@timestamp":$t,"message":$m$extra}"""
  }

  // ---- ingest totality ------------------------------------------------

  test("normalize is total: any shallow JSON event yields one 10-column row, no nulls, ts set") {
    import spark.implicits._
    check(forAll(Gen.listOfN(5, jsonEvent)) { events =>
      val out = IngestPipeline.runBatch(events.toDF("value"), IngestPipeline.Logstash)
      val rows = out.collect()
      val cols = out.columns.length
      Prop(rows.length == events.length) :| s"row per event (${rows.length}/${events.length})" &&
        Prop(cols == 10) :| s"10 columns ($cols)" &&
        Prop(rows.forall(r => (0 until cols).forall(i => !r.isNullAt(i)))) :| "no null columns" &&
        Prop(rows.forall(_.getAs[java.sql.Timestamp]("timestamp") != null)) :| "timestamp lands"
    })
  }

  test("timestamp coercion: parseable inputs parse, garbage falls back — never null, never throws") {
    import spark.implicits._
    val tsGen = Gen.oneOf(
      "2025-12-04T10:00:00Z", "2025-12-04T10:00:00.123Z",
      "2025-12-04T18:30:00+08:00", "2025-12-04 10:00:00",
      "not a time", "", "99999", "2025-13-45T99:99:99Z")
    check(forAll(Gen.listOfN(8, tsGen)) { ts =>
      val out = ts.toDF("raw")
        .select(Normalize.coerceTimestamp(col("raw")).as("t"))
        .collect().map(_.getAs[java.sql.Timestamp]("t"))
      Prop(out.forall(_ != null)) :| "coercion is total"
    })
  }

  // ---- byte-level kernels vs reference implementations ---------------

  private def evalTokenWindows(s: String, w: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    graft.functions.TokenWindowHashes(Literal(s), w)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
  }

  /** Straight-line reference: split, join each window, hash its UTF-8
    * bytes with the same xxhash64/seed.
    */
  private def referenceWindows(s: String, w: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val toks = s.split(" ", -1).toSeq
    if (toks.length < w) Seq.empty
    else (0 to toks.length - w).map { i =>
      val bytes = toks.slice(i, i + w).mkString(" ").getBytes("UTF-8")
      XXH64.hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L)
    }
  }

  test("TokenWindowHashes equals the split/join/hash reference on arbitrary mixed text") {
    check(forAll(mixedText, Gen.chooseNum(1, 4)) { (s, w) =>
      val got = evalTokenWindows(s, w)
      val want = referenceWindows(s, w)
      Prop(got == want) :| s"text=${s.take(40)}… w=$w got=${got.take(4)} want=${want.take(4)}"
    })
  }

  private def evalCdc(s: String): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    graft.functions.CdcBoundaryPositions(Literal(s))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq
  }

  /** Straight-line reference: recompute every window hash from scratch
    * (no rolling) over the code-point array.
    */
  private def referenceCdc(s: String): Seq[Int] = {
    val cps = s.codePoints().toArray
    (1 to cps.length - 7).filter { i =>
      var h = 0L
      var j = 0
      while (j < 8) { h = h * 31 + cps(i - 1 + j); j += 1 }
      h % 64 == 0
    }
  }

  test("CdcBoundaryPositions equals the recompute-per-window reference on arbitrary mixed text") {
    check(forAll(mixedText) { s =>
      Prop(evalCdc(s) == referenceCdc(s)) :| s"text=${s.take(40)}…"
    })
  }

  test("MG sketch bounds hold for arbitrary streams and capacities") {
    import graft.functions.FreqBuffer
    val streamGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h", "i", "j"))
    check(forAll(streamGen, Gen.chooseNum(1, 6), Gen.chooseNum(1, 4)) { (stream, cap, parts) =>
      val bufs = (0 until parts).map { p =>
        val b = new FreqBuffer(cap)
        stream.zipWithIndex.filter(_._2 % parts == p).foreach { case (x, _) => b.add(x) }
        b
      }
      val merged = bufs.head
      bufs.tail.foreach(merged.mergeIn)
      val est = merged.sortedEntries.toMap
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = stream.size.toLong / (cap + 1)
      val complete = exact.filter(_._2 > bound).keys.forall(est.contains)
      val sound = est.forall { case (t, e) =>
        e <= exact.getOrElse(t, 0L) && e >= exact.getOrElse(t, 0L) - bound
      }
      (Prop(complete) :| s"completeness cap=$cap n=${stream.size}") &&
        (Prop(sound) :| s"soundness cap=$cap") &&
        (Prop(merged.sortedEntries.length <= cap) :| "capacity respected")
    })
  }

  test("chunker start arithmetic equals the straight-line reference for arbitrary (n, window, stride)") {
    // the integer-ceil last-start formula drives x_chunk_overlap /
    // x_chunk_dedup / the streaming twin; an off-by-one silently drops
    // or duplicates tail coverage rather than crashing. Reference: emit
    // starts 1, 1+s, … until the window first reaches the last token.
    def reference(n: Long, w: Int, s: Int): Seq[Long] = {
      val starts = Seq.newBuilder[Long]
      var start = 1L
      var done = false
      while (!done) {
        starts += start
        if (start + w - 1 >= n) done = true else start += s
      }
      starts.result()
    }
    val cases = for {
      n <- Gen.chooseNum(1L, 400L)
      w <- Gen.chooseNum(1, 80)
      s <- Gen.chooseNum(1, 80).map(math.min(_, w)) // stride <= window
    } yield (n, w, s)
    check(forAll(cases) { case (n, w, s) =>
      val got = spark.range(1)
        .selectExpr(s"sequence(1L, greatest(0L, (CAST($n AS BIGINT) - $w + ${s - 1}) div $s) * $s + 1, CAST($s AS BIGINT)) AS starts")
        .head().getSeq[Long](0).toSeq
      Prop(got == reference(n, w, s)) :| s"n=$n w=$w s=$s got=$got want=${reference(n, w, s)}"
    }, minTests = 60) // each case runs a local Spark job — keep the count bounded
  }

  test("sequence-packer slice arithmetic equals the walk-the-stream reference for arbitrary (prefix, n, budget)") {
    // x_pack_sequences cuts a doc's [tb, tb+n) global token span at
    // every `budget` boundary with pure integer expressions; an
    // off-by-one silently mis-splices training sequences rather than
    // crashing. Reference: walk every token position, group by its
    // global bin, emit each group's 1-based in-doc range.
    def reference(tb: Long, n: Long, b: Long): Seq[(Long, Long, Long)] =
      (0L until n).groupBy(p => (tb + p) / b).toSeq.sortBy(_._1)
        .map { case (bin, ps) => (bin, ps.min + 1, ps.max + 1) }
    val cases = for {
      tb <- Gen.chooseNum(0L, 9000L)
      n <- Gen.chooseNum(1L, 5000L)
      b <- Gen.chooseNum(1L, 3000L)
    } yield (tb, n, b)
    check(forAll(cases) { case (tb, n, b) =>
      // the operator's exact expressions on a literal row
      val got = spark.range(1)
        .selectExpr(s"CAST($tb AS BIGINT) AS tokens_before", s"CAST($n AS BIGINT) AS n_tok")
        .selectExpr("tokens_before", "n_tok",
          s"explode(sequence(tokens_before div $b, (tokens_before + n_tok - 1) div $b)) AS bin")
        .selectExpr("bin",
          s"greatest(bin * $b - tokens_before, 0L) + 1 AS slice_start",
          s"least((bin + 1) * $b - tokens_before, n_tok) AS slice_end")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      Prop(got == reference(tb, n, b)) :| s"tb=$tb n=$n b=$b got=${got.take(4)} want=${reference(tb, n, b).take(4)}"
    }, minTests = 60)
  }

  test("stratified-split thresholds give exact floor proportions for arbitrary group sizes") {
    // the operator's integer comparisons (rn·10 <= n·8 / n·9) must land
    // exactly floor(0.8n)/floor(0.9n)-floor(0.8n)/rest for EVERY n —
    // the per-source exactness x_split_stratified is sold on
    check(forAll(Gen.chooseNum(1, 10000)) { n =>
      val splits = (1 to n).map { rn =>
        if (rn * 10 <= n * 8) "train" else if (rn * 10 <= n * 9) "val" else "test"
      }
      val train = splits.count(_ == "train")
      val vl = splits.count(_ == "val")
      val test = splits.count(_ == "test")
      Prop(train == n * 8 / 10 && vl == n * 9 / 10 - n * 8 / 10 &&
        test == n - n * 9 / 10 &&
        // the split is also monotone: train is a prefix, test a suffix
        splits.takeWhile(_ == "train").length == train &&
        splits.reverse.takeWhile(_ == "test").length == test) :| s"n=$n ($train, $vl, $test)"
    })
  }

  test("bench floor-retime helpers: floors gate on sf, brackets resolve, trigger needs BOTH conditions") {
    import java.nio.file.{Files, Paths}
    // readFloors: applies only when the recorded sf matches the run's
    val p = Files.createTempFile("floors", ".json")
    Files.writeString(p,
      """{"sf":"/root/testdata/sf0.1","floors":{"q1":0.5,"x_a":1.25}}""")
    assert(Bench.readFloors(p, "/root/testdata/sf0.1") ==
      Map("q1" -> 0.5, "x_a" -> 1.25))
    assert(Bench.readFloors(p, "/root/testdata/sf0.01").isEmpty,
      "sf0.01 run must not adjudicate against sf0.1 floors")
    assert(Bench.readFloors(Paths.get("/nonexistent/floors.json"), "x").isEmpty)
    Files.writeString(p, "{not json")
    assert(Bench.readFloors(p, "/root/testdata/sf0.1").isEmpty,
      "unparseable floors must disable the trigger, not crash the bench")
    Files.delete(p)
    // bracketMax: queries lo..lo+15 bracket between q{lo} and q{lo+16};
    // the first block starts at rep_start, the last ends at rep_end
    val samples = Map("rep1_start" -> 1.0, "rep1_q16" -> 8.0,
      "rep1_q32" -> 2.0, "rep1_end" -> 9.0)
    assert(Bench.bracketMax(samples, "rep1", 0, 40) == 8.0)  // start..q16
    assert(Bench.bracketMax(samples, "rep1", 15, 40) == 8.0)
    assert(Bench.bracketMax(samples, "rep1", 16, 40) == 8.0) // q16..q32
    assert(Bench.bracketMax(samples, "rep1", 33, 40) == 9.0) // q32..end
    assert(Bench.bracketMax(Map.empty, "rep1", 0, 40) == -1.0,
      "missing samples must never gate (read as -1)")
    // loadSuspect: BOTH the floor excess and the external-load estimate
    // (bracket minus the rep's own median loadavg — ADVICE r19) must hold
    assert(Bench.loadSuspect(steady = 5.0, floor = 1.0, externalLoad = 6.0,
      factor = 2.5, loadGate = 4.0))
    assert(!Bench.loadSuspect(5.0, 1.0, 3.9, 2.5, 4.0), "idle estimate: no retime")
    assert(!Bench.loadSuspect(2.4, 1.0, 8.0, 2.5, 4.0), "within-floor: no retime")
    assert(!Bench.loadSuspect(2.5, 1.0, 8.0, 2.5, 4.0), "threshold is strict")
    assert(!Bench.loadSuspect(5.0, 0.0, 8.0, 2.5, 4.0), "no floor: never suspect")
    // selfBaseline: median of the rep's samples; -1 (unreadable) excluded
    assert(Bench.selfBaseline(Map("rep1_start" -> 2.0, "rep1_q16" -> 6.0,
      "rep1_end" -> 4.0, "rep2_start" -> 9.0, "rep1_q32" -> -1.0), "rep1") == 4.0)
    assert(Bench.selfBaseline(Map("rep1_start" -> 2.0, "rep1_end" -> 4.0), "rep1") == 3.0)
    assert(Bench.selfBaseline(Map.empty, "rep1") == 0.0, "no samples: zero baseline")
    // the r18 contamination pattern fires under its run's measured
    // median (BENCH_r18_local rep1: 3.63); the idle-close worst bracket
    // (BENCH_r19e rep1: 8.16 over median 4.37) and the r19 uniform-load
    // 2.50x worst case deliberately do not
    assert(Bench.loadSuspect(14.96, 1.289, 8.72 - 3.63, 2.5, 4.0),
      "the r18 x_filter_funnel artifact reading must trigger")
    assert(!Bench.loadSuspect(14.96, 1.289, 8.16 - 4.37, 2.5, 4.0),
      "the bench's own idle-box load peak must NOT satisfy the load arm")
    assert(!Bench.loadSuspect(0.505, 0.202, 18.0, 2.5, 4.0),
      "uniform-load 2.50x worst case stays below the strict threshold")
  }

  test("bench timing path: a throwing query is recorded as failed, never as a timing") {
    val timer = new Bench.Timer
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val ok = timer.time("q_ok")(run(spark.range(10).toDF("x")))
    // the failure surfaces at execution, as a broken query's would
    val boom = timer.time("q_boom")(run(spark.range(10).select(raise_error(lit("boom")))))
    assert(ok.exists(_ >= 0.0), "a succeeding run yields its wall time")
    assert(boom.isEmpty, "a throwing run yields no time")
    assert(timer.failed.toSeq == Seq("q_boom"))
    // a query that failed in any pass leaves every timing list and total
    val rep = Seq("q_ok" -> 1.25, "q_boom" -> 0.0)
    assert(timer.timings(rep) == Seq("q_ok" -> 1.25))
    assert(timer.total(rep) == 1.25)
    assert(timer.json(rep) == """{"q_ok":1.25}""")
    assert(timer.failedJson == """["q_boom"]""")
  }
}
