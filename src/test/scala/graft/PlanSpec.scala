package graft

import org.apache.spark.sql.functions._

import graft.queries.LogQueries

/** The PushNanosTimestampPredicate optimizer rule: the implied raw-long
  * predicate must reach the scan AND preserve exact boundary semantics
  * for all four comparison operators (floor-division edges are where an
  * off-by-one would silently drop rows).
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("implied raw-nanos predicate reaches the parquet scan") {
    val plan = LogQueries.logsTimeRange(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,"), s"no pushed lower bound in:\n$plan")
    assert(plan.contains("LessThan(ts,"), s"no pushed upper bound in:\n$plan")
  }

  test("boundary semantics preserved for >=, >, <, <= on a real event timestamp") {
    val e = Tables.events(spark, dir)
    // pick an actual event's (microsecond-truncated) timestamp as the
    // literal so the equality edge is exercised
    val boundary = e.select(col("ts").cast("string")).orderBy(col("ts")).limit(50)
      .as[String].collect()(25)
    val all = e.select(col("ts").cast("string")).as[String].collect().sorted
    def expected(op: (String, String) => Boolean): Long = all.count(t => op(t, boundary)).toLong
    val cases: Seq[(String, Long)] = Seq(
      (s"ts >= '$boundary'", expected(_ >= _)),
      (s"ts > '$boundary'",  expected(_ > _)),
      (s"ts < '$boundary'",  expected(_ < _)),
      (s"ts <= '$boundary'", expected(_ <= _)))
    cases.foreach { case (pred, want) =>
      val got = e.filter(expr(pred)).count()
      assert(got == want, s"pred [$pred]: got $got want $want")
    }
  }

  test("custom AsOfJoinExec plans via the injected strategy and matches the other formulations") {
    // the scale layout: a small dir's single-partition scans already
    // satisfy the join's clustering, so only a large dir shows exchanges
    val physical = LogQueries.eventsAsofOrdersExec(spark, SparkSpec.scaleLayout(dir))
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix, so the node prints as
    // "AsOfJoin" in the PHYSICAL plan (with the hash exchanges + sorts
    // EnsureRequirements added around it)
    assert(physical.contains("AsOfJoin"), s"custom exec not planned:\n$physical")
    assert(physical.contains("Exchange hashpartitioning"), "expected co-partitioning exchanges")
    val df = LogQueries.eventsAsofOrdersExec(spark, dir)
    // bigint key + timestamp times take the boxing-free primitive merge
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val asofNode = root.collectFirst { case e: graft.plans.AsOfJoinExec => e }
    assert(asofNode.exists(_.primitiveEligible), "long-backed as-of should use the primitive path")
    val exec = df.select(col("event_id"), col("last_order_date").cast("string"))
      .as[(Long, String)].collect().toMap
    val merge = LogQueries.eventsAsofOrdersMerge(spark, dir)
      .select(col("event_id"), col("last_order_date").cast("string"))
      .as[(Long, String)].collect().toMap
    assert(exec == merge)
  }

  test("merge as-of join matches the join+aggregate formulation") {
    val a = LogQueries.eventsAsofOrders(spark, dir)
      .select(col("event_id"), col("last_order_date").cast("string"))
      .as[(Long, String)].collect().toMap
    val b = LogQueries.eventsAsofOrdersMerge(spark, dir)
      .select(col("event_id"), col("last_order_date").cast("string"))
      .as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("as-of join handles string keys and timestamp times (widened from Long-only)") {
    import graft.plans.AsOf
    val left = Seq(
      ("a", "2024-01-01 10:00:00", 1L),
      ("b", "2024-01-01 11:00:00", 2L),
      ("c", "2024-01-01 12:00:00", 3L))
      .toDF("k", "t", "lid").withColumn("t", col("t").cast("timestamp"))
    val right = Seq(
      ("a", "2024-01-01 09:00:00", 10L),
      ("a", "2024-01-01 09:30:00", 11L),
      ("b", "2024-01-01 11:30:00", 12L))
      .toDF("rk", "rt", "rid").withColumn("rt", col("rt").cast("timestamp"))
    val out = AsOf.join(left, right, "k", "rk", "t", "rt")
      .select(col("lid"), col("rid")).as[(Long, Option[Long])].collect().toMap
    // a: latest right at-or-before 10:00 is 09:30; b: only right row is
    // LATER than the left time; c: no right rows at all
    assert(out == Map(1L -> Some(11L), 2L -> None, 3L -> None))
  }

  test("int and date columns take the primitive as-of merge (widened to long)") {
    import graft.plans.AsOf
    val left = Seq((1, "2024-01-10", 1L), (2, "2024-01-20", 2L), (1, "2024-01-05", 3L))
      .toDF("k", "d", "lid")
      .withColumn("d", col("d").cast("date"))
    val right = Seq((1, "2024-01-08", 10L), (1, "2024-01-09", 11L), (2, "2024-02-01", 12L))
      .toDF("rk", "rd", "rid")
      .withColumn("rd", col("rd").cast("date"))
    val out = AsOf.join(left, right, "k", "rk", "d", "rd")
    val root = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val asofNode = root.collectFirst { case e: graft.plans.AsOfJoinExec => e }
    assert(asofNode.exists(_.primitiveEligible),
      "int key + date time should be primitive-eligible (ADVICE r3)")
    val got = out.select(col("lid"), col("rid")).as[(Long, Option[Long])].collect().toMap
    // lid=1 (k=1 @ Jan 10): latest right ≤ Jan 10 is rid=11 (Jan 9);
    // lid=3 (k=1 @ Jan 5): both right rows are later; lid=2 (k=2 @ Jan
    // 20): the only k=2 right row is Feb 1 — later
    assert(got == Map(1L -> Some(11L), 2L -> None, 3L -> None))
  }

  test("mismatched as-of key/time types are widened by AsOf.join and stay primitive") {
    import graft.plans.AsOf
    // Int key + Timestamp time on the left vs Long key + Date time on
    // the right: pre-fix these compared days to micros and hash-routed
    // equal keys to different partitions (VERDICT r5 #1)
    val left = Seq((1, "2024-01-10 12:00:00", 1L), (2, "2024-01-20 00:00:00", 2L))
      .toDF("k", "t", "lid").withColumn("t", col("t").cast("timestamp"))
    val right = Seq((1L, "2024-01-09", 10L), (1L, "2024-01-10", 11L), (2L, "2024-02-01", 12L))
      .toDF("rk", "rt", "rid").withColumn("rt", col("rt").cast("date"))
    val out = AsOf.join(left, right, "k", "rk", "t", "rt")
    val root = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val node = root.collectFirst { case e: graft.plans.AsOfJoinExec => e }
    assert(node.exists(e => e.leftKey.dataType == e.rightKey.dataType &&
      e.leftTime.dataType == e.rightTime.dataType), "types should be widened to match")
    assert(node.exists(_.primitiveEligible), "widened types should stay on the primitive path")
    val got = out.select(col("lid"), col("rid")).as[(Long, Option[Long])].collect().toMap
    // lid=1 (k=1 @ Jan 10 12:00): latest right ≤ it is rid=11 (Jan 10
    // 00:00 after date→timestamp); lid=2 (k=2 @ Jan 20): the only k=2
    // right row is Feb 1 — later
    assert(got == Map(1L -> Some(11L), 2L -> None))
  }

  test("directly-constructed as-of plan with unaligned types fails loudly, not wrong") {
    import graft.plans.AsOfJoin
    val left = Seq((1L, "2024-01-10 12:00:00", 1L))
      .toDF("k", "t", "lid").withColumn("t", col("t").cast("timestamp"))
    val right = Seq((1L, "2024-01-09", 10L))
      .toDF("rk", "rt", "rid").withColumn("rt", col("rt").cast("date"))
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    // bypass AsOf.join's widening: Timestamp left time vs Date right time
    val df = org.apache.spark.sql.GraftBridge.ofRows(spark,
      AsOfJoin(lPlan, rPlan, attr(lPlan, "k"), attr(rPlan, "rk"),
        attr(lPlan, "t"), attr(rPlan, "rt")))
    val ex = intercept[Throwable] { df.collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("as-of join time types")),
      s"expected the exec's type guard, got: $ex")
  }

  test("bucketed tables join with zero pre-join shuffle (the fact-fact 100 TB story)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '$wh'")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join decision so bucketing is what's on trial
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.orders(spark, dir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("bucketdemo.orders_b")
      Tables.lineitem(spark, dir).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("bucketdemo.lineitem_b")
      val joined = spark.table("bucketdemo.orders_b")
        .join(spark.table("bucketdemo.lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // bucketing satisfies the join's distribution requirement on both
      // sides: the ONLY exchange left is the post-join aggregation's
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange (agg only), got $exchanges:\n$plan")
      // same result as the plain (shuffled) join
      val bucketed = joined.as[(String, Long)].collect().toMap
      val plain = Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      assert(bucketed == plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bucketdemo.lineitem_b")
      spark.sql("DROP TABLE IF EXISTS bucketdemo.orders_b")
      spark.sql("DROP DATABASE IF EXISTS bucketdemo")
    }
  }
}
