package graft

import org.apache.spark.sql.functions._

import graft.traffic.Traffic

class TrafficSpec extends SparkSpec {
  import spark.implicits._

  private def line(fields: Map[Int, String]): String =
    (1 to 50).map(i => fields.getOrElse(i, "")).mkString(",")

  test("extractLanes fans out one row per lane") {
    val base = Map(1 -> "01/05/2024 03:04:05", 2 -> "42", 3 -> "FW2", 4 -> "N", 8 -> "123") ++
      (1 to 8).flatMap(i => Seq(7 + 5 * i -> s"${100 + i}", 8 + 5 * i -> s"${10 + i}", 9 + 5 * i -> s"${50 + i}"))
    val df = Seq((1L, line(base))).toDF("event_id", "line")
    val out = Traffic.extractLanes(df).collect()
    assert(out.length == 8)
    assert(out.map(_.getAs[String]("lane")).toSet == (1 to 8).map(i => s"lane$i").toSet)
    assert(out.forall(_.getAs[Long]("total_flow") == 123L))
    assert(out.forall(_.getAs[String]("station_id") == "42"))
  }

  test("extractLanes stops at first invalid lane but keeps earlier lanes") {
    val base = Map(1 -> "01/05/2024 03:04:05", 2 -> "42", 3 -> "FW2", 4 -> "N", 8 -> "123") ++
      (1 to 8).flatMap(i => Seq(7 + 5 * i -> s"${100 + i}", 8 + 5 * i -> s"${10 + i}", 9 + 5 * i -> s"${50 + i}"))
    val bad = base + (7 + 5 * 4 -> "oops") // lane 4 flow unparseable
    val df = Seq((1L, line(bad))).toDF("event_id", "line")
    val lanes = Traffic.extractLanes(df).select("lane").as[String].collect().toSet
    assert(lanes == Set("lane1", "lane2", "lane3"))
  }

  test("extractLanes drops short rows (<48 fields)") {
    val df = Seq((1L, "a,b,c")).toDF("event_id", "line")
    assert(Traffic.extractLanes(df).isEmpty)
  }

  test("maxFlowGlobal keeps the full record of the argmax event") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq(
      (1L, ts, 7L, "lane1", 5.0),
      (2L, ts, 7L, "lane2", 9.0),
      (3L, ts, 8L, "lane1", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Traffic.maxFlowGlobal(df).collect().map(r =>
      r.getAs[Long]("station_id") -> (r.getAs[String]("lane"), r.getAs[Double]("max_flow"))).toMap
    assert(out(7L) == ("lane2", 9.0))
    assert(out(8L) == ("lane1", 1.0))
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("composed e2e flagship keeps the 10-column schema and one exchange") {
    val events = Tables.load(spark, sf, "events")
    val e2e = Traffic.maxLaneFlowE2e(events)
    assert(e2e.columns.toSeq == Seq("station_id", "direction", "freeway",
      "lane_max_flow", "lane", "avg_occ", "avg_speed", "total_flow",
      "recorded_timestamp", "window_timestamp"),
      "FormatMaxesFn schema (TrafficMaxLaneFlow.java:258-296)")
    val plan = e2e.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      "extract is map-only and the Expand must be absorbed by the partial agg — one exchange total")
    // the argmax must retain the whole lane record: a window with a
    // single reading reports that reading's own occupancy/speed
    val row = e2e.where(col("station_id").isNotNull).head()
    assert(row.getAs[Double]("avg_occ") >= 0 && row.getAs[Double]("avg_speed") >= 0)
  }

  test("two-level pre-agg sliding argmax equals the direct plan") {
    // the dense regime q_max_flow_sliding_60_1_dense serves: the auto
    // path collapses each slide bucket below the station exchange, then
    // walks the bucket maxima; its rows must be the Expand plan's
    val d = Traffic.densify(Tables.load(spark, sf, "events"))
    assert(Traffic.bucketDensity(d) >= Traffic.DenseThreshold)
    val preAgg = Traffic.maxFlowSlidingAuto(d)
    val direct = Traffic.maxFlowSliding(d, "60 minutes", "1 minute")
    assert(!direct.isEmpty)
    assert(direct.exceptAll(preAgg).isEmpty && preAgg.exceptAll(direct).isEmpty)
  }

  test("ordered-scan sliding argmax equals the direct plan, sparse and dense") {
    val events = Tables.load(spark, sf, "events")
    // sparse feed (~1 event/bucket) — the regime where the scan wins
    val direct = Traffic.maxFlowSliding(events, "60 minutes", "1 minute")
    val scan = Traffic.maxFlowSlidingScan(events)
    assert(direct.exceptAll(scan).isEmpty && scan.exceptAll(direct).isEmpty)
    // dense feed (~16 events/bucket) — the inline bucket collapse must
    // pick the same per-bucket argmax the aggregate does
    val d = Traffic.densify(events)
    val directD = Traffic.maxFlowSliding(d, "60 minutes", "1 minute")
    val scanD = Traffic.maxFlowSlidingScan(d)
    assert(directD.exceptAll(scanD).isEmpty && scanD.exceptAll(directD).isEmpty)
    // plan shape: no ×60 Expand, exactly one exchange (station hash)
    val plan = scan.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "the scan plan must not fan rows out")
    assert("Exchange".r.findAllIn(plan).size == 1, "one station-hash exchange only")
  }

  test("ordered-scan e2e equals the Expand e2e, Expand-free plan") {
    val events = Tables.load(spark, sf, "events")
    val direct = Traffic.maxLaneFlowE2e(events)
    val scan = Traffic.maxLaneFlowE2eScan(events)
    assert(direct.exceptAll(scan).isEmpty && scan.exceptAll(direct).isEmpty)
    val plan = scan.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "the scan e2e must not fan rows out")
  }

  test("density probe routes dense feeds to pre-agg and sparse to direct") {
    val events = Tables.load(spark, sf, "events")
    val sparse = Traffic.bucketDensity(events)
    val dense = Traffic.bucketDensity(Traffic.densify(events))
    info(f"density: raw = $sparse%.2f, densified = $dense%.2f")
    assert(sparse < Traffic.DenseThreshold && dense >= Traffic.DenseThreshold)
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    // sparse: raw readings go straight to the station exchange; dense:
    // the bucket pre-agg adds one exchange so the station shuffle
    // carries bucket maxima, not raw readings. Both feed the same
    // deque walk (no Expand in either plan).
    assert(exchanges(Traffic.maxFlowSlidingAuto(events)) == 1)
    assert(exchanges(Traffic.maxFlowSlidingAuto(Traffic.densify(events))) == 2)
    assert(!Traffic.maxFlowSlidingAuto(events)
      .queryExecution.executedPlan.toString.contains("Expand"))
    // both paths stay result-identical on the dense feed (associativity)
    val d = Traffic.densify(events)
    val a = Traffic.maxFlowSlidingAuto(d)
    val b = Traffic.maxFlowSlidingScan(d)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
