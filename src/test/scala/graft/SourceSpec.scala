package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.traffic.Traffic

/** §2.4 sources/sinks: real text/CSV/JSON files end-to-end, and the
  * SparkSessionExtensions SQL surface. */
class SourceSpec extends SparkSpec {
  import spark.implicits._

  test("text-file source drives the full extract pipeline (R1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toString
    // materialise real CSV lines from events, write as a text file,
    // re-read through spark.read.text — the reference's TextIO path.
    val lines = Traffic.csvLines(Tables.load(spark, sf, "events"))
    lines.select(concat_ws("|", $"event_id", $"line").as("value"))
      .write.mode("overwrite").text(s"$dir/lines")
    val fromFile = spark.read.text(s"$dir/lines")
      .select(
        split($"value", "\\|").getItem(0).cast("long").as("event_id"),
        split($"value", "\\|").getItem(1).as("line"))
    val viaFile = Traffic.extractLanes(fromFile)
    val direct = Traffic.extractLanes(lines)
    assert(viaFile.count() == direct.count())
    assert(viaFile.count() > 0)
    assert(viaFile.exceptAll(direct).isEmpty)
  }

  test("csv + json round-trips preserve rows and schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rt").toString
    val orders = Tables.load(spark, sf, "orders")
    orders.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val csvBack = spark.read.option("header", "true").schema(orders.schema).csv(s"$dir/csv")
    assert(csvBack.count() == orders.count())
    assert(csvBack.schema == orders.schema)
    orders.write.mode("overwrite").json(s"$dir/json")
    val jsonBack = spark.read.schema(orders.schema).json(s"$dir/json")
    assert(jsonBack.count() == orders.count())
  }

  test("orc round-trip preserves rows, schema, and pushes filters to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val orders = Tables.load(spark, sf, "orders")
    orders.write.mode("overwrite").orc(s"$dir/orc")
    val back = spark.read.orc(s"$dir/orc")
    assert(back.count() == orders.count())
    assert(back.schema == orders.schema)
    // predicate pushdown works on ORC exactly as on parquet
    val plan = back.where($"o_totalprice" > 1000.0)
      .select("o_orderkey").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"), plan)
  }

  test("custom expressions reach pure SQL; extensions wiring applies cleanly") {
    // getOrCreate() reuses the suite-wide context and ignores
    // withExtensions, so: (1) prove the extension class wires into a
    // SparkSessionExtensions without error; (2) drive the same
    // builders through SQL via the registry path.
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    graft.functions.VectorFunctions.register(spark)
    val dot = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql("SELECT graft_simhash60(array('a', 'b', 'a')) AS s").head().getLong(0)
    assert(sh > 0)
    // more of the table through SQL (registry path); that the
    // extension injects the same table is FunctionTableSpec's check
    assert(spark.sql("SELECT size(graft_shingles(array('a','b','c'), 2)) AS n")
      .head().getInt(0) == 2)
    assert(spark.sql("SELECT size(graft_grams(array('a','b','a','b'), 2)) AS n")
      .head().getInt(0) == 3) // non-distinct
    assert(spark.sql("SELECT size(graft_winnow('abcdefghij')) AS n").head().getInt(0) >= 1)
    assert(spark.sql("SELECT graft_bpe('thing') AS t").head().getSeq[String](0)
      == Seq("th", "ing"))
    assert(spark.sql(
      "SELECT graft_extract_reading('01/05/2024 03:04:05,42,FW2,N" + ",7" * 46 + "') IS NOT NULL")
      .head().getBoolean(0))
  }
  test("quarantine: bad records preserved byte-exact, good parsed, nothing lost (R17)") {
    import graft.sources.Quarantine
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("name", StringType)))
    val rows = Seq(
      (1L, """{"k": 7, "name": "ok"}"""),
      (2L, """{"k": 8}"""),                     // missing field -> good, null name
      (3L, """{"k": "not a number", "name": "x"}"""), // type failure -> quarantine
      (4L, """{"k": 9, "name": "fine"}"""),
      (5L, """not json at all"""),              // syntax failure -> quarantine
      (6L, """{"k": 10, "name": "tail"}extra""")) // trailing garbage: the
      // parser stops at the end of the first complete value and accepts
      // the row (measured engine contract) -> good
    val raw = rows.toDF("id", "payload")
    val (good, bad) = Quarantine.parseJson(raw, "payload", schema, Seq("id"))
    val g = good.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      Option(r.getString(2)))).toSet
    val b = bad.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(g == Set((1L, Some(7L), Some("ok")), (2L, Some(8L), None),
      (4L, Some(9L), Some("fine")), (6L, Some(10L), Some("tail"))), s"good $g")
    // quarantined payloads byte-exact
    val wantBad = rows.filter(r => Set(3L, 5L)(r._1)).toSet
    assert(b == wantBad, s"bad $b")
    // conservation: every input row lands exactly once
    assert(good.count() + bad.count() == raw.count())
    // the corrupt filter composes with further transforms without reparse
    assert(good.where(col("k") > 8).count() == 2)
  }
}
