package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.Tables
import graft.streaming.TrafficStream
import graft.traffic.Traffic

/** The traced open loop into the streaming flagship (traffic_batch's
  * traced run).
  *
  * A generator thread, outside the query, replays the sf0.1 events in
  * event-time order on a fixed schedule: every [[TickMs]] it writes one
  * CSV file holding the events due by then, whether or not the query
  * keeps up, and stamps each event with the scheduled time of its tick
  * (its creation time). Event time is compressed by the replay rate
  * (400 events/s replays about 3 event-hours per second). The seed picks
  * [[OutOfOrderShare]] of the events to arrive up to 30 event-minutes
  * late, still inside the watermark, and [[LateShare]] to be held back
  * until the watermark has passed all their windows.
  *
  * The query is `TrafficStream.maxLaneFlowStream` at the reference's
  * 60 min / 1 min with a 2-hour watermark, written through the
  * committing `graft-lines` sink. One run holds the nominal rate for
  * the measured seconds (latency), then offers a burst above the
  * query's capacity (sustained rate: how fast it drains). Then a
  * far-future event closes every window, the held-back late events
  * follow, and the emitted rows are checked against
  * `Traffic.maxFlowSliding` over the on-time events.
  */
object StreamRun {
  val TickMs = 100L
  val NominalRate = 400.0
  val BurstRate = 5000.0
  val BurstSeconds = 2.0
  val OutOfOrderShare = 0.10
  val LateShare = 0.01
  val Delay = "2 hours"
  private val DelayUs = 2L * 3600L * 1000000L
  private val WindowUs = 3600L * 1000000L
  val MaxGeneratorLateMs = 1000L
  /** Windows closed in the first seconds, while the query's first
    * batches still run cold, are left out of the latency samples. */
  val LatencyFromMs = 2000L

  final case class Ev(id: Long, tsUs: Long, user: Long, kind: String, value: Double)

  /** One generator tick as it happened. */
  final case class Tick(scheduledMs: Long, writtenMs: Long, from: Int, until: Int, file: String)

  /** Rate phases (events/s, seconds); `due(n)` is when the n-th event of
    * the schedule is due, in ms after the start. */
  final class Schedule(phases: Seq[(Double, Double)]) {
    val ends: Seq[Double] = phases.scanLeft(0.0)(_ + _._2).tail
    def dueCount(ms: Double): Int = {
      var left = ms / 1000.0
      var n = 0.0
      phases.foreach { case (rate, secs) =>
        val d = math.max(0.0, math.min(left, secs)); n += d * rate; left -= d
      }
      n.toInt
    }
    def total: Int = dueCount(ends.last * 1000.0)
    def durationMs: Long = (ends.last * 1000.0).toLong
  }

  /** Writes `events` as one CSV file, made visible atomically, each
    * event stamped with its creation time `scheduledMs`. */
  def writeFile(dir: String, name: String, events: Seq[Ev], scheduledMs: Long): Unit = {
    val sb = new StringBuilder
    events.foreach { e =>
      sb.append(e.id).append(',').append(e.tsUs).append(',').append(e.user).append(',')
        .append(e.kind).append(',').append(e.value).append(',').append(scheduledMs).append('\n')
    }
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Writes `events` (already in arrival order) on `schedule`. */
  final class Generator(dir: String, events: IndexedSeq[Ev], schedule: Schedule)
      extends Thread("graftbench-generator") {
    val ticks = new java.util.concurrent.ConcurrentLinkedQueue[Tick]()
    @volatile var startMs = 0L

    override def run(): Unit = {
      startMs = System.currentTimeMillis()
      var k = 1L
      var sent = 0
      while (sent < events.size && (k - 1) * TickMs <= schedule.durationMs + TickMs) {
        val at = startMs + k * TickMs
        val now = System.currentTimeMillis()
        if (at > now) Thread.sleep(at - now)
        val due = math.min(events.size, schedule.dueCount((k * TickMs).toDouble))
        if (due > sent) {
          val name = f"ev-${ticks.size}%06d.csv"
          writeFile(dir, name, events.slice(sent, due), at)
          ticks.add(Tick(at, System.currentTimeMillis(), sent, due, name))
          sent = due
        }
        k += 1
      }
    }
  }

  val CsvSchema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts_us", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("created_ms", LongType)))

  def eventsFrame(spark: SparkSession, evs: Seq[Ev]): DataFrame = {
    import spark.implicits._
    evs.map(e => (e.id, e.tsUs, e.user, e.kind, e.value)).toDF("event_id", "ts_us", "user_id",
      "event_type", "value").select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
      col("user_id"), col("event_type"), col("value"))
  }

  def startQuery(spark: SparkSession, dir: String): StreamingQuery = {
    val src = spark.readStream.schema(CsvSchema).csv(s"$dir/in")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    TrafficStream.maxLaneFlowStream(src, delay = Delay, dur = "60 minutes", slide = "1 minute")
      .select(col("event_id"), concat_ws(",", unix_micros(col("window_start")),
        col("station_id"), col("lane"), col("max_flow"), col("event_id"),
        unix_micros(col("recorded_ts"))).as("line"))
      .writeStream.format("graft-lines").outputMode("append")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .start()
  }

  /** Seeded arrival order: out-of-order events move back by up to 30
    * event-minutes; late ones are returned apart. */
  def arrival(evs: IndexedSeq[Ev], seed: Long): (IndexedSeq[Ev], IndexedSeq[Ev]) = {
    val r = new scala.util.Random(seed)
    val tagged = evs.map { e =>
      val u = r.nextDouble()
      val shift = if (u < OutOfOrderShare) (1 + r.nextInt(30)) * 60L * 1000000L else 0L
      (e, u >= 1.0 - LateShare, e.tsUs + shift)
    }
    (tagged.filterNot(_._2).sortBy(t => (t._3, t._1.id)).map(_._1),
      tagged.filter(_._2).map(_._1))
  }

  final case class Result(ticks: Seq[Tick], progress: Seq[StreamingQueryProgress],
      genStartMs: Long, arrived: IndexedSeq[Ev], late: IndexedSeq[Ev], dir: String)

  /** One open-loop run: the schedule, then the closing event and the
    * late events. */
  def openLoop(spark: SparkSession, dir: String, evs: IndexedSeq[Ev], seed: Long,
      schedule: Schedule, close: Boolean = true): Result = {
    new File(s"$dir/in").mkdirs()
    val (order, lateAll) = arrival(evs, seed)
    val arrived = order.take(schedule.total)
    val lastTs = arrived.map(_.tsUs).max
    // only the late events whose time falls inside the replayed span
    val late = lateAll.filter(_.tsUs <= lastTs)
    val q = startQuery(spark, dir)
    val gen = new Generator(s"$dir/in", arrived, schedule)
    try {
      gen.start()
      gen.join()
      q.processAllAvailable()
      if (close) closeWindows(q, dir, lastTs, late)
    } finally {
      q.stop()
      gen.join()
    }
    Result(gen.ticks.asScala.toSeq, q.recentProgress.toSeq, gen.startMs, arrived, late, dir)
  }

  /** A far-future event closes every window; then the late events. */
  private def closeWindows(q: StreamingQuery, dir: String, lastTs: Long,
      late: IndexedSeq[Ev]): Unit = {
    // one far-future event moves the watermark past every window
    val flush = Ev(Long.MaxValue / 2, lastTs + 86400L * 1000000L, -1L, "flush", 0.0)
    writeFile(s"$dir/in", "flush.csv", Seq(flush), System.currentTimeMillis())
    q.processAllAvailable()
    if (late.nonEmpty) {
      writeFile(s"$dir/in", "late.csv", late, System.currentTimeMillis())
      q.processAllAvailable()
    }
  }

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue

  private def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1))) }

  /** The first epoch of every emitted window (by start, us) and the
    * digest of the emitted rows, read back from the sink's committed part
    * files in one pass. */
  def emitted(spark: SparkSession, dir: String): (Map[Long, Long], (Long, String)) = {
    val c = split(substring_index(col("value"), "|", -1), ",")
    val rows = spark.read.text(s"$dir/out/part-e*")
      .select(regexp_extract(input_file_name(), "part-e([0-9]+)-", 1).cast("long").as("epoch"),
        c.getItem(0).cast("long").as("w"), c.getItem(1).cast("long").as("station_id"),
        c.getItem(2).as("lane"), c.getItem(3).cast("double").as("max_flow"),
        c.getItem(4).cast("long").as("event_id"), c.getItem(5).cast("long").as("r"))
      .select(col("epoch"), col("w"), timestamp_micros(col("w")).as("window_start"),
        col("station_id"), col("lane"), col("max_flow"), col("event_id"),
        timestamp_micros(col("r")).as("recorded_ts"))
    val hashed = Data.withRowHash(rows, Seq("window_start", "station_id", "lane", "max_flow",
      "event_id", "recorded_ts"))
    val perWindow = hashed.groupBy(col("w"))
      .agg(min(col("epoch")), count(lit(1)), sum(col("h").cast("decimal(38,0)"))).collect()
    (perWindow.map(r => r.getLong(0) -> r.getLong(1)).toMap,
      (perWindow.map(_.getLong(2)).sum, perWindow.map(r => BigDecimal(r.getDecimal(3))).sum
        .bigDecimal.toPlainString))
  }

  /** Latency samples (ms) of the windows closed by events due between
    * [[LatencyFromMs]] and `untilMs` into the schedule. */
  def latencies(r: Result, firstEpoch: Map[Long, Long], untilMs: Long): Seq[Double] = {
    val ticks = r.ticks.sortBy(_.from)
    val prefixMax = r.arrived.scanLeft(Long.MinValue)((m, e) => math.max(m, e.tsUs)).tail.toArray
    val dueOf = new Array[Long](r.arrived.size)
    ticks.foreach(t => (t.from until t.until).foreach(i => dueOf(i) = t.scheduledMs))
    val emitAt = r.progress.map(p => p.batchId -> endMs(p)).toMap
    firstEpoch.toSeq.flatMap { case (w, epoch) =>
      val need = w + WindowUs + DelayUs
      val i = java.util.Arrays.binarySearch(prefixMax, need) match {
        case k if k >= 0 => // first index reaching `need`
          var j = k; while (j > 0 && prefixMax(j - 1) >= need) j -= 1; j
        case k => -k - 1
      }
      val at = if (i < prefixMax.length) dueOf(i) - r.genStartMs else -1L
      if (at >= LatencyFromMs && at <= untilMs && emitAt.contains(epoch))
        Some((emitAt(epoch) - dueOf(i)).toDouble)
      else None
    }
  }

  /** Which batch read each input file, from the file source's own log. */
  def filesReadBy(dir: String): Map[String, Long] = {
    val pathRe = "\"path\":\"([^\"]+)\"".r
    Option(new File(s"$dir/ckpt/sources/0").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.forall(_.isDigit))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().flatMap(pathRe.findFirstMatchIn(_)).map { m =>
          val p = m.group(1)
          p.substring(p.lastIndexOf('/') + 1) -> f.getName.toLong
        }.toList
        finally src.close()
      }.toMap
  }

  /** Events per second the query committed for the burst offered above
    * its capacity: the burst's events over the time from the burst's
    * start to the commit of the batch that read its last file. */
  def burstRate(r: Result, nominalMs: Long, readBy: Map[String, Long]): Double = {
    val burst = r.ticks.filter(_.scheduledMs - r.genStartMs > nominalMs)
    val last = burst.maxBy(_.scheduledMs)
    val committed = r.progress.find(p => readBy.get(last.file).contains(p.batchId)).map(endMs).get
    burst.map(t => t.until - t.from).sum * 1000.0 / (committed - (r.genStartMs + nominalMs))
  }

  /** The traced open loop: returns its checks and its per-layer
    * metrics, the stream's end-to-end numbers among them. */
  def traced(spark: SparkSession, root: String, seed: Long,
      seconds: Double): (Map[String, Boolean], Map[String, Double]) = {
    def fresh(name: String): String = {
      val d = new File(s"$root/stream/$name")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
      d.mkdirs()
      d.getPath
    }
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val evs = Tables.load(spark, s"$root/data/base", "events")
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"), col("event_type"),
        col("value")).orderBy(col("ts"), col("event_id")).collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toIndexedSeq
    // warm-up: a short open loop over a later stretch of the feed
    openLoop(spark, fresh("warm"), evs.drop(evs.size / 2), seed,
      new Schedule(Seq((NominalRate, 1.0))), close = false)

    val nominalMs = (seconds * 1000).toLong
    val schedule = new Schedule(Seq((NominalRate, seconds), (BurstRate, BurstSeconds)))
    val (res, rec) = Recorder.around(spark)(_ => openLoop(spark, fresh("run"), evs, seed, schedule))
    Main.log(s"open loop done: ${res.progress.size} batches")

    // the emitted rows against the batch twin over the on-time events
    val (firstEpoch, got) = emitted(spark, res.dir)
    val want = Data.digest(Traffic.maxFlowSliding(eventsFrame(spark, res.arrived),
      "60 minutes", "1 minute"))
    val dropped = res.progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val lateKeys = if (res.late.isEmpty) 0L else
      eventsFrame(spark, res.late)
        .select(window(col("ts"), "60 minutes", "1 minute").as("w"), col("user_id"))
        .distinct().count()
    val genLate = res.ticks.map(t => t.writtenMs - t.scheduledMs).foldLeft(0L)(math.max)
    val lat = latencies(res, firstEpoch, nominalMs)
    val readBy = filesReadBy(res.dir)
    val checks = Map(
      "stream rows equal the batch twin on the on-time events" -> (got == want),
      s"late rows reconcile with numRowsDroppedByWatermark ($dropped vs $lateKeys)" ->
        (res.late.nonEmpty && dropped == lateKeys),
      s"generator kept its schedule (late ${genLate} ms)" -> (genLate <= MaxGeneratorLateMs),
      s"latency samples (${lat.size})" -> (lat.size >= 1000))
    (checks, layers(res, rec, genLate, dropped, readBy) ++ Map(
      "stream.latency_p50_ms" -> quantile(lat, 0.5),
      "stream.latency_p99_ms" -> quantile(lat, 0.99),
      "stream.sustained_eps" -> burstRate(res, nominalMs, readBy)))
  }

  def layers(r: Result, rec: Recorder, genLateMs: Long, dropped: Long,
      readBy: Map[String, Long]): Map[String, Double] = {
    val ps = r.progress
    val data = ps.filter(_.numInputRows > 0)
    val start = ps.map(p => p.batchId -> startMs(p)).toMap
    val lag = r.ticks.flatMap(t => readBy.get(t.file).flatMap(start.get).map(s => (s - t.writtenMs).toDouble))
    // files queued behind each batch: written before it ended, read later
    val backlog = ps.map { p =>
      r.ticks.count(t => t.writtenMs < endMs(p) && readBy.get(t.file).exists(_ > p.batchId)).toDouble
    }
    val tsAt = r.ticks.sortBy(_.writtenMs)
    val arrivedMax = r.arrived.scanLeft(Long.MinValue)((m, e) => math.max(m, e.tsUs)).tail
    val wmLag = data.flatMap { p =>
      val wm = Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli * 1000L)
      val newest = tsAt.filter(_.writtenMs <= startMs(p)).lastOption.map(t => arrivedMax(t.until - 1))
      for (w <- wm; n <- newest if w > 0) yield (n - w) / 1e6
    }
    val state = data.flatMap(_.stateOperators.headOption)
    val addBatchDriver = data.map { p =>
      val t0 = startMs(p); val t1 = endMs(p)
      p.durationMs.getOrDefault("addBatch", 0L).toDouble - rec.jobCoveredMs(t0, t1)
    }
    Map(
      "source.lag_ms" -> median(lag),
      "source.backlog_files" -> backlog.foldLeft(0.0)(math.max),
      "stream.batches" -> ps.size.toDouble,
      "stream.batch_ms_p50" -> median(data.map(_.durationMs.get("triggerExecution").toDouble)),
      "stream.state_rows" -> state.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max),
      "stream.state_mb" -> state.map(_.memoryUsedBytes / 1e6).foldLeft(0.0)(math.max),
      "stream.state_commit_ms" -> median(state.map(_.commitTimeMs.toDouble)),
      "sink.commit_ms" -> median(addBatchDriver.map(math.max(0.0, _))),
      "stream.watermark_lag_s" -> median(wmLag),
      "stream.dropped_late" -> dropped.toDouble,
      "gen.late_ms" -> genLateMs.toDouble)
  }
}
