package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <root> <out.json>
  *        graftbench.Main prepare <table,...> - - <root> <out.json>
  *
  * `root` holds the generated inputs and working files; the raw
  * measurements go to `out.json` and `run.py` turns them into metrics.
  * Untraced runs (trace 0) set up a few times, then run timed passes
  * for `seconds`. Traced runs set up once, run a traced pass between two
  * untraced ones (the gap is the tracing overhead), then the per-layer
  * probe calls, all traced.
  */
object Main {
  val Cores = 4

  def session(root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/tmp")
      .config("spark.sql.warehouse.dir", s"$root/tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  /** Storage a pass left persisted: (RDD count, MB in memory and on disk). */
  def retained(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  /** Clears the session caches and unpersists every persisted RDD, so
    * no timed pass can time what an earlier pass left behind. */
  def dropCaches(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    require(sc.getPersistentRDDs.isEmpty && spark.sharedState.cacheManager.isEmpty,
      "persisted state survived the cache drop")
  }

  final case class OpResult(name: String, seconds: Double, rows: Long, hash: String,
      error: Option[String], jobs: Int = 0, phases: Map[String, Double] = Map.empty)

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString

  /** One call: build the frame, then run it into the digest sink. The
    * digest is the sink, so every timed row is also checked. Its Spark
    * jobs are counted (outside the timed interval), so every run can
    * tell which side of a size-adaptive fork a call took. */
  def runOp(op: Op, in: Inputs): OpResult = {
    val (res, rec) = Recorder.around(in.spark) { _ =>
      val t0 = System.nanoTime()
      try {
        val (rows, hash) = Data.digest(op.run(in))
        OpResult(op.name, secondsSince(t0), rows, hash, None)
      } catch { case NonFatal(e) => OpResult(op.name, secondsSince(t0), -1, "", Some(message(e))) }
    }
    res.copy(jobs = rec.jobCount)
  }

  /** Traced call: build, plan and execute timed apart, with the
    * listener counts of the call as its per-layer metrics. */
  def traceOp(op: Op, in: Inputs): OpResult = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var phases = Map.empty[String, Double]
    val (res, rec) = Recorder.around(in.spark) { rec =>
      try {
        val df = op.run(in)
        val tBuild = System.nanoTime()
        val buildJobs = rec.jobCount
        val digestFrame = Data.digestFrame(df)
        digestFrame.queryExecution.executedPlan
        val tPlan = System.nanoTime()
        val (rows, hash) = Data.readDigest(digestFrame)
        val tExec = System.nanoTime()
        phases = Map("phase.build_s" -> (tBuild - t0) / 1e9,
          "phase.build_jobs" -> buildJobs.toDouble,
          "phase.plan_s" -> (tPlan - tBuild) / 1e9,
          "phase.exec_s" -> (tExec - tPlan) / 1e9)
        OpResult(op.name, secondsSince(t0), rows, hash, None)
      } catch { case NonFatal(e) => OpResult(op.name, secondsSince(t0), -1, "", Some(message(e))) }
    }
    val w1 = System.currentTimeMillis()
    res.copy(jobs = rec.jobCount, phases = phases ++ Map(
      "sched.jobs" -> rec.jobCount.toDouble,
      "sched.stages" -> rec.stages.toDouble,
      "sched.tasks" -> rec.tasks.toDouble,
      "sched.job_ms_total" -> rec.meanJobMs * rec.jobCount,
      "exec.task_s" -> rec.taskMs / 1e3,
      "exec.cpu_s" -> rec.cpuNs / 1e9,
      "exec.gc_s" -> rec.gcMs / 1e3,
      "shuffle.write_mb" -> rec.shuffleWrite / 1e6,
      "shuffle.read_mb" -> rec.shuffleRead / 1e6,
      "mem.spill_mb" -> rec.spill / 1e6,
      "mem.peak_exec_mb" -> rec.peakExec / 1e6,
      "driver.self_s" -> ((w1 - w0) - rec.jobCoveredMs(w0, w1)) / 1e3))
  }

  /** A pass's wall time is the sum of its calls' times, so it leaves
    * out the listener-bus drains between calls. */
  final case class PassResult(ops: Seq[OpResult], persistedRdds: Int, retainedMb: Double) {
    def wall: Double = ops.map(_.seconds).sum
  }

  /** The given calls after a cache drop, run by `call` (plain or traced),
    * with what they left persisted. */
  def pass(in: Inputs, ops: Seq[Op], call: (Op, Inputs) => OpResult): PassResult = {
    dropCaches(in.spark)
    val results = ops.map(call(_, in))
    val (n, mb) = retained(in.spark)
    PassResult(results, n, mb)
  }

  def runPass(w: BatchWorkload, in: Inputs): PassResult = pass(in, w.pass, runOp)

  def tracePass(in: Inputs, ops: Seq[Op]): PassResult = pass(in, ops, traceOp)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, root, out) = args
    val seed = if (workload == "prepare") 0L else seedS.toLong
    val seconds = if (workload == "prepare") 0.0 else secondsS.toDouble
    val traced = traceS == "1"
    new File(s"$root/tmp").mkdirs()
    val json = new Json
    json.field("workload", workload)
    val code =
      try {
        if (workload == "prepare") prepare(json, root, seedS.split(',').toSeq)
        else runBatch(json, Workloads.batch(workload), root, seed, seconds, traced)
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          json.field("fatal", message(e))
          1
      }
    Files.writeString(Paths.get(out), json.render())
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  /** Generates the base inputs `tables` (once per checkout) and records
    * their digests. The seed's layout is written by run.py. */
  def prepare(json: Json, root: String, tables: Seq[String]): Unit = {
    val spark = session(root)
    try {
      val t0 = System.nanoTime()
      val made = Data.ensureBase(spark, s"$root/data", tables)
      json.digests("inputs", made.map { case (k, (n, h)) => (k, n, h) })
      log(f"inputs generated in ${secondsSince(t0)}%.1f s")
    } finally spark.stop()
  }

  def runBatch(json: Json, w: BatchWorkload, root: String, seed: Long,
      seconds: Double, traced: Boolean): Unit = {
    val dirs = Seq(s"$root/data/seed-$seed", s"$root/data/base")
    // set-up: session start, input registration and a warm pass
    val setups = mutable.ArrayBuffer.empty[Double]
    var in: Inputs = null
    var warm: PassResult = null
    for (i <- 0 until (if (traced) 1 else w.setups)) {
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val spark = session(root)
      in = new Inputs(spark, dirs, w.tables)
      warm = runPass(w, in)
      dropCaches(spark)
      setups += secondsSince(t0)
      log(f"setup ${i + 1}: ${setups.last}%.2f s; warm calls " +
        warm.ops.map(o => f"${o.name}=${o.seconds}%.2f").mkString(" "))
    }
    json.field("cores", Cores)
    json.field("setup_s", setups.toSeq)
    json.ops("warm", warm.ops)
    json.field("notes", in.notes.toMap)

    if (traced) {
      // a traced pass between two untraced ones: its gap to their median
      // is the tracing overhead, with warm-up drift cancelled
      val before = runPass(w, in)
      val traced = tracePass(in, w.pass)
      json.passes("passes", Seq(before, runPass(w, in)))
      json.passes("traced", Seq(traced))
      json.passes("probes", Seq(tracePass(in, w.probes)))
      json.field("notes", in.notes.toMap)
      if (w.tracesStream) {
        val (checks, layers) = StreamRun.traced(in.spark, root, seed, seconds)
        json.field("stream_checks", checks)
        json.field("stream_layers", layers)
      }
    } else {
      val passes = mutable.ArrayBuffer.empty[PassResult]
      val t0 = System.nanoTime()
      while (passes.size < w.passes || secondsSince(t0) < seconds) {
        passes += runPass(w, in)
        log(f"pass ${passes.size}: ${passes.last.wall}%.2f s")
      }
      json.passes("passes", passes.toSeq)
    }
  }
}
