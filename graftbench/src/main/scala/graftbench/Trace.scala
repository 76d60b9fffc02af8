package graftbench

import scala.collection.mutable

import org.apache.spark.GraftbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark listener counts for one traced interval: the scheduling,
  * executor, shuffle and memory layers under a call into graft. */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Array[Long]] // id -> [start, end]
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExec = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Array(e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_(1) = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExec = math.max(peakExec, m.peakExecutionMemory)
    }
  }

  def jobCount: Int = synchronized(jobs.size)

  /** Milliseconds of [from, to] during which at least one job ran. */
  def jobCoveredMs(from: Long, to: Long): Long = synchronized {
    val spans = jobs.values.map(j => (math.max(j(0), from),
      math.min(if (j(1) < 0) to else j(1), to))).filter(s => s._2 > s._1).toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    spans.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }

  def meanJobMs: Double = synchronized {
    val done = jobs.values.filter(_(1) >= 0).map(j => (j(1) - j(0)).toDouble)
    if (done.isEmpty) 0.0 else done.sum / done.size
  }
}

object Recorder {
  /** Runs `body` with a fresh recorder attached; the recorder has seen
    * every event of the interval when this returns. */
  def around[T](spark: SparkSession)(body: Recorder => T): (T, Recorder) = {
    val sc = spark.sparkContext
    GraftbenchBus.drain(sc)
    val r = new Recorder
    sc.addSparkListener(r)
    try {
      val out = body(r)
      GraftbenchBus.drain(sc)
      (out, r)
    } finally sc.removeSparkListener(r)
  }
}
