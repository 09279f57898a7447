package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** What Spark ran for one benchmark operation. Times are milliseconds
  * since the epoch (listener clock) except where named otherwise. */
final class OpSched {
  var jobs = 0
  val jobWindows = mutable.Map.empty[Int, (Long, Long)]
  /** Task durations per stage, for the per-stage skew. */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  /** Operation wall time during which no job of it was running. */
  def driverGapMs(opStartMs: Long, opEndMs: Long): Long = {
    val busy = Tracer.unionNs(jobWindows.values.toSeq.map { case (s, e) =>
      (math.max(s, opStartMs), math.min(e, opEndMs))
    })
    math.max(0L, (opEndMs - opStartMs) - busy)
  }

  /** Slowest task over the median task, for the worst stage with at least
    * two tasks (1.0 when no stage ran two). */
  def taskSkew: Double = {
    val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Attributes Spark jobs, stages and task metrics to benchmark operations.
  *
  * Each operation runs under a Spark job group named by its id, but jobs
  * are charged to the operation running when they start, not to the group
  * they carry: engine code that launches jobs from pooled threads (the
  * k-NN trainers run two training loops as futures) carries whatever group
  * the pool thread inherited when it was created. The driver loop runs one
  * operation at a time and drains the listener bus before it moves on, so
  * "running when they start" is exact. Jobs outside any operation (model
  * checks) are ignored. */
final class OpListener extends SparkListener {
  private var current: Option[OpSched] = None
  private val stageOp = mutable.Map.empty[Int, OpSched]

  def begin(): OpSched = synchronized {
    val s = new OpSched
    current = Some(s)
    s
  }

  def end(): Unit = synchronized { current = None; stageOp.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.foreach { s =>
      s.jobs += 1
      s.jobWindows(e.jobId) = (e.time, Long.MaxValue)
      e.stageIds.foreach(stageOp(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    current.foreach { s =>
      s.jobWindows.get(e.jobId).foreach { case (st, _) =>
        s.jobWindows(e.jobId) = (st, e.time)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { s =>
      if (e.taskInfo != null)
        s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }
}
