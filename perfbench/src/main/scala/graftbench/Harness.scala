package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.Bridge
import scala.collection.mutable

/** One traced operation: what Spark ran for it, the wall time no job was
  * running, and the timeline listings and commit-file opens it caused. */
final case class OpRecord(id: Int, kind: String, cls: String,
    sched: OpSched, gapS: Double, listings: Long, opens: Long)

/** The closed loop's bookkeeping: times every operation, counts attempts
  * and failures, and — in traced rounds — records spans, Spark scheduling
  * per operation and the timeline counters.
  *
  * Every operation has a `kind` (what it does, e.g. `cow_commit`) and a
  * `cls`, the end-to-end class its latency is reported under: `write`,
  * `read` or `bulk`. Checks against the workload's model run after the
  * timed body and outside it. */
final class Harness(val spark: SparkSession) {
  val tracer = new Tracer
  private val listener = new OpListener
  private var traced = false
  private var nextOp = 0
  /** False while a round only warms up: its operations are checked and
    * counted, but add no samples. */
  var recording = true

  var attempted = 0
  var failed = 0
  /** Seconds spent in checks, outside the timed regions. */
  var checkSeconds = 0.0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Untraced latencies by class and kind (end-to-end metrics). */
  val latency = mutable.Map.empty[(String, String),
    mutable.ArrayBuffer[Double]]
  /** Latencies by kind, split by whether the round was traced. */
  val kindLatency = mutable.Map.empty[(String, Boolean),
    mutable.ArrayBuffer[Double]]
  /** Items and seconds of untraced bulk operations. */
  var bulkItems = 0L
  var bulkSeconds = 0.0

  /** Traced-round measurements, one per operation. */
  val records = mutable.ArrayBuffer.empty[OpRecord]
  /** Named per-layer samples the workloads add in traced rounds. */
  val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def isTraced: Boolean = traced

  def setTraced(on: Boolean): Unit = if (on != traced) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else {
      Bridge.waitForListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    traced = on
    tracer.enabled = on
  }

  /** Run a query: the call that builds it and its physical planning under
    * the span `<layer>.plan`, its execution under `<layer>.exec`. */
  def query(layer: String)(mk: => DataFrame): (DataFrame, Array[Row]) = {
    val df = tracer.span(s"$layer.plan") {
      val d = mk
      d.queryExecution.executedPlan
      d
    }
    (df, tracer.span(s"$layer.exec")(df.collect()))
  }

  /** A per-layer sample, kept in traced rounds only. */
  def sample(name: String, v: Double): Unit = if (traced) record(name, v)

  /** A per-layer sample kept in every round. */
  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Run one timed operation, then `check` its result against the
    * workload's model outside the timed region. A throw or a failed check
    * counts the operation as failed; failed operations add no latency
    * sample. `items` > 0 marks a bulk operation, reported as items per
    * second. Class `check` is an untimed verification counted only as an
    * attempt. */
  def op[T](kind: String, cls: String, items: Long = 0L)(body: => T)(
      check: T => Unit): Unit = {
    val id = nextOp
    nextOp += 1
    attempted += 1
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    var sched: OpSched = null
    var l0, o0 = 0L
    if (traced) {
      Bridge.waitForListeners(sc)
      sched = listener.begin()
      l0 = graft.format.Timeline.hoodieListings.get()
      o0 = graft.format.Timeline.commitFileOpens.get()
      tracer.beginOp(id)
    }
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.span(s"op.$kind")(body))
      catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    sc.clearJobGroup()
    tracer.endOp()
    if (traced) {
      Bridge.waitForListeners(sc)
      listener.end()
      records += OpRecord(id, kind, cls, sched,
        sched.driverGapMs(wall0, wall1) / 1e3,
        graft.format.Timeline.hoodieListings.get() - l0,
        graft.format.Timeline.commitFileOpens.get() - o0)
    }
    pending.clear()
    val c0 = System.nanoTime()
    res match {
      case Left(e) =>
        pending += s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      case Right(v) =>
        try check(v)
        catch { case e: Exception =>
          pending += s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
    }
    checkSeconds += (System.nanoTime() - c0) / 1e9
    if (pending.nonEmpty) {
      failed += 1
      for (m <- pending) {
        if (failures.size < 20) failures += s"$kind: $m"
        System.err.println(s"[perfbench] FAIL $kind: $m")
      }
    } else if (recording && cls != "check") {
      kindLatency.getOrElseUpdate((kind, traced),
        mutable.ArrayBuffer.empty) += secs
      if (!traced) {
        latency.getOrElseUpdate((cls, kind), mutable.ArrayBuffer.empty) += secs
        if (items > 0) { bulkItems += items; bulkSeconds += secs }
      }
    }
  }

  private val pending = mutable.ArrayBuffer.empty[String]

  /** Inside a check: record a mismatch between `got` and the model. */
  def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) pending += s"$what: got $got, want $want"
}
