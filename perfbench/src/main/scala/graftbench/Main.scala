package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's entry point.
  *
  * {{{
  * graftbench.Main --workload <lifecycle|curate> --seed <n>
  *   --seconds <s> --trace <0|1> --work-dir <dir> --out-dir <dir>
  *   [--git-sha <sha>] [--source-sha <sha>]
  * }}}
  *
  * `setup_s` is the Spark session start, plus the workload's warm-up
  * operations at a tiny size, plus the median of [[SetupReps]] input
  * generations and loads. Then the driver thread runs closed-loop rounds,
  * whole ones, until `--seconds` have passed.
  * With `--trace 1` every other round is traced and the per-layer metrics
  * come from those rounds. The last
  * stdout line is the result object; the line before it is provenance.
  * Both are also written under `--out-dir`, with the spans of a traced
  * run; `--work-dir` holds the run's tables and is emptied at the end. */
object Main {

  /** One run's outcome. `metrics` are the end-to-end ones, or the
    * per-layer ones for a traced run. */
  final case class Outcome(correct: Boolean, attempted: Int, failed: Int,
      metrics: Metrics.Values, provenance: Seq[(String, Any)],
      spans: Seq[Span], failures: Seq[String])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val o = run(opts)
    val outDir = new java.io.File(opts.getOrElse("out-dir",
      throw new IllegalArgumentException("missing --out-dir")))
    outDir.mkdirs()
    val tag = Seq("workload", "seed", "trace").map(opts(_)).mkString("-")
    val prov = Json.obj(Seq("provenance" -> Json.Raw(Json.obj(o.provenance))))
    val result = Json.obj(Seq("correct" -> o.correct,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> Json.Raw(Json.obj(o.metrics.map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj(Seq("value" -> (if (v.isFinite) v else 0.0),
          "unit" -> u)))
      }))))
    if (o.spans.nonEmpty)
      writeLines(new java.io.File(outDir, s"spans-$tag.jsonl"),
        o.spans.map(Json.span))
    writeLines(new java.io.File(outDir, s"result-$tag.json"),
      Seq(prov, result))
    o.failures.foreach(f => System.err.println(s"[perfbench] failure: $f"))
    println(prov)
    println(result)
  }

  /** Input scale of the set-up's warm-up. */
  val WarmScale = 0.01
  /** How many times the set-up generates and loads the inputs. */
  val SetupReps = 2

  /** One run, with the command line's options in `opts`. Tests may add
    * `scale`: the input size as a share of the benchmark's. */
  def run(opts: Map[String, String]): Outcome = {
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work-dir")
    val scale = opts.get("scale").fold(1.0)(_.toDouble)
    val cores = Runtime.getRuntime.availableProcessors()

    // set-up: the session; the workload's warm-up operations at a tiny
    // size; then the inputs generated and loaded `SetupReps` times, each
    // into fresh directories (the last one is kept)
    val t0 = System.nanoTime()
    val h = new Harness(session(work, cores))
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val warm = Workload(name, h, s"$work/warm", seed, WarmScale)
      warm.setup()
      h.recording = false
      warm.warmRound()
      h.recording = true
      deleteDir(s"$work/warm")
      val warmS = (System.nanoTime() - t1) / 1e9
      val loads = mutable.ArrayBuffer.empty[Double]
      var w: Workload = null
      for (rep <- 0 until SetupReps) {
        if (rep > 0) deleteDir(s"$work/rep${rep - 1}")
        val t2 = System.nanoTime()
        w = Workload(name, h, s"$work/rep$rep", seed, scale)
        h.tracer.enabled = trace && rep == SetupReps - 1
        w.setup()
        h.tracer.enabled = false
        loads += (System.nanoTime() - t2) / 1e9
      }
      val setupS = sessionS + warmS + Stats.median(loads.toSeq)
      val setupSpans = h.tracer.recorded.size

      // the closed loop: whole rounds until `seconds` have passed, at least
      // one; a traced run traces every other round, starting with the
      // first, and runs at least two
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val minRounds = if (trace) 2 else 1
      var rounds = 0
      val loop0 = System.nanoTime()
      val check0 = h.checkSeconds
      while (rounds < minRounds || System.nanoTime() < deadline) {
        h.setTraced(trace && rounds % 2 == 0)
        w.round()
        rounds += 1
      }
      h.setTraced(false)
      w.finish()
      val loopS = (System.nanoTime() - loop0) / 1e9

      val provenance = Seq(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "rounds" -> rounds, "setup_reps" -> SetupReps,
        "setup.session_s" -> sessionS, "setup.load_s" -> loads.mkString(","),
        "setup.warmup_s" -> warmS, "loop_s" -> loopS,
        "loop.checks_s" -> (h.checkSeconds - check0),
        "host_nproc" -> cores,
        "spark_master" -> h.spark.sparkContext.master,
        "spark_version" -> h.spark.version,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "java_version" -> System.getProperty("java.version"),
        "git_sha" -> opts.getOrElse("git-sha", "unknown"),
        "source_sha" -> opts.getOrElse("source-sha", "unknown"),
        "scale" -> scale) ++ w.sizes.map { case (k, v) => s"size.$k" -> v } ++
        Metrics.classSummary(h) ++ Metrics.kindSummary(h)
      val metrics =
        if (trace) Metrics.perLayer(h, rounds, setupSpans)
        else Metrics.endToEnd(h, setupS)
      Outcome(h.failed == 0 && metrics.forall(_._2._1.isFinite),
        h.attempted, h.failed, metrics, provenance, h.tracer.recorded,
        h.failures.toSeq)
    } finally {
      h.spark.stop()
      deleteDir(work)
    }
  }

  private def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteDir(d: String): Unit = {
    val f = new java.io.File(d)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  private def writeLines(f: java.io.File, lines: Seq[String]): Unit =
    java.nio.file.Files.write(f.toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
}

/** Just enough JSON for the benchmark's flat outputs. */
object Json {
  final case class Raw(s: String)

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isFinite) d.toString else "null"
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => value(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ": " + value(v) }
      .mkString("{", ", ", "}")

  def span(s: Span): String = obj(Seq("id" -> s.id, "parent" -> s.parent,
    "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs,
    "end_ns" -> s.endNs))
}
