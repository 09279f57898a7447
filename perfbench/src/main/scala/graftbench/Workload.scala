package graftbench

import org.apache.hadoop.fs.Path

/** One benchmark workload: a seeded input, a set-up that loads it, and a
  * closed-loop round of operations the driver thread repeats until the
  * run's time is up. Every operation checks its output against a model the
  * workload keeps outside the timed region. */
trait Workload {
  /** Generate the inputs and load them (bulk insert or index build). */
  def setup(): Unit
  /** One round of operations. */
  def round(): Unit
  /** The operations the set-up runs once at a tiny size, so that the
    * measured round does not pay their plan compilation and JIT warm-up. */
  def warmRound(): Unit
  /** Checks made once, after the timed loop. */
  def finish(): Unit = ()
  /** Input sizes, for provenance. */
  def sizes: Seq[(String, Long)]
}

object Workload {
  val Names: Seq[String] = Seq("lifecycle", "curate")

  def apply(name: String, h: Harness, dir: String, seed: Long,
      scale: Double): Workload = name match {
    case "lifecycle" => new Lifecycle(h, dir, seed, scale)
    case "curate" => new Curate(h, dir, seed, scale)
  }

  /** SplitMix64's finaliser: a well-mixed 64-bit function of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Register a graft catalog over `warehouse` under a name unique to
    * the instance directory `dir`: Spark keeps the first catalog built for
    * a name, so instances in one session must not share one. */
  def mountCatalog(h: Harness, dir: String, warehouse: String): String = {
    val name = "bench_" + new Path(dir).getName.filter(_.isLetterOrDigit)
    h.spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    h.spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    name
  }

  def deleteDir(h: Harness, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(h.spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Bytes under `dir` on the local filesystem. */
  def diskBytes(h: Harness, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(h.spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}
